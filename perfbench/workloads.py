"""The benchmark workloads and the run context they share.

Each workload is a closed loop with one caller: set-up (session, pre-seeded
marts, warm-up), then timed passes over a fixed amount of work, each pass
starting from the same pristine copy of the marts, then output checks
outside the timed phase. The pass repeats until ``--seconds`` have passed.
A traced run makes exactly two passes: one untraced, one with spans and
job attribution, and reports the per-layer metrics of the second.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import shutil
import time
import traceback
from contextlib import nullcontext
from dataclasses import dataclass, field

import eventlog
import gen
from measure import (
    dir_bytes,
    host_facts,
    median,
    percentile,
    process_age_s,
    steal_share,
    supported_percentiles,
    tree_cpu_s,
    tree_peak_rss_mb,
)
from tracing import Tracer, ancestors, child_coverage, self_times, span_id

# The driver heap, through SPARK_DRIVER_MEMORY (get_spark's default is 8g):
# small enough that runs on a shared 4-vCPU host do not compete for memory.
# It is also the -Xms and pre-touched, so it is a fixed part of peak_rss_mb.
DRIVER_HEAP = "1g"
KEYS_TRAFEGO = ["id_anuncio", "data_metrica"]
STREAM_TIMEOUT_S = 120
ADS_SCHEMA = (
    "id_anuncio string, data_metrica date, clicks int, prints int, cost double, "
    "units_quantity int, total_amount double, organic_items_quantity int"
)

# Wall-clock timings (set-up wall, wall_s, op latency) are printed and kept
# in result.json but are not gated: on a shared VM the hypervisor steals
# 2-20% of CPU time in bursts, and their spread across runs (IQR/median
# 0.30-0.55) exceeds any usable bound. setup_s and cpu_s are CPU seconds,
# which leave out stolen time, and they leave out the JIT compiler threads,
# whose work during a pass depends on warm-up history.
END_TO_END = {
    "setup_s": "s",
    "cpu_s": "s",
    "peak_rss_mb": "MiB",
    "stored_mb": "MiB",
}

SEMANTIC_TAU = 0.35  # as scripts/run_corpus.py passes it for the synthetic embeddings
TABLES = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem", "events",
          "documents", "embeddings")
# Catalog rows of the analyst workload: a short row where construction and
# planning dominate, a heavy JVM row, a Python-worker row and a consumer of
# a materialized side mart.
ANALYST_ROWS = (
    "point_lookup_enrichment",
    "price_mad_by_returnflag",
    "jpeg_decode_stats",
    "simhash_near_pairs",
)
# The operators and sinks ingest_batch calls, by the names
# plans/corpus_pipeline.py imports them under.
CORPUS_OPERATORS = (
    "update_signature_mart",
    "incremental_candidate_pairs",
    "verify_candidate_pairs",
    "quality_features",
    "connected_components",
    "keep_best_per_cluster",
    "semantic_contamination",
    "chunk_documents",
    "pack_sequences",
    "assemble_packs",
    "shuffle_shards",
    "dsir_importance_weights",
    "learn_bpe_merges",
    "check_not_null",
    "check_unique",
    "dq_report",
)
CORPUS_SINKS = ("transactional_upsert_to_path", "upsert_to_path", "overwrite_path", "replace_groups_to_path")

PLAN_FNS = (
    "sync_catalog",
    "sync_listings",
    "consolidate_mapa",
    "transform_orders",
    "process_traffic_tasks",
    "consolidate_daily",
)

PER_LAYER = {
    "run_daily.jobs_per_day": "count",
    "run_daily.count_s": "s",
    "sources.readers.rescan_ratio": "ratio",
    "sources.sinks.calls": "count",
    "sources.sinks.self_s": "s",
    "sources.sinks.bytes_written_mb": "MiB",
    "sources.sinks.rows_written_per_delta_row": "ratio",
    **{f"plans.{fn}.s": "s" for fn in PLAN_FNS},
    "testdata_queries.construct_s": "s",
    "testdata_queries.plan_s": "s",
    "testdata_queries.execute_s": "s",
    "testdata_queries.mart_build_s": "s",
    **{f"testdata_queries.{row}.s": "s" for row in ANALYST_ROWS},
    **{f"operators.{fn}.s": "s" for fn in CORPUS_OPERATORS},
    "streaming.batches": "count",
    "streaming.add_batch_s": "s",
    "streaming.offsets_s": "s",
    "streaming.commit_s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.task_run_s": "s",
    "spark.task_cpu_s": "s",
    "spark.task_gc_s": "s",
    "spark.task_noncpu_s": "s",
    "spark.shuffle_write_mb": "MiB",
    "spark.spill_mb": "MiB",
    "spark.task_skew": "ratio",
    "trace.wall_s": "s",
    "trace.overhead_s": "s",
    "trace.op_coverage_min": "ratio",
}


@dataclass
class PassResult:
    wall_s: float
    cpu_s: float  # user + system CPU of the process tree over the pass
    ops: list  # latency of each completed op, seconds
    attempted: int
    failed: int
    epoch_start: float
    epoch_end: float
    info: dict = field(default_factory=dict)


class Context:
    def __init__(self, args, work: str, cache: str):
        self.args = args
        self.work_dir = work
        self.cache = cache
        self.trace = bool(args.trace)
        self.spark = None
        self.tracer: Tracer | None = None
        self.errors: list[str] = []
        self.gen_s = 0.0
        self.gen_cpu_s = 0.0
        self.setup_s: float | None = None  # CPU seconds, like cpu_s
        self.setup_wall_s: float | None = None
        self.passes: list[PassResult] = []
        self.stored_bytes = 0
        self.layer: dict[str, float] = {}
        self.layer_setup: dict[str, float] = {}  # per-layer figures taken during set-up
        self.marks: dict[str, float] = {}

    def mark(self, name: str) -> None:
        """Record the process age at a set-up milestone."""
        self.marks[name] = process_age_s()

    # -- paths ---------------------------------------------------------
    def work(self, name: str) -> str:
        return os.path.join(self.work_dir, name)

    def snapshot(self, path: str) -> None:
        shutil.copytree(path, path + ".pristine")

    def restore(self, path: str) -> None:
        shutil.rmtree(path)
        shutil.copytree(path + ".pristine", path)

    def error(self, msg: str) -> None:
        self.errors.append(msg)

    # -- session -------------------------------------------------------
    def start_spark(self):
        from pipeline_etl_ecommerce_spark.session import get_spark

        conf = {
            "spark.sql.warehouse.dir": self.work("warehouse"),
            # A fixed, pre-touched driver heap: without it the JVM's RSS
            # follows heap growth decisions and peak_rss_mb swings by a
            # fifth between seeds. A fixed set of JIT compiler threads, so
            # cpu_s can leave all of their time out.
            "spark.driver.extraJavaOptions": (
                f"-Xms{DRIVER_HEAP} -XX:+AlwaysPreTouch -XX:-UseDynamicNumberOfCompilerThreads"
            ),
        }
        if self.trace:
            os.makedirs(self.work("eventlog"))
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
                "spark.eventLog.dir": "file://" + self.work("eventlog"),
            })
        self.spark = get_spark(f"perfbench-{self.args.workload}", extra_conf=conf)
        self.spark.sparkContext.setLogLevel("ERROR")
        self.mark("session")
        return self.spark

    def setup_done(self) -> None:
        self.setup_wall_s = process_age_s() - self.gen_s
        self.setup_s = tree_cpu_s() - self.gen_cpu_s

    # -- timed phase ---------------------------------------------------
    def run_passes(self, one_pass, marts: str) -> None:
        """Untraced: repeat ``one_pass`` until ``--seconds`` have passed.
        Traced: one untraced pass, then one traced pass."""
        self.setup_done()
        if self.trace:
            self.passes.append(one_pass(None))
            self.restore(marts)
            self.tracer = Tracer(self.spark)
            self.passes.append(one_pass(self.tracer))
            self.tracer.unwrap_all()
            return
        start = time.perf_counter()
        while True:
            if self.passes:
                self.restore(marts)
            self.passes.append(one_pass(None))
            if time.perf_counter() - start >= self.args.seconds:
                return

    # -- driver --------------------------------------------------------
    def run(self, workload) -> dict | None:
        facts_start = host_facts()
        t, c = time.perf_counter(), tree_cpu_s()
        self.inputs = gen.cached_inputs(self.cache, self.args.workload, self.args.seed)
        self.gen_s, self.gen_cpu_s = time.perf_counter() - t, tree_cpu_s() - c
        try:
            workload(self)
        except Exception:
            self.error("workload raised:\n" + traceback.format_exc())
        peak_mb = tree_peak_rss_mb()
        if self.spark is not None:
            self.spark.stop()
            _stop_jvm()
        if self.trace and len(self.passes) == 2 and not self.errors:
            try:
                self.layer = workload.layer_fn(self)
            except Exception:
                self.error("per-layer metrics failed:\n" + traceback.format_exc())
        facts_end = host_facts()
        if not self.passes:
            return None
        return self._result(peak_mb, facts_start, facts_end)

    def _result(self, peak_mb, facts_start, facts_end) -> dict:
        ops = [x for p in self.passes for x in p.ops]
        attempted = max(sum(p.attempted for p in self.passes), 1)
        failed = sum(p.failed for p in self.passes)
        if self.errors and failed == 0:
            failed = attempted
        walls = [p.wall_s for p in self.passes]
        lines = [f"# host nproc={facts_start['nproc']} loadavg start={facts_start['loadavg']} "
                 f"end={facts_end['loadavg']} cpu steal={steal_share(facts_start, facts_end):.3f}"]
        lines += [f"# set-up mark {k}: {v:.2f} s" for k, v in self.marks.items()]
        lines += [f"# error: {e}" for e in self.errors]
        if self.trace:
            metrics = {k: {"value": self.layer.get(k, 0), "unit": u} for k, u in PER_LAYER.items()}
            if not self.layer:
                failed = attempted
        else:
            values = {
                "setup_s": self.setup_s or 0.0,
                "cpu_s": median([p.cpu_s for p in self.passes]),
                "peak_rss_mb": peak_mb,
                "stored_mb": self.stored_bytes / 2**20,
            }
            samples = {"setup_s": 1, "cpu_s": len(self.passes), "peak_rss_mb": 1, "stored_mb": 1}
            metrics = {k: {"value": values[k], "unit": u} for k, u in END_TO_END.items()}
            lines += [f"{k} = {values[k]:.6g} {END_TO_END[k]} (n={samples[k]})" for k in END_TO_END]
            lines.append(f"setup wall = {self.setup_wall_s:.6g} s (n=1, not gated)")
            lines.append(f"wall_s = {median(walls):.6g} s (n={len(walls)}, not gated)")
            if ops:
                qs = supported_percentiles(len(ops)) or [50]
                tail = ", ".join(f"p{q:g}={percentile(ops, q):.4f}" for q in qs)
                lines.append(f"op latency s: {tail} (n={len(ops)}, not gated)")
        lines.append(f"ops attempted={attempted} failed={failed} passes={len(self.passes)}")
        return {
            "correct": failed == 0 and not self.errors and bool(ops),
            "attempted": attempted,
            "failed": failed,
            "metrics": metrics,
            "lines": lines,
            "details": {
                "host_start": facts_start,
                "host_end": facts_end,
                "cpu_steal_share": steal_share(facts_start, facts_end),
                "gen_s": self.gen_s,
                "setup_wall_s": self.setup_wall_s,
                "setup_marks": self.marks,
                "passes": [p.__dict__ for p in self.passes],
                "errors": self.errors,
                "per_layer": self.layer,
            },
        }


def _stop_jvm() -> None:
    """Shut the py4j gateway and wait for the JVM to exit, so no process
    outlives the run."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=120)


# ---------------------------------------------------------------------------
# shared per-layer arithmetic (traced pass)
# ---------------------------------------------------------------------------


def _layer_common(ctx: Context, payload_bytes: float, delta_rows: float, op_name: str) -> dict:
    untraced, traced = ctx.passes
    spans = ctx.tracer.spans
    selfs = self_times(spans)
    log = eventlog.parse(eventlog.find_log(ctx.work("eventlog")))
    jobs = eventlog.jobs_between(log, traced.epoch_start * 1e3, traced.epoch_end * 1e3)
    stages = eventlog.stages_of(log, jobs)

    def in_sink(job_id: int) -> bool:
        sid = span_id(log.jobs[job_id].description)
        return sid is not None and any(a.name.startswith("sources.sinks.") for a in ancestors(spans, sid))

    sink_spans = [s for s in spans if s.name.startswith("sources.sinks.")]
    sink_stages = eventlog.stages_of(log, [j for j in jobs if in_sink(j)])
    ops = [s for s in spans if s.name == op_name]

    def in_op(job_id: int) -> bool:
        sid = span_id(log.jobs[job_id].description)
        return sid is not None and any(a.name == op_name for a in ancestors(spans, sid))

    out = {
        "_op_jobs": sum(1 for j in jobs if in_op(j)),
        "run_daily.count_s": sum(s.duration for s in spans if s.name == "run_daily.count"),
        "sources.readers.rescan_ratio": eventlog.json_scan_bytes(stages) / payload_bytes if payload_bytes else 0.0,
        "sources.sinks.calls": len(sink_spans),
        "sources.sinks.self_s": sum(selfs[s.sid] for s in sink_spans),
        "sources.sinks.bytes_written_mb": sum(st.output_bytes for st in sink_stages) / 2**20,
        "sources.sinks.rows_written_per_delta_row":
            sum(st.output_records for st in sink_stages) / delta_rows if delta_rows else 0.0,
        **{f"plans.{fn}.s": sum(selfs[s.sid] for s in spans if s.name == f"plans.{fn}") for fn in PLAN_FNS},
        **eventlog.summary(log, jobs),
        "trace.wall_s": traced.wall_s,
        "trace.overhead_s": traced.wall_s - untraced.wall_s,
        "trace.op_coverage_min": min(child_coverage(spans, s.sid) for s in ops) if ops else 0.0,
    }
    ctx.tracer.dump(ctx.work("spans.jsonl"))
    return out


def _payload_bytes(paths) -> float:
    return float(sum(os.path.getsize(p) for p in paths))


# ---------------------------------------------------------------------------
# daily_marts: the production cron path (scripts/run_daily.run_day) and the
# traffic worker (streaming.pipelines.traffic_stream) that follows it
# ---------------------------------------------------------------------------

DAILY_SETUP_DAYS = 1  # the pre-seed drop and its worker drain are the warm-up


def _daily_day_problems(stats: dict, day: dict, truth: dict) -> list[str]:
    want = {
        "relatorio_diario": truth["channels"],
        "mapa_produtos_anuncios": truth["channels"],
        "vendas_financeiro": day["items"],
        "trafego_diario": truth["listings"],
    }
    return [f"{day['day']}: {k}={stats.get(k)} want {v}" for k, v in want.items() if stats.get(k) != v]


def _version_counts(df, col: str) -> dict[str, int]:
    """Rows per version suffix (`` v<n>``) of a name column."""
    from pyspark.sql import functions as F

    rows = df.groupBy(F.regexp_extract(col, r" v(\d+)$", 1).alias("v")).count().collect()
    return {r["v"]: r["count"] for r in rows}


def _daily_mart_problems(spark, marts: str, days: list, truth: dict) -> list[str]:
    from pyspark.sql import functions as F

    problems = []
    last = days[-1]
    rel = spark.read.parquet(os.path.join(marts, "relatorio_diario"))
    got = {
        str(r["d"]): r
        for r in rel.groupBy(F.col("data_relatorio").alias("d")).agg(
            F.count("*").alias("rows"),
            F.countDistinct("id_anuncio_variacao").alias("keys"),
            F.sum("vendas_totais_qtd").alias("units"),
            F.sum("faturamento_total").alias("revenue"),
        ).collect()
    }
    if sorted(got) != [d["day"] for d in days]:
        problems.append(f"relatorio_diario days {sorted(got)}")
    for d in days:
        r = got.get(d["day"])
        if r is None:
            continue
        if r["rows"] != truth["channels"] or r["keys"] != truth["channels"]:
            problems.append(f"relatorio_diario {d['day']}: rows={r['rows']} keys={r['keys']}")
        if r["units"] != d["units"]:
            problems.append(f"relatorio_diario {d['day']}: units={r['units']} want {d['units']}")
        if abs(float(r["revenue"]) - d["revenue"]) > 1e-6 * max(1.0, d["revenue"]):
            problems.append(f"relatorio_diario {d['day']}: revenue={r['revenue']} want {d['revenue']}")
    want_rows = {
        "produtos_catalogo": (truth["products"], ["sku"]),
        "anuncios_canais": (truth["channels"], ["id_anuncio_canal"]),
        "mapa_produtos_anuncios": (truth["channels"], ["id_anuncio_canal"]),
        "vendas_financeiro": (last["items_total"], ["id_ordem", "id_anuncio", "id_variacao"]),
        "trafego_diario": (truth["listings"] * len(days), KEYS_TRAFEGO),
    }
    for name, (want, keys) in want_rows.items():
        n, k = spark.read.parquet(os.path.join(marts, name)).agg(
            F.count("*"), F.countDistinct(F.struct(*keys))).first()  # struct: null-safe keys
        if n != want or k != want:
            problems.append(f"{name}: rows={n} keys={k} want {want}")
    # re-sent products and listings carry their latest version; a sink
    # that kept the first row of a key would keep version 0
    for name, col, want in (("produtos_catalogo", "nome_produto", last["product_versions"]),
                            ("anuncios_canais", "titulo_anuncio", last["listing_versions"])):
        got_v = _version_counts(spark.read.parquet(os.path.join(marts, name)), col)
        if got_v != want:
            problems.append(f"{name}: rows per version {got_v} want {want}")
    # every day's traffic holds the worker's revised re-fetch, which
    # replaced what run_day wrote
    traffic = {
        str(r["d"]): {"rows": r["rows"], "visits": r["visits"], "clicks": r["clicks"], "prints": r["prints"]}
        for r in spark.read.parquet(os.path.join(marts, "trafego_diario"))
        .groupBy(F.col("data_metrica").alias("d")).agg(
            F.count("*").alias("rows"),
            F.sum("visitas_totais").alias("visits"),
            F.sum("cliques_ads").alias("clicks"),
            F.sum("impressoes_ads").alias("prints"),
        ).collect()
    }
    if traffic != last["traffic"]:
        problems.append(f"trafego_diario per day {traffic} want {last['traffic']}")
    return problems


def daily_marts(ctx: Context) -> None:
    import run_daily

    from pipeline_etl_ecommerce_spark import schemas

    root, truth = ctx.inputs
    days = truth["days"]
    spark = ctx.start_spark()
    from pipeline_etl_ecommerce_spark.streaming import pipelines  # parses DDL: needs a session

    marts = ctx.work("marts")

    def run(day):
        return run_daily.run_day(spark, os.path.join(root, day["dir"]), marts, dt.date.fromisoformat(day["day"]))

    def drain(day) -> list:
        """Run the traffic worker over the day's task files, one file per
        micro-batch, into ``trafego_diario``; returns the progress of the
        batches that read input."""
        w = os.path.join(root, day["dir"], "worker")
        visits = spark.read.schema(schemas.MELI_VISITS).json(os.path.join(w, "visits.jsonl"))
        ads = spark.read.schema(ADS_SCHEMA).json(os.path.join(w, "ads_metrics.jsonl"))
        ckpt = ctx.work("checkpoint")
        shutil.rmtree(ckpt, ignore_errors=True)
        q = pipelines.traffic_stream(spark, os.path.join(w, "tasks"), visits, ads,
                                     os.path.join(marts, "trafego_diario"), ckpt, max_files_per_trigger=1)
        if not q.awaitTermination(STREAM_TIMEOUT_S):
            q.stop()
            raise RuntimeError(f"traffic_stream did not drain {w} in {STREAM_TIMEOUT_S} s")
        if q.exception() is not None:
            raise RuntimeError(str(q.exception()))
        return [p for p in q.recentProgress if p["numInputRows"] > 0]

    for day in days[:DAILY_SETUP_DAYS]:
        run(day)
        drain(day)
        ctx.mark(f"day {day['day']}")
    ctx.snapshot(marts)
    timed = days[DAILY_SETUP_DAYS:]
    attempted = len(timed) + sum(d["worker_files"] for d in timed)

    def one_pass(tracer):
        if tracer is not None:
            _trace_run_daily(tracer, run_daily, spark)
            _trace_streaming(tracer, pipelines)
        ops, progress, failed, delta_rows = [], [], 0, 0
        e0, t0, c0 = time.time(), time.perf_counter(), tree_cpu_s()
        for day in timed:
            t = time.perf_counter()
            try:
                with tracer.span("run_daily.run_day") if tracer is not None else nullcontext():
                    stats = run(day)
                ops.append(time.perf_counter() - t)
                delta_rows += sum(stats.values())
                bad = _daily_day_problems(stats, day, truth)
            except Exception:
                ops.append(time.perf_counter() - t)
                bad = [f"run_day {day['day']} raised:\n" + traceback.format_exc()]
            if bad:
                failed += 1
                ctx.errors.extend(bad)
            try:
                batches = drain(day)
            except Exception:
                batches = []
                ctx.error(f"traffic worker {day['day']} raised:\n" + traceback.format_exc())
            # one micro-batch per task file (numInputRows counts every scan
            # of the batch, so it is not the file's row count)
            if len(batches) != day["worker_files"]:
                failed += day["worker_files"]
                ctx.error(f"{day['day']}: {len(batches)} micro-batches for {day['worker_files']} task files")
            ops.extend(p["durationMs"]["triggerExecution"] / 1e3 for p in batches)
            progress.extend(p.json for p in batches)
        wall, e1, cpu = time.perf_counter() - t0, time.time(), tree_cpu_s() - c0
        if tracer is not None:
            tracer.unwrap_all()
        bad = _daily_mart_problems(spark, marts, days, truth)
        if bad:
            ctx.errors.extend(bad)
            failed = attempted
        return PassResult(wall, cpu, ops, attempted, min(failed, attempted), e0, e1,
                          {"delta_rows": delta_rows, "progress": progress})

    ctx.run_passes(one_pass, marts)
    ctx.stored_bytes = dir_bytes(marts)


def _trace_run_daily(tracer: Tracer, run_daily, spark) -> None:
    """Spans around the public functions where scripts/run_daily.py
    imports them, plus the driver's own counts and mart reads."""
    tracer.wrap(run_daily, "read_json_payloads", "sources.readers.read_json_payloads")
    tracer.wrap(run_daily, "upsert_to_path", "sources.sinks.upsert_to_path")
    tracer.wrap(run_daily, "append_to_path", "sources.sinks.append_to_path")
    for fn in PLAN_FNS:
        tracer.wrap(run_daily, fn, f"plans.{fn}")
    df_cls = type(spark.range(0))
    tracer.wrap(df_cls, "count", "run_daily.count", under="run_daily.run_day")
    tracer.wrap(type(spark.read), "parquet", "run_daily.read_marts", under="run_daily.run_day")
    tracer.wrap(type(spark), "createDataFrame", "run_daily.create_frame", under="run_daily.run_day")


def _trace_streaming(tracer: Tracer, pipelines) -> None:
    """Spans around the functions streaming/pipelines.py imports, and one
    span per micro-batch around the function it hands to foreachBatch."""
    from pyspark.sql.streaming import DataStreamWriter

    tracer.wrap(pipelines, "process_traffic_tasks", "plans.process_traffic_tasks")
    tracer.wrap(pipelines, "upsert_to_path", "sources.sinks.upsert_to_path")
    orig = DataStreamWriter.foreachBatch

    def foreach_batch(self, func):
        def traced(df, batch_id):
            with tracer.span("streaming.batch"):
                return func(df, batch_id)

        return orig(self, traced)

    tracer.patch(DataStreamWriter, "foreachBatch", foreach_batch)


def _streaming_layers(progress: list[dict]) -> dict:
    dur = [p["durationMs"] for p in progress]
    return {
        "streaming.batches": len(progress),
        "streaming.add_batch_s": sum(d.get("addBatch", 0) for d in dur) / 1e3,
        "streaming.offsets_s": sum(d.get("latestOffset", 0) + d.get("getBatch", 0) for d in dur) / 1e3,
        "streaming.commit_s": sum(d.get("walCommit", 0) + d.get("commitOffsets", 0) for d in dur) / 1e3,
    }


def _daily_layers(ctx: Context) -> dict:
    root, truth = ctx.inputs
    timed = truth["days"][DAILY_SETUP_DAYS:]
    payload = []
    for d in timed:
        for sub in (d["dir"], os.path.join(d["dir"], "worker"), os.path.join(d["dir"], "worker", "tasks")):
            path = os.path.join(root, sub)
            payload += [os.path.join(path, f) for f in os.listdir(path) if f.endswith((".jsonl", ".json"))]
    traced = ctx.passes[1].info
    out = _layer_common(ctx, _payload_bytes(payload), traced["delta_rows"], "run_daily.run_day")
    out["run_daily.jobs_per_day"] = out.pop("_op_jobs") / len(timed)
    out.update(_streaming_layers([json.loads(p) for p in traced["progress"]]))
    return out


daily_marts.layer_fn = _daily_layers


# ---------------------------------------------------------------------------
# analyst_corpus: catalog rows over the star-schema tables (the read path)
# and an incremental corpus ingest (the LLM-data path)
# ---------------------------------------------------------------------------


def _corpus_inputs(spark, root: str):
    """Embeddings and the held-out eval vectors, split as run_corpus.py
    splits them."""
    emb = spark.read.parquet(os.path.join(root, "embeddings.parquet"))
    return emb.filter("vec_id % 97 != 0"), emb.filter("vec_id % 97 = 0")


def _corpus_problems(spark, marts: str, stats: dict, expected: dict) -> list[str]:
    """dq_violations == 0; curated and canonical docs are corpus docs, a
    canonical representative is a member of its cluster and no curated doc
    is a cluster's non-representative; the stats equal the first run's."""
    from pipeline_etl_ecommerce_spark.sources.sinks import read_versioned

    problems = []
    if stats.get("dq_violations") != 0:
        problems.append(f"dq_violations={stats.get('dq_violations')}")
    corpus = read_versioned(spark, os.path.join(marts, "corpus")).select("doc_id")
    canon = spark.read.parquet(os.path.join(marts, "canonical"))
    curated = spark.read.parquet(os.path.join(marts, "curated")).select("doc_id")
    checks = {
        "curated docs outside the corpus": curated.join(corpus, "doc_id", "left_anti"),
        "canonical docs outside the corpus": canon.select("doc_id").join(corpus, "doc_id", "left_anti"),
        "representatives outside their cluster": canon.select(canon.best_doc_id.alias("doc_id")).join(
            canon.select("doc_id"), "doc_id", "left_anti"),
        "curated non-representatives": curated.join(
            canon.filter(canon.doc_id != canon.best_doc_id).select("doc_id"), "doc_id"),
    }
    for what, df in checks.items():
        n = df.count()
        if n:
            problems.append(f"{n} {what}")
    if expected and stats != expected:
        problems.append(f"ingest stats {stats} differ from the first run's {expected}")
    return problems


def analyst_corpus(ctx: Context) -> None:
    from pipeline_etl_ecommerce_spark import testdata_queries
    from pipeline_etl_ecommerce_spark.plans import corpus_pipeline

    root, truth = ctx.inputs
    spark = ctx.start_spark()
    queries = testdata_queries.queries()
    embeddings, eval_vectors = _corpus_inputs(spark, root)
    marts = ctx.work("corpus")
    os.makedirs(marts)

    def ingest(docs):
        return corpus_pipeline.ingest_batch(spark, docs, marts, embeddings=embeddings,
                                            eval_vectors=eval_vectors, semantic_tau=SEMANTIC_TAU)

    results: dict = {}  # row -> its output in the last pass, for the oracle check
    ingest(spark.read.parquet(os.path.join(root, "documents.parquet")))
    ctx.mark("corpus base ingest")
    # warm pass over the rows; it also builds the side marts the rows read
    setup_tracer = Tracer(spark) if ctx.trace else None
    if setup_tracer is not None:
        setup_tracer.wrap(testdata_queries, "_materialize_mart", "testdata_queries.mart_build")
    for row in ANALYST_ROWS:
        queries[row](spark, root).toPandas()
    if setup_tracer is not None:
        setup_tracer.unwrap_all()
        ctx.layer_setup["testdata_queries.mart_build_s"] = sum(s.duration for s in setup_tracer.spans)
    ctx.mark("warm rows")
    ctx.snapshot(marts)
    stats_path = os.path.join(root, "ingest_stats.json")
    expected = {}
    if os.path.exists(stats_path):
        with open(stats_path) as f:
            expected = json.load(f)
    attempted = len(ANALYST_ROWS) + 1

    def one_pass(tracer):
        if tracer is not None:
            _trace_corpus(tracer, corpus_pipeline)
        ops, failed = [], 0
        delta = spark.read.schema("doc_id BIGINT, text STRING").json(os.path.join(root, "corpus_delta.jsonl"))
        e0, t0, c0 = time.time(), time.perf_counter(), tree_cpu_s()
        for row in ANALYST_ROWS:
            t = time.perf_counter()
            try:
                if tracer is None:
                    results[row] = queries[row](spark, root).toPandas()
                else:
                    with tracer.span(f"testdata_queries.{row}"):
                        with tracer.span("testdata_queries.construct"):
                            df = queries[row](spark, root)
                        with tracer.span("testdata_queries.plan"):
                            df._jdf.queryExecution().executedPlan()
                        with tracer.span("testdata_queries.execute"):
                            results[row] = df.toPandas()
            except Exception:
                failed += 1
                ctx.error(f"{row} raised:\n" + traceback.format_exc())
            ops.append(time.perf_counter() - t)
        t = time.perf_counter()
        stats = {}
        try:
            with tracer.span("corpus_pipeline.ingest_batch") if tracer is not None else nullcontext():
                stats = ingest(delta)
        except Exception:
            ctx.error("ingest_batch raised:\n" + traceback.format_exc())
        ops.append(time.perf_counter() - t)
        wall, e1, cpu = time.perf_counter() - t0, time.time(), tree_cpu_s() - c0
        if tracer is not None:
            tracer.unwrap_all()
        if not expected and stats:
            expected.update(stats)
            with open(stats_path, "w") as f:
                json.dump(stats, f)
        bad = _corpus_problems(spark, marts, stats, expected) if stats else ["no ingest stats"]
        if bad:
            failed += 1
            ctx.errors.extend(bad)
        return PassResult(wall, cpu, ops, attempted, failed, e0, e1, {"ingest_stats": stats})

    ctx.run_passes(one_pass, marts)
    ctx.stored_bytes = dir_bytes(marts)
    # the last pass's row outputs against their DuckDB oracles
    bad_rows = _oracle_problems(root, results, testdata_queries.oracle_sql())
    if bad_rows:
        ctx.errors.extend(f"{row}: {p}" for row, ps in bad_rows.items() for p in ps)
        last = ctx.passes[-1]
        last.failed = min(last.attempted, last.failed + len(bad_rows))


def _oracle_problems(root: str, results: dict, oracles: dict) -> dict[str, list[str]]:
    import duckdb
    import selfcheck

    con = duckdb.connect()
    for name in TABLES:
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{os.path.join(root, name)}.parquet')")
    out = {}
    for row in ANALYST_ROWS:
        if row not in results:
            continue  # the row raised, and already counts as failed
        problems = selfcheck.compare(row, results[row], con.execute(oracles[row]).fetchdf())
        if problems:
            out[row] = problems
    con.close()
    return out


def _trace_corpus(tracer: Tracer, corpus_pipeline) -> None:
    """Spans around the operators and sinks where plans/corpus_pipeline.py
    imports them."""
    for fn in CORPUS_OPERATORS:
        module = getattr(corpus_pipeline, fn).__module__.rsplit(".", 1)[-1]
        tracer.wrap(corpus_pipeline, fn, f"operators.{module}.{fn}")
    for fn in CORPUS_SINKS:
        tracer.wrap(corpus_pipeline, fn, f"sources.sinks.{fn}")


def _analyst_layers(ctx: Context) -> dict:
    root, truth = ctx.inputs
    out = _layer_common(ctx, _payload_bytes([os.path.join(root, "corpus_delta.jsonl")]),
                        float(truth["delta_docs"]), "corpus_pipeline.ingest_batch")
    out.pop("_op_jobs")
    spans = ctx.tracer.spans
    selfs = self_times(spans)
    for part in ("construct", "plan", "execute"):
        out[f"testdata_queries.{part}_s"] = sum(s.duration for s in spans if s.name == f"testdata_queries.{part}")
    for row in ANALYST_ROWS:
        out[f"testdata_queries.{row}.s"] = sum(s.duration for s in spans if s.name == f"testdata_queries.{row}")
    for s in spans:
        if s.name.startswith("operators."):
            key = "operators." + s.name.rsplit(".", 1)[-1] + ".s"
            out[key] = out.get(key, 0.0) + selfs[s.sid]
    out.update(ctx.layer_setup)
    return out


analyst_corpus.layer_fn = _analyst_layers

WORKLOADS = {
    "daily_marts": daily_marts,
    "analyst_corpus": analyst_corpus,
}
