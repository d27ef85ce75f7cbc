"""Run one benchmark workload in this process and print its metrics.

  python3 perfbench/run.py --workload daily_marts --seed 1 --seconds 10 --trace 0

Run it from the repository root. Inputs are generated from ``--seed`` into
``.perfbench_cache/`` (once per seed; not part of set-up time) and every
file the run writes goes under ``.perfbench_work/``. Human-readable lines
come first; the last line of stdout is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``. ``--trace 0`` reports
the end-to-end metrics, ``--trace 1`` the per-layer ones (see README.md).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys

ROOT = os.getcwd()
ENGINE = os.path.join(ROOT, "pipeline_etl_ecommerce_spark")
SCRIPTS = os.path.join(ROOT, "scripts")


def _engine_present() -> bool:
    return os.path.isfile(os.path.join(ENGINE, "__init__.py")) and os.path.isfile(
        os.path.join(SCRIPTS, "run_daily.py")
    )


def pin_environment(work: str, workloads) -> dict[str, str]:
    """Environment every run gets, set before pyspark is imported: the core
    count (``get_spark`` otherwise assumes 32), the repo on PYTHONPATH for
    Python workers, and scratch space inside the checkout."""
    local = os.path.join(work, "spark-local")
    tmp = os.path.join(work, "tmp")
    for d in (local, tmp):
        os.makedirs(d, exist_ok=True)
    pinned = {
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "PYTHONPATH": os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        "SPARK_GRAFT_LOCAL_DIR": local,
        "SPARK_GRAFT_SCRATCH": os.path.join(work, "scratch"),
        "SPARK_DRIVER_MEMORY": workloads.DRIVER_HEAP,
        "TMPDIR": tmp,
        # every JVM, the launcher included: temp files inside the checkout
        # and no hsperfdata file under /tmp
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "PYSPARK_PYTHON": sys.executable,
    }
    os.environ.update(pinned)
    return pinned


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True, help="minimum length of the timed phase")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not _engine_present():
        print(f"perfbench: engine sources not found under {ROOT}; run from the repository root",
              file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, SCRIPTS]
    import workloads  # noqa: E402  (perfbench/ is sys.path[0])

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; choose from {sorted(workloads.WORKLOADS)}",
              file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".perfbench_work", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    pinned = pin_environment(work, workloads)
    ctx = workloads.Context(args, work, os.path.join(ROOT, ".perfbench_cache"))
    result = ctx.run(workloads.WORKLOADS[args.workload])
    if result is None:  # set-up failed: no timed pass ran
        print("perfbench: " + "\n".join(ctx.errors), file=sys.stderr)
        return 1

    details = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
               "env": pinned, **result["details"]}
    with open(os.path.join(work, "result.json"), "w") as f:
        json.dump(details, f, indent=2, default=str)
    for line in result["lines"]:
        print(line)
    print(json.dumps({
        "correct": result["correct"],
        "attempted": result["attempted"],
        "failed": result["failed"],
        "metrics": result["metrics"],
    }))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
