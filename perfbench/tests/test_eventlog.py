"""Parser checks on a small captured log: the events of one traced
``upsert_to_path`` span of a queue_stream run plus one undescribed JSON
scan, trimmed of the fields the parser does not read."""

import os

import pytest

import eventlog

DATA = os.path.join(os.path.dirname(__file__), "data", "eventlog_small.jsonl")


@pytest.fixture(scope="module")
def log():
    return eventlog.parse(DATA)


def test_jobs_and_descriptions(log):
    assert len(log.jobs) == 9
    descs = {j.description for j in log.jobs.values()}
    assert descs == {"", "sources.sinks.upsert_to_path#2"}


def test_summary_totals(log):
    s = eventlog.summary(log, log.jobs)
    assert s["spark.jobs"] == 9
    assert s["spark.tasks"] == 12
    assert s["spark.task_run_s"] == pytest.approx(0.821)
    assert s["spark.task_cpu_s"] == pytest.approx(0.383776653)
    assert s["spark.task_noncpu_s"] == pytest.approx(0.821 - 0.383776653)
    assert s["spark.task_gc_s"] == pytest.approx(0.044)
    assert s["spark.spill_mb"] == 0
    # only stage 291 has several tasks: 28, 36, 41, 42 ms
    assert s["spark.task_skew"] == pytest.approx(42 / 38.5)


def test_skipped_stages_have_no_tasks(log):
    # 285, 287 and 290 were reused from earlier jobs and skipped
    assert all(sid not in log.stages or log.stages[sid].tasks == 0 for sid in (285, 287, 290))


def test_json_scans_and_sink_output(log):
    sink_jobs = [j.job_id for j in log.jobs.values() if j.description]
    stages = eventlog.stages_of(log, sink_jobs)
    assert eventlog.json_scan_bytes(stages) == 1600 + 69766 + 45135 + 1600
    assert sum(st.output_records for st in stages) == 850
    everything = eventlog.stages_of(log, log.jobs)
    assert eventlog.json_scan_bytes(everything) == 69766 + 1600 + 69766 + 45135 + 1600


def test_jobs_between(log):
    assert eventlog.jobs_between(log, 1792207477294, 1792207477462) == [211, 212, 213, 214]


def test_find_log_wants_exactly_one_file(tmp_path):
    (tmp_path / "local-1").write_text("")
    assert eventlog.find_log(str(tmp_path)) == str(tmp_path / "local-1")
    (tmp_path / "local-2").write_text("")
    with pytest.raises(RuntimeError):
        eventlog.find_log(str(tmp_path))
