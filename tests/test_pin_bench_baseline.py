"""pin_bench_baseline refuses to pin a run that is not clean: a pinned
baseline is the floor every later bench run is judged by."""

from __future__ import annotations

import json
import os
import sys

import pytest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "scripts"))

import pin_bench_baseline  # noqa: E402

CLEAN = {
    "sf": "sf0.1",
    "cpus": 4,
    "reps": 3,
    "loadavg_start": 0.5,
    "load_gate": {"status": "passed"},
    "total": 1.0,
    "side_table_build": {"total": 0.5, "marts": {"simhash32": 0.5}},
    "baseline_gate": {"status": "ok"},
    "queries": {"pricing_summary": 1.0},
}


@pytest.mark.parametrize(
    "dirty",
    [
        {"load_gate": {"status": "waived"}},
        {"reps": 1},
        {"baseline_gate": {"status": "failed: 1 unadjudicated >threshold (pricing_summary)"}},
    ],
)
def test_refuses_dirty_runs(tmp_path, monkeypatch, dirty):
    monkeypatch.setattr(pin_bench_baseline, "ROOT", str(tmp_path))
    (tmp_path / "bench_detail.json").write_text(json.dumps({**CLEAN, **dirty}))
    assert pin_bench_baseline.main() == 1
    assert not (tmp_path / "BENCH_BASELINE.json").exists()


def test_pins_a_clean_run(tmp_path, monkeypatch):
    monkeypatch.setattr(pin_bench_baseline, "ROOT", str(tmp_path))
    monkeypatch.setattr(sys, "argv", ["pin_bench_baseline.py", "clean probe"])
    (tmp_path / "bench_detail.json").write_text(json.dumps(CLEAN))
    assert pin_bench_baseline.main() == 0
    pinned = json.loads((tmp_path / "BENCH_BASELINE.json").read_text())
    assert pinned["queries"] == CLEAN["queries"]
    assert pinned["marts"] == {"simhash32": 0.5}
