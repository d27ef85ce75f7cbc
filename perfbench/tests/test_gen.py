"""Generators are pure functions of the seed, with seed-independent shapes."""

import filecmp
import json
import os

import pytest

import gen


def _files(root):
    return sorted(
        os.path.relpath(os.path.join(d, f), root) for d, _, fs in os.walk(root) for f in fs
    )


def _lines(path):
    with open(path) as f:
        return sum(1 for _ in f)


@pytest.mark.parametrize("workload", sorted(gen.GENERATORS))
def test_same_seed_same_bytes(tmp_path, workload):
    a, b = tmp_path / "a", tmp_path / "b"
    ta = gen.GENERATORS[workload](str(a), 7)
    tb = gen.GENERATORS[workload](str(b), 7)
    assert ta == tb
    assert _files(a) == _files(b)
    match, mismatch, errors = filecmp.cmpfiles(a, b, _files(a), shallow=False)
    assert not mismatch and not errors


@pytest.mark.parametrize("workload", sorted(gen.GENERATORS))
def test_other_seed_other_content_same_files(tmp_path, workload):
    a, b = tmp_path / "a", tmp_path / "b"
    gen.GENERATORS[workload](str(a), 1)
    gen.GENERATORS[workload](str(b), 2)
    assert _files(a) == _files(b)
    _, mismatch, _ = filecmp.cmpfiles(a, b, _files(a), shallow=False)
    assert mismatch


def test_daily_shapes_fixed_across_seeds(tmp_path):
    for seed in (1, 2):
        truth = gen.generate_daily(str(tmp_path / str(seed)), seed)
        assert len(truth["days"]) == gen.DAYS + 1
        assert truth["products"] == gen.PRODUCTS == truth["channels"] + truth["unlisted"]
        for i, d in enumerate(truth["days"]):
            path = tmp_path / str(seed) / d["dir"]
            if i:
                assert _lines(path / "orders.jsonl") == gen.ORDERS_PER_DAY
                assert _lines(path / "listings.jsonl") == int(gen.LISTINGS * gen.CHANGED_SHARE)
            tasks = sorted((path / "worker" / "tasks").iterdir())
            assert len(tasks) == d["worker_files"] == 2
            assert all(_lines(t) <= gen.TASKS_PER_FILE for t in tasks)
        # cumulative items only grow, and every day sold something
        totals = [d["items_total"] for d in truth["days"]]
        assert totals == sorted(totals) and all(d["units"] > 0 for d in truth["days"])


def test_daily_late_orders_within_d3(tmp_path):
    truth = gen.generate_daily(str(tmp_path), 3)
    for d in truth["days"][1:]:
        with open(tmp_path / d["dir"] / "orders.jsonl") as f:
            dates = {json.loads(line)["date_created"][:10] for line in f}
        lag = sorted((gen.dt.date.fromisoformat(d["day"]) - gen.dt.date.fromisoformat(x)).days for x in dates)
        assert lag[0] == 0 and lag[-1] <= 3 and len(lag) > 1


def test_daily_updates_carry_new_values(tmp_path):
    """Re-sent keys change value, so a sink that kept old rows would fail
    the checks: later versions exist, and the worker's re-fetch of a day
    has other traffic totals than the cron's payload for that day."""
    truth = gen.generate_daily(str(tmp_path), 4)
    last = truth["days"][-1]
    assert set(last["product_versions"]) > {"0"}
    assert sum(last["product_versions"].values()) == truth["products"]
    assert sum(last["listing_versions"].values()) == truth["channels"]
    for d in truth["days"]:
        path = tmp_path / d["dir"]
        cron = sum(json.loads(line)["results"][0]["total"] for line in open(path / "visits.jsonl"))
        assert last["traffic"][d["day"]]["visits"] != cron
        tasks = [json.loads(line) for t in sorted((path / "worker" / "tasks").iterdir()) for line in open(t)]
        assert {t["data_metrica"] for t in tasks} == {d["day"]}
        assert len({t["id_anuncio"] for t in tasks}) == gen.LISTINGS < len(tasks)


def test_corpus_delta_mixes_new_and_near_duplicate_docs(tmp_path):
    truth = gen.generate_analyst_corpus(str(tmp_path), 2)
    assert truth["rows"]["documents"] == gen.BASE_DOCS
    assert truth["rows"]["embeddings"] == gen.BASE_DOCS + gen.DELTA_DOCS
    delta = [json.loads(line) for line in open(tmp_path / "corpus_delta.jsonl")]
    assert [d["doc_id"] for d in delta] == list(range(gen.BASE_DOCS, gen.BASE_DOCS + gen.DELTA_DOCS))
    assert sum("dup" in d["text"].split() for d in delta) >= gen.DELTA_DOCS // 2


def test_cached_inputs_reuses_the_seed(tmp_path):
    d1, t1 = gen.cached_inputs(str(tmp_path), "daily_marts", 5)
    stamp = os.path.getmtime(os.path.join(d1, "truth.json"))
    d2, t2 = gen.cached_inputs(str(tmp_path), "daily_marts", 5)
    assert (d1, t1) == (d2, t2)
    assert os.path.getmtime(os.path.join(d2, "truth.json")) == stamp
