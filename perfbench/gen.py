"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of its seed: it writes the input files
under a target directory and returns a small ``truth`` dict with the totals
the output checks compare against. The engine only ever sees the files.

Shapes are fixed (row counts, day counts, file counts); the seed moves the
content: which listings are popular, which orders arrive late, which
listings change on a given day, which tasks are redelivered, and every
table value of the analyst workload.

The ``daily_marts`` sizes follow the production figures in BASELINE.md:
73 active listings (one traffic task each a day), a 266-product catalog,
orders at the top of the 10-100 a day range, and worker batches of 50
tasks. The ``analyst_corpus`` tables have the row counts of the engine's
sf0.01 test tables, except for a smaller document corpus.
"""

from __future__ import annotations

import bisect
import datetime as dt
import json
import os
import random
import shutil
from collections import Counter

import numpy as np

import tables

FIRST_DAY = dt.date(2025, 8, 1)

# -- daily_marts ------------------------------------------------------------
LISTINGS = 73  # active listings: BASELINE.md's 73 traffic tasks a day
PRODUCTS = 266  # catalog size: BASELINE.md's 266 Tiny products
VARIATION_SHARE = 0.3  # listings sold as 2-3 variations
HISTORY_DAYS = 4  # the pre-seed drop's orders span this many days
ORDERS_PER_DAY = 100  # top of BASELINE.md's 10-100 orders a day
MAX_ITEMS = 4
ZIPF_S = 1.1  # listing popularity in orders
LATE_SHARE = 0.2  # orders dated D-1..D-3 that land in D's drop
CHANGED_SHARE = 0.1  # listings (and their products) re-sent per day
VISIT_SHARE = 0.7
ADS_SHARE = 0.35
DAYS = 1  # timed days after the pre-seed drop
TASKS_PER_FILE = 50  # BASELINE.md's worker batch
REDELIVERY_EVERY = 10  # every n-th worker task repeats an earlier one

# -- analyst_corpus ---------------------------------------------------------
TABLE_SCALE = 0.01
BASE_DOCS = 100  # the pre-seeded corpus
DELTA_DOCS = 20  # one timed ingest: half new docs, half near-duplicates


def _write_jsonl(path: str, rows) -> None:
    with open(path, "w") as f:
        for r in rows:
            f.write(json.dumps(r, separators=(",", ":")) + "\n")


def _zipf_cdf(n: int, s: float) -> list[float]:
    w = [1.0 / (i + 1) ** s for i in range(n)]
    tot = sum(w)
    acc, out = 0.0, []
    for x in w:
        acc += x / tot
        out.append(acc)
    out[-1] = 1.0
    return out


def _price(rng: random.Random) -> float:
    return round(rng.uniform(9.9, 499.9), 2)


# ---------------------------------------------------------------------------
# daily_marts: one API-shaped payload drop per day, plus the traffic worker's
# task drops
# ---------------------------------------------------------------------------


def _daily_catalog(rng: random.Random):
    """Listings with their sellable channels (parent or variations), one
    catalog product per channel; the rest of the catalog is unlisted."""
    listings = []
    pid = 1000
    picked = rng.sample(range(LISTINGS), int(LISTINGS * VARIATION_SHARE))
    n_vars = {i: 2 + k % 2 for k, i in enumerate(picked)}  # half 2, half 3 variations
    for i in range(LISTINGS):
        lid = f"MLB{100000 + i}"
        n_var = n_vars.get(i, 0)
        channels = []
        if n_var:
            for v in range(n_var):
                pid += 1
                channels.append((f"{lid}-V{v}", f"SKU-{pid}", pid))
        else:
            pid += 1
            channels.append((None, f"SKU-{pid}", pid))
        listings.append({"id": lid, "channels": channels, "logistic": rng.choice(
            ("fulfillment", "drop_off", "self_service", "cross_docking"))})
    unlisted = [(f"SKU-{p}", p) for p in range(pid + 1, 1001 + PRODUCTS)]
    return listings, unlisted


def _product_row(rng, sku, pid, version):
    cost = rng.uniform(2.0, 150.0)
    return {
        "id": pid,
        "codigo": sku,
        "nome": f"Produto {pid} v{version}",
        "classe_produto": "S",
        "idProdutoPai": None,
        "preco_custo": f"{cost:.2f}".replace(".", ","),
        "ean": str(7890000000000 + pid),
    }


def _listing_row(lst, version):
    variations = [
        {"id": vid, "seller_custom_field": sku, "inventory_id": None, "attributes": []}
        for vid, sku, _ in lst["channels"]
        if vid is not None
    ]
    scf = None if variations else lst["channels"][0][1]
    return {
        "id": lst["id"],
        "title": f"Anuncio {lst['id']} v{version}",
        "status": "active",
        "category_id": "MLB1234",
        "shipping": {"logistic_type": lst["logistic"]},
        "seller_custom_field": scf,
        "inventory_id": None,
        "attributes": [],
        "variations": variations,
    }


def _traffic_payload(rng: random.Random, d: str, listings: list, day: dt.date) -> dict:
    """Write ``visits.jsonl`` and ``ads_metrics.jsonl`` for ``day`` under
    ``d``; returns the totals ``trafego_diario`` holds for that day once
    this payload is the last one applied (a row per listing, 0 where a
    listing has no visits or ads)."""
    vis = [(lst["id"], rng.randint(1, 500)) for lst in rng.sample(listings, int(LISTINGS * VISIT_SHARE))]
    _write_jsonl(os.path.join(d, "visits.jsonl"), (
        {"id_anuncio": lid, "results": [{"date": f"{day.isoformat()}T00:00:00Z", "total": n}]}
        for lid, n in vis))
    ads = [
        {"id_anuncio": lst["id"], "data_metrica": day.isoformat(),
         "clicks": rng.randint(0, 40), "prints": rng.randint(40, 4000),
         "cost": round(rng.uniform(0.5, 60.0), 2), "units_quantity": rng.randint(0, 3),
         "total_amount": round(rng.uniform(0.0, 300.0), 2),
         "organic_items_quantity": rng.randint(0, 3)}
        for lst in rng.sample(listings, int(LISTINGS * ADS_SHARE))
    ]
    _write_jsonl(os.path.join(d, "ads_metrics.jsonl"), ads)
    return {"rows": LISTINGS, "visits": sum(n for _, n in vis),
            "clicks": sum(a["clicks"] for a in ads), "prints": sum(a["prints"] for a in ads)}


def _worker_drop(rng: random.Random, d: str, listings: list, day: dt.date, first_task: int) -> int:
    """The traffic worker's input after one cron run: tasks re-fetching
    ``day`` for every listing (every ``REDELIVERY_EVERY``-th task repeats an
    earlier one), in files of ``TASKS_PER_FILE``. Returns the file count."""
    os.makedirs(os.path.join(d, "tasks"))
    keys = [lst["id"] for lst in listings]
    rng.shuffle(keys)
    sent: list[str] = []
    for lid in keys:
        sent.append(lid)
        if len(sent) % REDELIVERY_EVERY == REDELIVERY_EVERY - 1:
            sent.append(rng.choice(sent))
    n_files = 0
    for n in range(0, len(sent), TASKS_PER_FILE):
        _write_jsonl(os.path.join(d, "tasks", f"part-{n_files:04d}.json"), (
            {"id": first_task + n + i, "id_anuncio": lid, "data_metrica": day.isoformat()}
            for i, lid in enumerate(sent[n:n + TASKS_PER_FILE])))
        n_files += 1
    return n_files


def generate_daily(root: str, seed: int) -> dict:
    """Write ``root/day_<iso>/<payload>.jsonl`` for the pre-seed day and
    ``DAYS`` following days. Each day also gets ``worker/``: the traffic
    worker's task files re-fetching that day after the cron run, and the
    revised visits and ads payloads the worker reads for them. Returns the
    truth the checks use."""
    rng = random.Random(seed)
    listings, unlisted = _daily_catalog(rng)
    channels = [(lst["id"], vid, sku) for lst in listings for vid, sku, _ in lst["channels"]]
    order = list(range(len(channels)))
    rng.shuffle(order)  # popularity rank -> channel, seed-dependent
    cdf = _zipf_cdf(len(channels), ZIPF_S)
    unit_price = {c: _price(rng) for c in range(len(channels))}

    seed_day = FIRST_DAY + dt.timedelta(days=HISTORY_DAYS)
    days = [seed_day + dt.timedelta(days=i) for i in range(DAYS + 1)]
    next_order = [5_000_000]
    # per sales date: units and revenue of orders delivered so far
    delivered: dict[str, list] = {}

    def orders_for(drop_day: dt.date, n: int, back: int, late_share: float):
        rows, ships, n_items = [], [], 0
        for _ in range(n):
            oid = next_order[0]
            next_order[0] += 1
            if back:
                sale_day = drop_day - dt.timedelta(days=rng.randint(0, back))
            elif rng.random() < late_share:
                sale_day = drop_day - dt.timedelta(days=rng.randint(1, 3))
            else:
                sale_day = drop_day
            picked: set[int] = set()
            items = []
            for _ in range(rng.randint(1, MAX_ITEMS)):
                c = order[bisect.bisect_left(cdf, rng.random())]
                if c in picked:
                    continue
                picked.add(c)
                lid, vid, sku = channels[c]
                qty = rng.randint(1, 3)
                price = unit_price[c]
                items.append({
                    "item": {"id": lid, "variation_id": vid, "seller_sku": sku},
                    "quantity": qty,
                    "unit_price": price,
                    "sale_fee": round(price * 0.13, 2),
                })
                tot = delivered.setdefault(str(sale_day), [0, 0.0, 0])
                tot[0] += qty
                tot[1] += qty * price
                tot[2] += 1
                n_items += 1
            ship_id = 90_000_000 + oid
            logistic = rng.choice(("fulfillment", "drop_off", "self_service"))
            hh, mm = rng.randint(8, 20), rng.randint(0, 59)
            rows.append({
                "id": oid,
                "pack_id": None,
                "date_created": f"{sale_day.isoformat()}T{hh:02d}:{mm:02d}:00.000-03:00",
                "shipping": {"id": ship_id, "logistic_type": logistic, "list_cost": 0.0},
                "order_items": items,
            })
            ships.append({"shipping_id": ship_id, "logistic_type": logistic,
                          "list_cost": round(rng.uniform(5.0, 40.0), 2)})
        return rows, ships, n_items

    truth_days = []
    traffic: dict[str, dict] = {}  # day -> totals of the last payload applied to it
    version = {lst["id"]: 0 for lst in listings}  # drop that last sent each listing
    task_id = 1
    for i, day in enumerate(days):
        d = os.path.join(root, f"day_{day.isoformat()}")
        os.makedirs(d, exist_ok=True)
        if i == 0:
            changed = listings
            o, s, n_items = orders_for(day, ORDERS_PER_DAY * HISTORY_DAYS, HISTORY_DAYS, 0.0)
            products = [(sku, pid) for lst in listings for _, sku, pid in lst["channels"]] + unlisted
        else:
            changed = rng.sample(listings, max(1, int(LISTINGS * CHANGED_SHARE)))
            o, s, n_items = orders_for(day, ORDERS_PER_DAY, 0, LATE_SHARE)
            products = [(sku, pid) for lst in changed for _, sku, pid in lst["channels"]]
        for lst in changed:
            version[lst["id"]] = i
        _write_jsonl(os.path.join(d, "tiny_products.jsonl"), (
            _product_row(rng, sku, pid, i) for sku, pid in products))
        _write_jsonl(os.path.join(d, "listings.jsonl"), (_listing_row(lst, i) for lst in changed))
        _write_jsonl(os.path.join(d, "orders.jsonl"), o)
        _write_jsonl(os.path.join(d, "shipments.jsonl"), s)
        _traffic_payload(rng, d, listings, day)
        # the worker re-fetches the day with revised figures, which are the
        # ones trafego_diario keeps
        w = os.path.join(d, "worker")
        os.makedirs(w)
        traffic[day.isoformat()] = _traffic_payload(rng, w, listings, day)
        files = _worker_drop(rng, w, listings, day, task_id)
        task_id += 1000
        # relatorio_diario(day) sees the sales of `day` delivered up to `day`
        units, revenue, _ = delivered.get(str(day), [0, 0.0, 0])
        # latest version per channel once this day is processed; unlisted
        # products are only in the pre-seed drop
        versions = [version[lst["id"]] for lst in listings for _ in lst["channels"]]
        truth_days.append({"day": day.isoformat(), "dir": os.path.basename(d), "units": units,
                           "revenue": revenue, "items": n_items, "worker_files": files,
                           "items_total": sum(v[2] for v in delivered.values()),
                           "listing_versions": dict(Counter(map(str, versions))),
                           "product_versions": dict(Counter(map(str, versions + [0] * len(unlisted)))),
                           "traffic": {k: dict(v) for k, v in traffic.items()}})

    return {"days": truth_days, "channels": len(channels), "products": PRODUCTS,
            "unlisted": len(unlisted), "listings": LISTINGS}


# ---------------------------------------------------------------------------
# analyst_corpus: star-schema tables plus one corpus delta
# ---------------------------------------------------------------------------


def generate_analyst_corpus(root: str, seed: int) -> dict:
    """Write the tables ``testdata_queries`` reads (``tables.write_tables``)
    and ``corpus_delta.jsonl``: ``DELTA_DOCS`` docs after the base corpus,
    half new text and half near-duplicates of base docs. The embeddings
    table covers the base and the delta docs."""
    rows = tables.write_tables(root, seed, TABLE_SCALE, BASE_DOCS, BASE_DOCS + DELTA_DOCS)
    rng = np.random.default_rng(seed + 1)
    base = _read_texts(os.path.join(root, "documents.parquet"))
    delta = []
    for i in range(DELTA_DOCS):
        doc_id = BASE_DOCS + i
        if i % 2:
            text = tables.near_duplicate(rng, base[doc_id * 7 % len(base)])
        else:
            text = tables.doc_text(rng, tables.doc_words(doc_id))
        delta.append({"doc_id": doc_id, "text": text})
    _write_jsonl(os.path.join(root, "corpus_delta.jsonl"), delta)
    return {"rows": rows, "base_docs": BASE_DOCS, "delta_docs": DELTA_DOCS}


def _read_texts(path: str) -> list[str]:
    import pyarrow.parquet as pq

    return pq.read_table(path, columns=["text"]).column("text").to_pylist()


GENERATORS = {
    "daily_marts": generate_daily,
    "analyst_corpus": generate_analyst_corpus,
}


def cached_inputs(cache_root: str, workload: str, seed: int) -> tuple[str, dict]:
    """Generate a workload's inputs once per seed; later runs reuse them."""
    d = os.path.join(cache_root, f"{workload}-{seed}")
    truth_path = os.path.join(d, "truth.json")
    if os.path.exists(truth_path):
        with open(truth_path) as f:
            return d, json.load(f)
    tmp = d + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    truth = GENERATORS[workload](tmp, seed)
    with open(os.path.join(tmp, "truth.json"), "w") as f:
        json.dump(truth, f)
    os.replace(tmp, d)
    return d, truth
