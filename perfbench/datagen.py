"""Seeded inputs for the benchmark.

``write_fixtures`` writes the engine's fixture tables (the TPC-H-style star,
``events``, ``documents`` and ``embeddings``) as one parquet file each, with
the same schemas and value shapes as the engine's test fixtures, so every
registry builder and every question runs on them unchanged.  ``SIZES``
holds the row counts per size.

``telco_batches`` makes the reference's telco append batches, each from its
own seed derived from the benchmark seed, through the package's
per-table generators.
"""

from __future__ import annotations

import datetime as dt
import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# rows per fixture table; ``sf0.01``/``sf0.1`` follow the engine's fixtures,
# ``tiny`` is for the benchmark's own tests
SIZES = {
    "tiny": dict(customer=150, supplier=10, part=200, orders=1500, lineitem=6000,
                 events=1000, users=50, documents=60, embeddings=60),
    "sf0.01": dict(customer=1500, supplier=100, part=2000, orders=15000, lineitem=60000,
                   events=10000, users=150, documents=500, embeddings=500),
    "sf0.1": dict(customer=15000, supplier=1000, part=20000, orders=150000, lineitem=600000,
                  events=100000, users=1500, documents=5000, embeddings=2000),
}

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["small", "large", "red", "blue", "hot", "old", "new", "green"]
PART_NOUN = ["ring", "widget", "bolt", "plate", "rod", "gear", "pipe", "valve"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "zh", "es", "de", "fr"]
LANG_P = [0.42, 0.15, 0.15, 0.14, 0.14]
VOCAB = ("a the join hash row batch scan column customer filter small slow merge order "
         "vector line table data agg value key stream window spark part group big sort "
         "query fast").split()
EMB_DIM = 64
N_SOURCES = 20
DUP_SHARE = 0.05  # share of documents that repeat an earlier one plus " dup"

ORDER_DATE_LO = np.datetime64("1995-01-01")
ORDER_DAYS = 2404  # through 2001-08-01
SHIP_DAYS = 2498  # 1995-01-02 through 2001-11-04
EVENTS_T0 = np.datetime64("2024-01-01T00:00:00", "us")
EVENTS_SPAN_US = 30 * 86400 * 10**6


def _ts_days(days: np.ndarray, lo=ORDER_DATE_LO) -> pa.Array:
    return pa.array((lo + days.astype("timedelta64[D]")).astype("datetime64[us]"))


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    texts: list[str] = []
    for i in range(n):
        if i > 0 and rng.random() < DUP_SHARE:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            k = int(rng.integers(10, 101))
            texts.append(" ".join(VOCAB[j] for j in rng.integers(0, len(VOCAB), k)))
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(rng.choice(LANGS, n, p=LANG_P).tolist()),
        "source": pa.array([f"src{i * N_SOURCES // n}" for i in range(n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })


def _embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    v = rng.standard_normal((n, EMB_DIM)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(v), type=pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n).astype(np.int32)),
    })


def fixture_tables(seed: int, size: str, only: tuple[str, ...] | None = None) -> dict[str, pa.Table]:
    """The ten fixture tables at ``size`` (a key of ``SIZES``) from ``seed``;
    ``only`` limits which tables are built."""
    n = SIZES[size]
    want = (lambda t: only is None or t in only)
    out: dict[str, pa.Table] = {}
    # one independent stream per table, so ``only`` does not change values
    rngs = {t: np.random.default_rng([seed, i]) for i, t in enumerate(
        ["customer", "supplier", "part", "orders", "lineitem", "events", "documents", "embeddings"])}
    if want("region"):
        out["region"] = pa.table({"r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
                                  "r_name": pa.array(REGIONS)})
    if want("nation"):
        out["nation"] = pa.table({"n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
                                  "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
                                  "n_regionkey": pa.array((np.arange(25) % 5).astype(np.int32))})
    if want("customer"):
        r, c = rngs["customer"], n["customer"]
        out["customer"] = pa.table({
            "c_custkey": pa.array(np.arange(c, dtype=np.int64)),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(c)]),
            "c_nationkey": pa.array(r.integers(0, 25, c).astype(np.int32)),
            "c_acctbal": pa.array(np.round(r.uniform(-999.99, 9999.99, c), 2)),
            "c_mktsegment": pa.array(r.choice(SEGMENTS, c).tolist()),
        })
    if want("supplier"):
        r, s = rngs["supplier"], n["supplier"]
        out["supplier"] = pa.table({
            "s_suppkey": pa.array(np.arange(s, dtype=np.int64)),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(s)]),
            "s_nationkey": pa.array(r.integers(0, 25, s).astype(np.int32)),
            "s_acctbal": pa.array(np.round(r.uniform(-999.99, 9999.99, s), 2)),
        })
    if want("part"):
        r, p = rngs["part"], n["part"]
        out["part"] = pa.table({
            "p_partkey": pa.array(np.arange(p, dtype=np.int64)),
            "p_name": pa.array([f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in
                                zip(r.integers(0, 8, p), r.integers(0, 8, p))]),
            "p_brand": pa.array([f"Brand#{b}" for b in r.integers(1, 26, p)]),
            "p_type": pa.array(r.choice(PART_TYPES, p).tolist()),
            "p_size": pa.array(r.integers(1, 51, p).astype(np.int32)),
            "p_retailprice": pa.array(np.round(900.0 + (np.arange(p) % 1000) / 10.0, 2)),
        })
    if want("orders"):
        r, o = rngs["orders"], n["orders"]
        out["orders"] = pa.table({
            "o_orderkey": pa.array(np.arange(o, dtype=np.int64)),
            "o_custkey": pa.array(r.integers(0, n["customer"], o).astype(np.int64)),
            "o_orderstatus": pa.array(r.choice(["F", "O", "P"], o).tolist()),
            "o_totalprice": pa.array(np.round(r.uniform(1000.0, 500000.0, o), 2)),
            "o_orderdate": _ts_days(r.integers(0, ORDER_DAYS + 1, o)),
            "o_orderpriority": pa.array(r.choice(PRIORITIES, o).tolist()),
        })
    if want("lineitem"):
        r, m = rngs["lineitem"], n["lineitem"]
        out["lineitem"] = pa.table({
            "l_orderkey": pa.array(r.integers(0, n["orders"], m).astype(np.int64)),
            "l_partkey": pa.array(r.integers(0, n["part"], m).astype(np.int64)),
            "l_suppkey": pa.array(r.integers(0, n["supplier"], m).astype(np.int64)),
            "l_linenumber": pa.array(r.integers(1, 8, m).astype(np.int32)),
            "l_quantity": pa.array(r.integers(1, 51, m).astype(np.float64)),
            "l_extendedprice": pa.array(np.round(r.uniform(900.0, 105000.0, m), 2)),
            "l_discount": pa.array(r.integers(0, 11, m) / 100.0),
            "l_tax": pa.array(r.integers(0, 9, m) / 100.0),
            "l_returnflag": pa.array(r.choice(["A", "N", "R"], m).tolist()),
            "l_linestatus": pa.array(r.choice(["F", "O"], m).tolist()),
            "l_shipdate": _ts_days(r.integers(0, SHIP_DAYS + 1, m), np.datetime64("1995-01-02")),
        })
    if want("events"):
        r, e = rngs["events"], n["events"]
        offs = np.sort(r.integers(0, EVENTS_SPAN_US, e))
        out["events"] = pa.table({
            "event_id": pa.array(np.arange(e, dtype=np.int64)),
            "ts": pa.array(EVENTS_T0 + offs.astype("timedelta64[us]")),
            "user_id": pa.array(r.integers(0, n["users"], e).astype(np.int64)),
            "event_type": pa.array(r.choice(EVENT_TYPES, e).tolist()),
            "value": pa.array(np.maximum(0.01, np.round(r.exponential(50.0, e), 2))),
            "props": pa.array([f'{{"k": {k}}}' for k in r.integers(0, 100, e)]),
        })
    if want("documents"):
        out["documents"] = _documents(rngs["documents"], n["documents"])
    if want("embeddings"):
        out["embeddings"] = _embeddings(rngs["embeddings"], n["embeddings"])
    return out


def write_fixtures(out_dir: str, seed: int, size: str, only: tuple[str, ...] | None = None) -> str:
    os.makedirs(out_dir, exist_ok=True)
    for name, table in fixture_tables(seed, size, only).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return out_dir


# -- telco append batches ------------------------------------------------------

TELCO_APPEND_TABLES = ("customers", "subscriptions", "usage_records", "recharges")


def telco_batches(seed: int, n_batches: int, first_ids: dict[str, int] | None = None,
                  n_customers: int = 50, n_usage: int = 1000, n_recharges: int = 200):
    """``n_batches`` append batches (pandas frames per table).  Each table of
    each batch gets its own seed drawn from ``seed``, so batches differ in
    content, not only in ids; ids continue from ``first_ids`` (the last id
    already committed, 0 for an empty warehouse)."""
    from local_llm_iceberg_cdw_spark.datagen import telco

    rng = random.Random(seed)
    last = dict.fromkeys(TELCO_APPEND_TABLES, 0) | (first_ids or {})
    out = []
    for _ in range(n_batches):
        s = [rng.getrandbits(31) for _ in range(4)]
        customers = telco.generate_customers(n_customers, start_id=last["customers"] + 1,
                                             seed=s[0], back_days=30)
        cids = customers["customer_id"].tolist()
        subs = telco.generate_subscriptions(cids, start_id=last["subscriptions"] + 1, seed=s[1])
        usage = telco.generate_usage(cids, n_usage, start_id=last["usage_records"] + 1, seed=s[2])
        recharges = telco.generate_recharges(subs, n_recharges, start_id=last["recharges"] + 1,
                                             seed=s[3])
        batch = {"customers": customers, "subscriptions": subs,
                 "usage_records": usage, "recharges": recharges}
        for name, pdf in batch.items():
            last[name] += len(pdf)
        out.append(batch)
    return out


def telco_date(day: int) -> dt.datetime:
    """Snapshot wall clock used for the ``day``-th commit in analyst_qa."""
    return dt.datetime(2025, 1, 1) + dt.timedelta(days=day)
