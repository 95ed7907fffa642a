"""Seeded generator for the ten input tables the registered jobs read.

The tables follow the fixture schemas in ``opay_datalake_script_spark.schemas``
(TPC-H-like star schema, an ``events`` stream, a ``documents`` corpus and
64-dimensional ``embeddings``) with the value domains and row-count ratios
described in FIXTURES.md. The same ``(seed, sf)`` always writes the same
rows, so the benchmark never reads data from outside its checkout.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["signup", "click", "view", "purchase", "error"]
LANGS = ["en", "es", "de", "fr", "zh"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
EMBEDDING_DIM = 64
N_LABELS = 10

_DAY_US = 86_400 * 1_000_000
_ORDER_START = np.datetime64("1995-01-01", "D")
_ORDER_DAYS = int((np.datetime64("2001-08-01", "D") - _ORDER_START).astype(np.int64)) + 1
_SHIP_START = np.datetime64("1995-01-02", "D")
_SHIP_DAYS = int((np.datetime64("2001-11-04", "D") - _SHIP_START).astype(np.int64)) + 1
_EVENTS_START_US = np.datetime64("2024-01-01", "us").astype(np.int64)
_EVENT_SPAN_US = 30 * _DAY_US


def table_rows(sf: float) -> dict[str, int]:
    """Row count of every table at scale factor ``sf`` (TPC-H ratios; the
    text corpus and the vectors stay at 500 rows up to sf0.01)."""
    n = lambda base: max(1, round(base * sf))  # noqa: E731
    return {
        "region": 5,
        "nation": 25,
        "customer": n(150_000),
        "supplier": n(10_000),
        "part": n(200_000),
        "orders": n(1_500_000),
        "lineitem": n(6_000_000),
        "events": n(1_000_000),
        "documents": max(500, n(50_000)),
        "embeddings": max(500, n(20_000)),
    }


def _money(rng: np.random.Generator, lo: float, hi: float, size: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, size), 2)


def _names(prefix: str, n: int) -> pa.Array:
    return pa.array([f"{prefix}#{i:09d}" for i in range(n)])


def _days(start: np.datetime64, span: int, rng: np.random.Generator, n: int) -> pa.Array:
    days = start + rng.integers(0, span, n).astype("timedelta64[D]")
    return pa.array(days.astype("datetime64[us]"), pa.timestamp("us"))


def _pick(rng: np.random.Generator, values: list[str], n: int, p=None) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)])


def _star_schema(rng: np.random.Generator, rows: dict[str, int]) -> dict[str, pa.Table]:
    nc, ns, npart = rows["customer"], rows["supplier"], rows["part"]
    no, nl = rows["orders"], rows["lineitem"]
    i32 = lambda a: pa.array(a, pa.int32())  # noqa: E731
    i64 = lambda a: pa.array(a, pa.int64())  # noqa: E731
    t = {}
    t["region"] = pa.table({"r_regionkey": i32(range(5)), "r_name": pa.array(REGIONS)})
    t["nation"] = pa.table(
        {
            "n_nationkey": i32(range(25)),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": i32([i % 5 for i in range(25)]),
        }
    )
    t["customer"] = pa.table(
        {
            "c_custkey": i64(np.arange(nc)),
            "c_name": _names("Customer", nc),
            "c_nationkey": i32(rng.integers(0, 25, nc)),
            "c_acctbal": _money(rng, -999.99, 9999.99, nc),
            "c_mktsegment": _pick(rng, SEGMENTS, nc),
        }
    )
    t["supplier"] = pa.table(
        {
            "s_suppkey": i64(np.arange(ns)),
            "s_name": _names("Supplier", ns),
            "s_nationkey": i32(rng.integers(0, 25, ns)),
            "s_acctbal": _money(rng, -999.99, 9999.99, ns),
        }
    )
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    keys = np.arange(npart)
    t["part"] = pa.table(
        {
            "p_partkey": i64(keys),
            "p_name": _pick(rng, names, npart),
            "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, npart)]),
            "p_type": _pick(rng, PART_TYPES, npart),
            "p_size": i32(rng.integers(1, 51, npart)),
            "p_retailprice": np.round(900.0 + (keys % 1000) / 10.0, 1),
        }
    )
    t["orders"] = pa.table(
        {
            "o_orderkey": i64(np.arange(no)),
            "o_custkey": i64(rng.integers(0, nc, no)),
            "o_orderstatus": _pick(rng, ["F", "O", "P"], no),
            "o_totalprice": _money(rng, 1000.0, 500_000.0, no),
            "o_orderdate": _days(_ORDER_START, _ORDER_DAYS, rng, no),
            "o_orderpriority": _pick(rng, PRIORITIES, no),
        }
    )
    t["lineitem"] = pa.table(
        {
            "l_orderkey": i64(rng.integers(0, no, nl)),
            "l_partkey": i64(rng.integers(0, npart, nl)),
            "l_suppkey": i64(rng.integers(0, ns, nl)),
            "l_linenumber": i32(rng.integers(1, 8, nl)),
            "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105_000.0, nl),
            "l_discount": rng.integers(0, 11, nl) / 100.0,
            "l_tax": rng.integers(0, 9, nl) / 100.0,
            "l_returnflag": _pick(rng, ["A", "N", "R"], nl),
            "l_linestatus": _pick(rng, ["F", "O"], nl),
            "l_shipdate": _days(_SHIP_START, _SHIP_DAYS, rng, nl),
        }
    )
    return t


def _events(rng: np.random.Generator, n: int) -> pa.Table:
    ts = _EVENTS_START_US + np.sort(rng.integers(0, _EVENT_SPAN_US, n))
    users = max(1, round(n * 0.015))
    return pa.table(
        {
            "event_id": pa.array(np.arange(n), pa.int64()),
            "ts": pa.array(ts.astype("datetime64[us]"), pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, users, n), pa.int64()),
            "event_type": _pick(rng, EVENT_TYPES, n),
            "value": np.maximum(0.01, np.round(rng.exponential(50.0, n), 2)),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
        }
    )


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    """Bag-of-words texts; about 4 % of them are near-copies of an earlier
    text (a few words replaced) and 1 % exact copies, so the dedup jobs
    have positives to find."""
    texts: list[str] = []
    for i in range(n):
        r = rng.random()
        if i > 10 and r < 0.05:
            words = texts[int(rng.integers(0, i))].split(" ")
            if r >= 0.01:
                for j in rng.integers(0, len(words), 1 + len(words) // 20):
                    words[j] = VOCAB[int(rng.integers(0, len(VOCAB)))]
        else:
            words = [VOCAB[k] for k in rng.integers(0, len(VOCAB), int(rng.integers(10, 100)))]
        texts.append(" ".join(words))
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": pa.array(texts),
            "lang": _pick(rng, LANGS, n, p=LANG_P),
            "source": pa.array([f"src{i % 20}" for i in range(n)]),
            "n_chars": pa.array([len(x) for x in texts], pa.int64()),
        }
    )


def _embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    """Unit vectors scattered around one centre per label."""
    centres = rng.normal(size=(N_LABELS, EMBEDDING_DIM))
    labels = rng.integers(0, N_LABELS, n)
    vecs = centres[labels] + rng.normal(scale=1.5, size=(n, EMBEDDING_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n), pa.int64()),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(labels, pa.int32()),
        }
    )


def generate(out_dir: str, seed: int, sf: float) -> dict[str, int]:
    """Write ``<table>.parquet`` for every table into ``out_dir``; returns
    the row count of each table."""
    rows = table_rows(sf)
    rng = np.random.default_rng(seed)
    tables = _star_schema(rng, rows)
    tables["events"] = _events(rng, rows["events"])
    tables["documents"] = _documents(rng, rows["documents"])
    tables["embeddings"] = _embeddings(rng, rows["embeddings"])
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return {name: table.num_rows for name, table in tables.items()}
