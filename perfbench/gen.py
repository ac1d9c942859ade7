"""Deterministic input generator for the benchmark.

``write_base`` writes the ten lake tables the engine's queries read, at
the sf0.1 row counts and with the schemas and value domains of the
repository's test fixture (FIXTURES.md).  The base is a pure function of
``BASE_SEED``, so every checkout generates the same bytes and caches them.

``resample_corpus`` is the ``ingest_curation`` workload's per-seed input: the
base ``documents`` and ``embeddings`` tables resampled with replacement at
the same row counts, with fresh ids.
"""

from __future__ import annotations

import datetime
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

BASE_SEED = 42
TABLES = (
    "region", "nation", "supplier", "customer", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)
ROWS = {
    "supplier": 1_000,
    "customer": 15_000,
    "part": 20_000,
    "orders": 150_000,
    "lineitem": 600_000,
    "events": 100_000,
    "documents": 5_000,
    "embeddings": 2_000,
}
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
PART_ADJ = ("blue", "old", "small", "new", "red", "large", "hot", "cold")
PART_NOUN = ("widget", "gizmo", "ring", "gear", "bolt", "plate", "rod", "anvil")
PART_TYPES = ("LARGE", "ECONOMY", "SMALL", "STANDARD", "MEDIUM", "PROMO")
EVENT_TYPES = ("signup", "click", "view", "purchase", "error")
LANGS = ("en", "de", "fr", "es", "zh")
LANG_P = (0.41, 0.14, 0.15, 0.15, 0.15)
WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
EMBED_DIM = 64


def _choice(rng, values, n, p=None) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)])


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, start: datetime.date, end: datetime.date, n) -> pa.Array:
    span = (end - start).days
    day = np.datetime64(start, "D") + rng.integers(0, span + 1, n)
    return pa.array(day.astype("datetime64[us]"), pa.timestamp("us"))


def _region():
    return pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": pa.array(REGIONS),
    })


def _nation():
    keys = np.arange(25, dtype=np.int32)
    return pa.table({
        "n_nationkey": pa.array(keys),
        "n_name": pa.array([f"NATION_{i}" for i in keys]),
        "n_regionkey": pa.array(keys % 5),
    })


def _supplier(rng, n):
    return pa.table({
        "s_suppkey": pa.array(np.arange(n, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n).astype(np.int32)),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n)),
    })


def _customer(rng, n):
    return pa.table({
        "c_custkey": pa.array(np.arange(n, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n).astype(np.int32)),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n)),
        "c_mktsegment": _choice(rng, SEGMENTS, n),
    })


def _part(rng, n):
    keys = np.arange(n, dtype=np.int64)
    adj = np.asarray(PART_ADJ, dtype=object)[rng.integers(0, 8, n)]
    noun = np.asarray(PART_NOUN, dtype=object)[rng.integers(0, 8, n)]
    return pa.table({
        "p_partkey": pa.array(keys),
        "p_name": pa.array(adj + " " + noun),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n)]),
        "p_type": _choice(rng, PART_TYPES, n),
        "p_size": pa.array(rng.integers(1, 51, n).astype(np.int32)),
        "p_retailprice": pa.array(np.round(900 + (keys % 1000) / 10.0, 2)),
    })


def _orders(rng, n, n_cust):
    return pa.table({
        "o_orderkey": pa.array(np.arange(n, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n).astype(np.int64)),
        "o_orderstatus": _choice(rng, ("O", "F", "P"), n),
        "o_totalprice": pa.array(_money(rng, 1000.0, 500000.0, n)),
        "o_orderdate": _days(rng, datetime.date(1995, 1, 1), datetime.date(2001, 8, 1), n),
        "o_orderpriority": _choice(rng, PRIORITIES, n),
    })


def _lineitem(rng, n, n_orders, n_part, n_supp):
    return pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_orders, n).astype(np.int64)),
        "l_partkey": pa.array(rng.integers(0, n_part, n).astype(np.int64)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n).astype(np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, n).astype(np.int32)),
        "l_quantity": pa.array(rng.integers(1, 51, n).astype(np.float64)),
        "l_extendedprice": pa.array(_money(rng, 900.0, 105000.0, n)),
        "l_discount": pa.array(rng.integers(0, 11, n) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n) / 100.0),
        "l_returnflag": _choice(rng, ("A", "N", "R"), n),
        "l_linestatus": _choice(rng, ("O", "F"), n),
        "l_shipdate": _days(rng, datetime.date(1995, 1, 2), datetime.date(2001, 11, 4), n),
    })


def _events(rng, n):
    start = np.datetime64("2024-01-01T00:00:00", "us")
    span_us = 30 * 86_400 * 1_000_000
    ts = start + np.sort(rng.integers(0, span_us, n)).astype("timedelta64[us]")
    return pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 1500, n).astype(np.int64)),
        "event_type": _choice(rng, EVENT_TYPES, n),
        "value": pa.array(np.round(rng.exponential(50.0, n), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    })


def _documents(rng, n):
    """Word-salad documents over a 30-word vocabulary; ~5% are copies of
    an earlier document with a trailing ``dup`` token (near duplicates)
    and a few are exact copies, as in the test fixture."""
    words = np.asarray(WORDS, dtype=object)
    texts: list[str] = []
    for i in range(n):
        r = rng.random()
        if i > 10 and r < 0.05:
            texts.append(texts[rng.integers(0, i)] + " dup")
        elif i > 10 and r < 0.053:
            texts.append(texts[rng.integers(0, i)])
        else:
            texts.append(" ".join(words[rng.integers(0, len(words), rng.integers(12, 100))]))
    ids = np.arange(n, dtype=np.int64)
    return pa.table({
        "doc_id": pa.array(ids),
        "text": pa.array(texts),
        "lang": _choice(rng, LANGS, n, p=LANG_P),
        "source": pa.array([f"src{i % 20}" for i in ids]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })


def _embeddings(rng, n):
    """Unit-norm 64-d float vectors around ten label centroids."""
    labels = rng.integers(0, 10, n)
    centers = rng.normal(0.0, 1.0, (10, EMBED_DIM))
    vecs = centers[labels] + rng.normal(0.0, 1.5, (n, EMBED_DIM))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    flat = pa.array(vecs.astype(np.float32).ravel(), pa.float32())
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.ListArray.from_arrays(
            pa.array(np.arange(0, n * EMBED_DIM + 1, EMBED_DIM, dtype=np.int32)), flat
        ),
        "label": pa.array(labels.astype(np.int32)),
    })


def base_tables(seed: int = BASE_SEED) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n = ROWS
    return {
        "region": _region(),
        "nation": _nation(),
        "supplier": _supplier(rng, n["supplier"]),
        "customer": _customer(rng, n["customer"]),
        "part": _part(rng, n["part"]),
        "orders": _orders(rng, n["orders"], n["customer"]),
        "lineitem": _lineitem(rng, n["lineitem"], n["orders"], n["part"], n["supplier"]),
        "events": _events(rng, n["events"]),
        "documents": _documents(rng, n["documents"]),
        "embeddings": _embeddings(rng, n["embeddings"]),
    }


def write_tables(tables: dict[str, pa.Table], out_dir: str) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


def write_base(out_dir: str) -> None:
    write_tables(base_tables(), out_dir)


def resample_corpus(base_dir: str, seed: int) -> dict[str, pa.Table]:
    """``documents`` and ``embeddings`` drawn with replacement from the
    base at the same row counts; ids are renumbered 0..n-1."""
    rng = np.random.default_rng(seed)
    out = {}
    for name, id_col in (("documents", "doc_id"), ("embeddings", "vec_id")):
        t = pq.read_table(os.path.join(base_dir, f"{name}.parquet"))
        t = t.take(pa.array(rng.integers(0, t.num_rows, t.num_rows)))
        ids = pa.array(np.arange(t.num_rows, dtype=np.int64))
        out[name] = t.set_column(t.schema.get_field_index(id_col), id_col, ids)
    return out
