"""Seeded generation of the star-schema tables the registry entries read.

Benchmark-side: plain numpy + pyarrow, no Spark, so its cost never lands
in a measured number. The tables follow the sf0.1 test tables the
registry's oracles are written against (same schemas, value domains and
row counts). They come from a fixed seed and are cached in the work
directory; ``--seed`` varies the records workload's own inputs
(``records.py``) and the streaming replay order instead.
"""

from __future__ import annotations

import datetime as dt
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLE_SEED = 42
TABLE_VERSION = 1

# Rows per table at sf0.1, the scale bench.py measures at.
SF01_ROWS = {
    "customer": 15_000,
    "supplier": 1_000,
    "part": 20_000,
    "orders": 150_000,
    "lineitem": 600_000,
    "events": 100_000,
    "documents": 5_000,
    "embeddings": 2_000,
}
EVENT_USERS = 1_500
DUP_DOC_SHARE = 0.05
EMB_DIM = 64

WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
COLORS = ["blue", "red", "green", "hot", "cold", "large", "small", "old"]
THINGS = ["bolt", "ring", "plate", "gear", "widget", "nut", "pipe", "spring"]
EVENT_TYPES = ["view", "click", "purchase", "signup", "error"]
LANGS = ["en", "fr", "de", "es", "zh"]
LANG_P = [0.41, 0.15, 0.14, 0.15, 0.15]


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, start: dt.date, end: dt.date, n: int) -> pa.Array:
    base = np.datetime64(start, "us")
    span = (end - start).days
    d = rng.integers(0, span + 1, n).astype("timedelta64[D]").astype("timedelta64[us]")
    return pa.array(base + d, type=pa.timestamp("us"))


def _pick(rng, values: list[str], n: int, p=None) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)])


def unit_vectors(rng, n: int, dim: int = EMB_DIM) -> np.ndarray:
    m = rng.standard_normal((n, dim))
    return (m / np.linalg.norm(m, axis=1, keepdims=True)).astype(np.float32)


def _vectors(m: np.ndarray) -> pa.Array:
    n, dim = m.shape
    offsets = np.arange(0, (n + 1) * dim, dim, dtype=np.int32)
    return pa.ListArray.from_arrays(pa.array(offsets), pa.array(m.reshape(-1)))


def _documents(rng, n: int) -> pa.Table:
    lengths = rng.integers(10, 101, n)
    words = np.asarray(WORDS, dtype=object)
    texts = [" ".join(words[rng.integers(0, len(WORDS), k)]) for k in lengths]
    # Near-duplicates: a copy of an earlier document plus a marker word,
    # so the dedup entries find clusters.
    n_dup = int(n * DUP_DOC_SHARE)
    for i in sorted(rng.choice(np.arange(1, n), n_dup, replace=False)):
        texts[i] = texts[int(rng.integers(0, i))] + " dup"
    ids = np.arange(n, dtype=np.int64)
    return pa.table(
        {
            "doc_id": ids,
            "text": pa.array(texts),
            "lang": _pick(rng, LANGS, n, LANG_P),
            "source": pa.array([f"src{i % 20}" for i in ids]),
            "n_chars": pa.array([len(t) for t in texts], type=pa.int64()),
        }
    )


def _tables(rng) -> dict[str, pa.Table]:
    r = SF01_ROWS
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS}
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    n = r["customer"]
    t["customer"] = pa.table(
        {
            "c_custkey": np.arange(n, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n)],
            "c_nationkey": rng.integers(0, 25, n).astype(np.int32),
            "c_acctbal": _money(rng, -999.99, 9999.99, n),
            "c_mktsegment": _pick(rng, SEGMENTS, n),
        }
    )
    n = r["supplier"]
    t["supplier"] = pa.table(
        {
            "s_suppkey": np.arange(n, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n)],
            "s_nationkey": rng.integers(0, 25, n).astype(np.int32),
            "s_acctbal": _money(rng, -999.99, 9999.99, n),
        }
    )
    n = r["part"]
    keys = np.arange(n, dtype=np.int64)
    names = [f"{c} {s}" for c in COLORS for s in THINGS]
    t["part"] = pa.table(
        {
            "p_partkey": keys,
            "p_name": _pick(rng, names, n),
            "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n)]),
            "p_type": _pick(rng, PART_TYPES, n),
            "p_size": rng.integers(1, 51, n).astype(np.int32),
            "p_retailprice": np.round(900 + (keys % 1000) / 10, 2),
        }
    )
    n = r["orders"]
    t["orders"] = pa.table(
        {
            "o_orderkey": np.arange(n, dtype=np.int64),
            "o_custkey": rng.integers(0, r["customer"], n),
            "o_orderstatus": _pick(rng, ["F", "O", "P"], n),
            "o_totalprice": _money(rng, 1000, 500000, n),
            "o_orderdate": _days(rng, dt.date(1995, 1, 1), dt.date(2001, 8, 1), n),
            "o_orderpriority": _pick(rng, PRIORITIES, n),
        }
    )
    n = r["lineitem"]
    t["lineitem"] = pa.table(
        {
            "l_orderkey": rng.integers(0, r["orders"], n),
            "l_partkey": rng.integers(0, r["part"], n),
            "l_suppkey": rng.integers(0, r["supplier"], n),
            "l_linenumber": rng.integers(1, 8, n).astype(np.int32),
            "l_quantity": rng.integers(1, 51, n).astype(np.float64),
            "l_extendedprice": _money(rng, 900, 105000, n),
            "l_discount": rng.integers(0, 11, n) / 100.0,
            "l_tax": rng.integers(0, 9, n) / 100.0,
            "l_returnflag": _pick(rng, ["A", "N", "R"], n),
            "l_linestatus": _pick(rng, ["O", "F"], n),
            "l_shipdate": _days(rng, dt.date(1995, 1, 2), dt.date(2001, 11, 4), n),
        }
    )
    n = r["events"]
    start = np.datetime64("2024-01-01T00:00:00", "us")
    span_us = 30 * 86_400 * 1_000_000
    ts = start + np.sort(rng.choice(span_us, n, replace=False)).astype("timedelta64[us]")
    t["events"] = pa.table(
        {
            "event_id": np.arange(n, dtype=np.int64),
            "ts": pa.array(ts, type=pa.timestamp("us")),
            "user_id": rng.integers(0, EVENT_USERS, n),
            "event_type": _pick(rng, EVENT_TYPES, n),
            "value": np.round(rng.exponential(50.0, n), 2),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
        }
    )
    t["documents"] = _documents(rng, r["documents"])
    n = r["embeddings"]
    t["embeddings"] = pa.table(
        {
            "vec_id": np.arange(n, dtype=np.int64),
            "embedding": _vectors(unit_vectors(rng, n)),
            "label": rng.integers(0, 10, n).astype(np.int32),
        }
    )
    return t


def write_tables(work_dir: str) -> str:
    """Write the star-schema tables once per work directory and return
    their directory (``<name>.parquet`` per table, the layout
    ``sum_spark.sources.tables.load_table`` and the DuckDB oracle read).
    The directory appears atomically, so an interrupted write is redone
    on the next run."""
    out = os.path.join(work_dir, f"tables-sf0.1-s{TABLE_SEED}-v{TABLE_VERSION}")
    if os.path.isdir(out):
        return out
    tmp = out + f".tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    for name, table in _tables(np.random.default_rng(TABLE_SEED)).items():
        pq.write_table(table, os.path.join(tmp, f"{name}.parquet"))
    os.rename(tmp, out)
    return out
