"""Seeded synthetic inputs for the benchmark.

Writes the ten tables the package reads (``io.TABLES``) as one parquet
file each, with the column names, types and value domains of the
package's test data: a TPC-H-style star schema, an ``events`` stream,
a ``documents`` corpus with copy-derived near-duplicates, and unit
``embeddings``. The same ``(seed, sf)`` always gives the same bytes of
data, so the program under test receives only generated inputs.

Row counts scale with ``sf`` the way the test data does (sf 0.1 ⇒
600k lineitem rows, 5k documents).
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("MACHINERY", "AUTOMOBILE", "FURNITURE", "HOUSEHOLD", "BUILDING")
PART_ADJ = ("blue", "cold", "hot", "large", "new", "old", "red", "small")
PART_NOUN = ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
PART_TYPES = ("LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("signup", "click", "error", "view", "purchase")
LANGS = ("en", "de", "es", "fr", "zh")
LANG_P = (0.4, 0.15, 0.15, 0.15, 0.15)
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
#: share of documents that are a near-duplicate (one inserted word) of
#: an earlier original, and share that are an exact copy of one
NEAR_DUP_FRAC = 0.05
EXACT_DUP_FRAC = 0.002

_EPOCH = dt.datetime(1970, 1, 1)


def _micros(day: dt.datetime) -> int:
    return (day - _EPOCH) // dt.timedelta(microseconds=1)


def _days(rng: np.random.Generator, start: dt.datetime, n_days: int, n: int):
    us = _micros(start) + rng.integers(0, n_days + 1, n) * 86_400_000_000
    return pa.array(us, pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int):
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng: np.random.Generator, values, n: int, p=None):
    return pa.array(np.asarray(list(values), dtype=object)[rng.choice(len(values), n, p=p)])


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    """Random-word documents of 10-100 words. A few later documents are
    exact copies or one-word near-copies of a distinct earlier
    original, so every duplicate cluster is a pair and replaying the
    corpus in doc_id order meets the original first."""
    lengths = rng.integers(10, 101, n)
    words = np.asarray(VOCAB, dtype=object)
    texts = [" ".join(words[rng.integers(0, len(VOCAB), k)]) for k in lengths]
    n_copies = int(n * (NEAR_DUP_FRAC + EXACT_DUP_FRAC))
    copies = np.sort(rng.choice(np.arange(n // 2, n), n_copies, replace=False))
    is_copy = np.zeros(n, bool)
    is_copy[copies] = True
    free = [i for i in range(n // 2) if not is_copy[i]]
    sources = rng.choice(len(free), n_copies, replace=False)
    n_exact = int(n * EXACT_DUP_FRAC)
    for j, (dst, src_ix) in enumerate(zip(copies, sources)):
        src = texts[free[src_ix]].split()
        if j >= n_exact:
            src.insert(int(rng.integers(0, len(src) + 1)), "dup")
        texts[dst] = " ".join(src)
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": pa.array(texts),
            "lang": _pick(rng, LANGS, n, LANG_P),
            "source": pa.array([f"src{i % 20}" for i in range(n)]),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def _events(rng: np.random.Generator, n: int, n_users: int) -> pa.Table:
    """Strictly increasing microsecond timestamps over 30 days."""
    mean_gap = 30 * 86_400_000_000 // n
    ts = _micros(dt.datetime(2024, 1, 1)) + np.cumsum(
        rng.integers(1, 2 * mean_gap, n)
    )
    return pa.table(
        {
            "event_id": pa.array(np.arange(n), pa.int64()),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, n_users, n), pa.int64()),
            "event_type": _pick(rng, EVENT_TYPES, n),
            "value": np.round(rng.exponential(50.0, n), 2),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
        }
    )


def make_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """All ten tables for one ``(seed, sf)``."""
    rng = np.random.default_rng(seed)
    n_cust, n_supp = int(150_000 * sf), max(int(10_000 * sf), 10)
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    n_line, n_ev = int(6_000_000 * sf), int(1_000_000 * sf)
    n_docs, n_emb = int(50_000 * sf), max(int(20_000 * sf), 500)
    i32 = pa.int32()
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), i32), "r_name": list(REGIONS)}
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), i32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
        }
    )
    t["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": _pick(rng, SEGMENTS, n_cust),
        }
    )
    t["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }
    )
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    t["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(n_part), pa.int64()),
            "p_name": _pick(rng, names, n_part),
            "p_brand": pa.array(
                [f"Brand#{b}" for b in rng.integers(1, 26, n_part)]
            ),
            "p_type": _pick(rng, PART_TYPES, n_part),
            "p_size": pa.array(rng.integers(1, 51, n_part), i32),
            "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 1),
        }
    )
    t["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
            "o_orderstatus": _pick(rng, "FOP", n_ord),
            "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
            "o_orderdate": _days(rng, dt.datetime(1995, 1, 1), 2404, n_ord),
            "o_orderpriority": _pick(rng, PRIORITIES, n_ord),
        }
    )
    t["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n_line), i32),
            "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105_000.0, n_line),
            "l_discount": rng.integers(0, 11, n_line) / 100,
            "l_tax": rng.integers(0, 9, n_line) / 100,
            "l_returnflag": _pick(rng, "ANR", n_line),
            "l_linestatus": _pick(rng, "FO", n_line),
            "l_shipdate": _days(rng, dt.datetime(1995, 1, 2), 2498, n_line),
        }
    )
    t["events"] = _events(rng, n_ev, max(n_cust // 10, 10))
    t["documents"] = _documents(rng, n_docs)
    emb = rng.standard_normal((n_emb, 64)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    t["embeddings"] = pa.table(
        {
            "vec_id": pa.array(np.arange(n_emb), pa.int64()),
            "embedding": pa.array(list(emb), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n_emb), i32),
        }
    )
    return t


def write_tables(out_dir: str, seed: int, sf: float) -> dict[str, int]:
    """Write every table to ``<out_dir>/<name>.parquet``; return row
    counts by table."""
    os.makedirs(out_dir, exist_ok=True)
    counts = {}
    for name, table in make_tables(seed, sf).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
        counts[name] = table.num_rows
    return counts


def split_by_key(
    table: pa.Table, key: str, cuts: list[int], out_dir: str, prefix: str
) -> list[str]:
    """Write ``table`` as one file per key range ``[cuts[i], cuts[i+1])``
    (the stream's arrival order), stamping increasing mtimes so a file
    source admits them in that order. Returns the file paths."""
    import pyarrow.compute as pc

    os.makedirs(out_dir, exist_ok=True)
    paths = []
    base = 1_700_000_000
    col = table[key]
    for i, (lo, hi) in enumerate(zip(cuts, cuts[1:])):
        mask = pc.and_(pc.greater_equal(col, lo), pc.less(col, hi))
        path = os.path.join(out_dir, f"{prefix}{i:03d}.parquet")
        pq.write_table(table.filter(mask), path)
        os.utime(path, (base + i, base + i))
        paths.append(path)
    return paths
