"""Seeded input generator for the benchmark.

Writes the ten fixture tables the query registry reads (region, nation,
customer, supplier, part, orders, lineitem, events, documents,
embeddings) as one parquet file and ONE row group each, so every scan
arrives single-partition exactly like the shipped fixtures.  Schemas,
value ranges and planted duplicates follow the fixture tables; the
values themselves are drawn from ``numpy.random.default_rng(seed)`` and
the rows are permuted by the seed, so the same seed always yields the
same bytes and another seed gives another row order and other values.

``scale`` is the fixture scale factor: 0.1 gives 600k lineitem rows,
0.01 gives 60k.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
PART_ADJ = ["small", "red", "blue", "hot", "old", "large", "green", "cold"]
PART_NOUN = ["ring", "widget", "bolt", "gear", "plate", "rod", "pipe", "nut"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]

_DAY_US = 86_400 * 1_000_000


def _sizes(scale: float) -> dict[str, int]:
    return {
        "customer": int(150_000 * scale),
        "supplier": max(100, int(10_000 * scale)),
        "part": int(200_000 * scale),
        "orders": int(1_500_000 * scale),
        "lineitem": int(6_000_000 * scale),
        "events": int(1_000_000 * scale),
        "documents": max(500, int(50_000 * scale)),
        "embeddings": max(500, int(20_000 * scale)),
    }


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return rng.integers(int(lo * 100), int(hi * 100), n) / 100.0


def _days(rng, start: str, end: str, n: int) -> np.ndarray:
    lo = np.datetime64(start, "D").astype("int64")
    hi = np.datetime64(end, "D").astype("int64")
    return (rng.integers(lo, hi + 1, n) * _DAY_US).astype("datetime64[us]")


def _keyed_names(prefix: str, n: int) -> list[str]:
    return [f"{prefix}#{i:09d}" for i in range(n)]


def _documents(rng, n: int) -> dict:
    texts = [
        " ".join(rng.choice(WORDS, int(rng.integers(10, 101))))
        for _ in range(n)
    ]
    # planted near-duplicates (5%: one word of an earlier doc swapped
    # for "dup") and exact duplicates (0.2%), as in the fixtures
    for i in rng.choice(np.arange(1, n), n // 20, replace=False):
        words = texts[int(rng.integers(0, i))].split()
        words[int(rng.integers(0, len(words)))] = "dup"
        texts[i] = " ".join(words)
    for i in rng.choice(np.arange(1, n), max(1, n // 500), replace=False):
        texts[i] = texts[int(rng.integers(0, i))]
    ids = np.arange(n, dtype="int64")
    return {
        "doc_id": ids,
        "text": texts,
        "lang": rng.choice(LANGS, n, p=LANG_P),
        "source": [f"src{i % 20}" for i in ids],
        "n_chars": np.array([len(t) for t in texts], dtype="int64"),
    }


def tables(seed: int, scale: float) -> dict[str, pa.Table]:
    """The ten tables for ``seed`` at ``scale``, rows permuted by seed."""
    rng = np.random.default_rng(seed)
    n = _sizes(scale)
    cols: dict[str, dict] = {
        "region": {
            "r_regionkey": np.arange(5, dtype="int32"),
            "r_name": REGIONS,
        },
        "nation": {
            "n_nationkey": np.arange(25, dtype="int32"),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": (np.arange(25) % 5).astype("int32"),
        },
    }
    cols["customer"] = {
        "c_custkey": np.arange(n["customer"], dtype="int64"),
        "c_name": _keyed_names("Customer", n["customer"]),
        "c_nationkey": rng.integers(0, 25, n["customer"]).astype("int32"),
        "c_acctbal": _money(rng, -999.99, 9999.99, n["customer"]),
        "c_mktsegment": rng.choice(SEGMENTS, n["customer"]),
    }
    cols["supplier"] = {
        "s_suppkey": np.arange(n["supplier"], dtype="int64"),
        "s_name": _keyed_names("Supplier", n["supplier"]),
        "s_nationkey": rng.integers(0, 25, n["supplier"]).astype("int32"),
        "s_acctbal": _money(rng, -999.99, 9999.99, n["supplier"]),
    }
    pk = np.arange(n["part"], dtype="int64")
    cols["part"] = {
        "p_partkey": pk,
        "p_name": [
            f"{PART_ADJ[a]} {PART_NOUN[b]}"
            for a, b in rng.integers(0, 8, (n["part"], 2))
        ],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n["part"])],
        "p_type": rng.choice(PTYPES, n["part"]),
        "p_size": rng.integers(1, 51, n["part"]).astype("int32"),
        "p_retailprice": 900.0 + (pk % 1000) / 10.0,
    }
    cols["orders"] = {
        "o_orderkey": np.arange(n["orders"], dtype="int64"),
        "o_custkey": rng.integers(0, n["customer"], n["orders"]),
        "o_orderstatus": rng.choice(["F", "O", "P"], n["orders"]),
        "o_totalprice": _money(rng, 1000.0, 500000.0, n["orders"]),
        "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", n["orders"]),
        "o_orderpriority": rng.choice(PRIORITIES, n["orders"]),
    }
    nl = n["lineitem"]
    cols["lineitem"] = {
        "l_orderkey": rng.integers(0, n["orders"], nl),
        "l_partkey": rng.integers(0, n["part"], nl),
        "l_suppkey": rng.integers(0, n["supplier"], nl),
        "l_linenumber": rng.integers(1, 8, nl).astype("int32"),
        "l_quantity": rng.integers(1, 51, nl).astype("float64"),
        "l_extendedprice": _money(rng, 900.0, 105000.0, nl),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], nl),
        "l_linestatus": rng.choice(["F", "O"], nl),
        "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", nl),
    }
    ne = n["events"]
    gaps = rng.exponential(30 * _DAY_US / ne, ne).astype("int64") + 1
    start = np.datetime64("2024-01-01T00:00:00", "us").astype("int64")
    cols["events"] = {
        "event_id": np.arange(ne, dtype="int64"),
        "ts": (start + np.cumsum(gaps)).astype("datetime64[us]"),
        "user_id": rng.integers(0, max(150, int(15_000 * scale)), ne),
        "event_type": rng.choice(EVENT_TYPES, ne),
        "value": np.round(rng.exponential(50.0, ne), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
    }
    cols["documents"] = _documents(rng, n["documents"])
    nv = n["embeddings"]
    emb = rng.standard_normal((nv, 64)).astype("float32")
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    cols["embeddings"] = {
        "vec_id": np.arange(nv, dtype="int64"),
        "embedding": pa.FixedSizeListArray.from_arrays(emb.ravel(), 64).cast(
            pa.list_(pa.field("element", pa.float32()))
        ),
        "label": rng.integers(0, 10, nv).astype("int32"),
    }
    out = {}
    for name, c in cols.items():
        t = pa.table(c)
        out[name] = t.take(rng.permutation(t.num_rows))
    return out


def write_tables(out_dir: str, seed: int, scale: float) -> dict[str, int]:
    """Write every table to ``out_dir/<name>.parquet`` (one row group
    each); return the row count per table."""
    os.makedirs(out_dir, exist_ok=True)
    counts = {}
    for name, t in tables(seed, scale).items():
        pq.write_table(
            t, os.path.join(out_dir, f"{name}.parquet"),
            row_group_size=max(1, t.num_rows),
        )
        counts[name] = t.num_rows
    return counts
