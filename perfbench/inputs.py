"""Seeded benchmark inputs, written as parquet next to the run.

The engine reads its tables from a directory of ``<table>.parquet``
files (``sources.catalog.load_table``). This module writes such a
directory from a seed alone, with the schemas and value distributions
of the repository's sf0.001/sf0.01/sf0.1 fixtures (FIXTURES.md §A):
uniform keys, the same categorical domains and date ranges, one row
group per file. The same ``(seed, sf)`` always gives byte-identical
tables.

``documents`` has the fixtures' near-duplicate shape: in the sf0.01
and sf0.1 fixtures, 25 of 500 and 250 of 5,000 documents (5%) are the
text of another document with the word ``dup`` appended, so the
near-duplicate operators find real clusters.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TPCH_TABLES = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem")
TABLES = TPCH_TABLES + ("documents",)

REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PART_ADJ = ("blue", "cold", "hot", "large", "new", "old", "red", "small")
PART_NOUN = ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
LANGS = ("en", "de", "es", "fr", "zh")
LANG_P = (0.44, 0.14, 0.14, 0.14, 0.14)
WORDS = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window"
).split()
DOC_WORDS = (10, 100)  # words per document, inclusive

DAY_S = 86_400
DATE_LO = 788_918_400  # 1995-01-01 UTC, the fixtures' first order date
DATE_DAYS = 2_404  # ... through 2001-08-01
NEAR_DUP_SHARE = 0.05  # measured in the fixtures, see the module docstring


def _ts(days: np.ndarray) -> pa.Array:
    return pa.array((DATE_LO + days.astype(np.int64) * DAY_S) * 1_000_000, pa.timestamp("us"))


def _names(prefix: str, n: int) -> list[str]:
    return [f"{prefix}#{i:09d}" for i in range(n)]


def _money(rng: np.random.RandomState, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _documents(rng: np.random.RandomState, n: int) -> dict[str, pa.Array]:
    lo, hi = DOC_WORDS
    base = [" ".join(WORDS[j] for j in rng.randint(0, len(WORDS), rng.randint(lo, hi + 1)))
            for _ in range(n)]
    texts = list(base)
    for i in rng.choice(n, round(NEAR_DUP_SHARE * n), replace=False):
        src = rng.randint(0, n - 1)
        texts[i] = base[src + (src >= i)] + " dup"
    return {
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(rng.choice(LANGS, n, p=LANG_P).tolist()),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    }


def build_tables(seed: int, sf: float) -> dict[str, dict[str, pa.Array]]:
    """Column arrays of every table, drawn from one seeded stream each."""
    n_cust, n_supp = max(1, round(150_000 * sf)), max(1, round(10_000 * sf))
    n_part, n_ord = max(1, round(200_000 * sf)), max(1, round(1_500_000 * sf))
    n_line, n_docs = max(1, round(6_000_000 * sf)), max(2, round(50_000 * sf))
    rngs = {t: np.random.RandomState((seed * 1_000_003 + i) % 2**32) for i, t in enumerate(TABLES)}
    i32, i64 = np.int32, np.int64

    r = rngs["customer"]
    customer = {
        "c_custkey": pa.array(np.arange(n_cust, dtype=i64)),
        "c_name": pa.array(_names("Customer", n_cust)),
        "c_nationkey": pa.array(r.randint(0, 25, n_cust).astype(i32)),
        "c_acctbal": pa.array(_money(r, -999.99, 9999.99, n_cust)),
        "c_mktsegment": pa.array(r.choice(SEGMENTS, n_cust).tolist()),
    }
    r = rngs["supplier"]
    supplier = {
        "s_suppkey": pa.array(np.arange(n_supp, dtype=i64)),
        "s_name": pa.array(_names("Supplier", n_supp)),
        "s_nationkey": pa.array(r.randint(0, 25, n_supp).astype(i32)),
        "s_acctbal": pa.array(_money(r, -999.99, 9999.99, n_supp)),
    }
    r = rngs["part"]
    keys = np.arange(n_part, dtype=i64)
    part = {
        "p_partkey": pa.array(keys),
        "p_name": pa.array(
            [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in zip(r.randint(0, 8, n_part), r.randint(0, 8, n_part))]
        ),
        "p_brand": pa.array([f"Brand#{b}" for b in r.randint(1, 26, n_part)]),
        "p_type": pa.array(r.choice(PART_TYPES, n_part).tolist()),
        "p_size": pa.array(r.randint(1, 51, n_part).astype(i32)),
        "p_retailprice": pa.array(np.round(900.0 + (keys % 1000) * 0.1, 2)),
    }
    r = rngs["orders"]
    orders = {
        "o_orderkey": pa.array(np.arange(n_ord, dtype=i64)),
        "o_custkey": pa.array(r.randint(0, n_cust, n_ord).astype(i64)),
        "o_orderstatus": pa.array(r.choice(("F", "O", "P"), n_ord).tolist()),
        "o_totalprice": pa.array(_money(r, 1000.0, 500_000.0, n_ord)),
        "o_orderdate": _ts(r.randint(0, DATE_DAYS, n_ord)),
        "o_orderpriority": pa.array(r.choice(PRIORITIES, n_ord).tolist()),
    }
    r = rngs["lineitem"]
    qty = r.randint(1, 51, n_line).astype(np.float64)
    lineitem = {
        "l_orderkey": pa.array(r.randint(0, n_ord, n_line).astype(i64)),
        "l_partkey": pa.array(r.randint(0, n_part, n_line).astype(i64)),
        "l_suppkey": pa.array(r.randint(0, n_supp, n_line).astype(i64)),
        "l_linenumber": pa.array(r.randint(1, 8, n_line).astype(i32)),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(np.round(qty * r.uniform(900.0, 2100.0, n_line), 2)),
        "l_discount": pa.array(r.randint(0, 11, n_line) / 100.0),
        "l_tax": pa.array(r.randint(0, 9, n_line) / 100.0),
        "l_returnflag": pa.array(r.choice(("A", "N", "R"), n_line).tolist()),
        "l_linestatus": pa.array(r.choice(("F", "O"), n_line).tolist()),
        "l_shipdate": _ts(r.randint(1, DATE_DAYS + 95, n_line)),
    }
    return {
        "region": {
            "r_regionkey": pa.array(np.arange(5, dtype=i32)),
            "r_name": pa.array(list(REGIONS)),
        },
        "nation": {
            "n_nationkey": pa.array(np.arange(25, dtype=i32)),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": pa.array((np.arange(25) % 5).astype(i32)),
        },
        "customer": customer,
        "supplier": supplier,
        "part": part,
        "orders": orders,
        "lineitem": lineitem,
        "documents": _documents(rngs["documents"], n_docs),
    }


def write_tables(out_dir: str, seed: int, sf: float) -> dict[str, int]:
    """Write every table to ``out_dir/<table>.parquet``; returns row counts."""
    os.makedirs(out_dir, exist_ok=True)
    counts = {}
    for name, cols in build_tables(seed, sf).items():
        table = pa.table(cols)
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"), row_group_size=1 << 30)
        counts[name] = table.num_rows
    return counts
