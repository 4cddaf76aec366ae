"""Deterministic input tables for the benchmark.

Writes the ten tables the catalog reads (``<dir>/<table>.parquet``, one
file each, the layout ``sources.load_table`` expects) with the same
column names, physical types and value domains as the repository's
test tiers: a TPC-H-like star schema, an ``events`` stream table, a
word-salad ``documents`` corpus with planted near duplicates and
clustered unit ``embeddings``.

Row counts scale with ``sf`` the way the test tiers do (sf0.1 holds
600k lineitem rows and 100k events). Generation is pure numpy/pandas,
so it costs no Spark time and never touches the program under test.

Run ``python3 perfbench/gen.py <out_dir> <sf>`` to write a tier by hand.
"""

from __future__ import annotations

import os
import sys

import numpy as np
import pandas as pd

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DATA_SEED = 42
_WORDS = (
    "a the spark window merge table column vector stream value data small "
    "join filter big group hash customer sort order slow line part fast "
    "row agg key query scan batch"
).split()
_ADJ = "blue cold hot red small new old large".split()
_NOUN = "ring plate gear rod bolt anvil widget gizmo".split()
_SEGMENTS = ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"]
_PTYPES = ["LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["signup", "click", "error", "view", "purchase"]
_LANGS = ["en", "zh", "de", "es", "fr"]
_LANG_P = [0.41, 0.15, 0.15, 0.145, 0.145]


def row_counts(sf: float) -> dict[str, int]:
    """Rows per table at scale ``sf`` (lineitem is approximate: 1-7
    lines per order)."""
    return {
        "region": 5,
        "nation": 25,
        "customer": max(int(150_000 * sf), 50),
        "supplier": max(int(10_000 * sf), 10),
        "part": max(int(200_000 * sf), 50),
        "orders": max(int(1_500_000 * sf), 200),
        "events": max(int(1_000_000 * sf), 500),
        "documents": max(int(50_000 * sf), 100),
        "embeddings": max(int(20_000 * sf), 200),
    }


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def make_tables(sf: float, seed: int = DATA_SEED) -> dict[str, pd.DataFrame]:
    rng = np.random.default_rng(seed)
    n = row_counts(sf)
    t: dict[str, pd.DataFrame] = {}
    t["region"] = pd.DataFrame(
        {
            "r_regionkey": np.arange(5, dtype=np.int32),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }
    )
    t["nation"] = pd.DataFrame(
        {
            "n_nationkey": np.arange(25, dtype=np.int32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": (np.arange(25) % 5).astype(np.int32),
        }
    )
    nc = n["customer"]
    t["customer"] = pd.DataFrame(
        {
            "c_custkey": np.arange(nc, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(nc)],
            "c_nationkey": rng.integers(0, 25, nc).astype(np.int32),
            "c_acctbal": _money(rng, -999.99, 9999.99, nc),
            "c_mktsegment": rng.choice(_SEGMENTS, nc),
        }
    )
    ns = n["supplier"]
    t["supplier"] = pd.DataFrame(
        {
            "s_suppkey": np.arange(ns, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
            "s_nationkey": rng.integers(0, 25, ns).astype(np.int32),
            "s_acctbal": _money(rng, -999.99, 9999.99, ns),
        }
    )
    npart = n["part"]
    pk = np.arange(npart, dtype=np.int64)
    t["part"] = pd.DataFrame(
        {
            "p_partkey": pk,
            "p_name": [
                f"{_ADJ[a]} {_NOUN[b]}"
                for a, b in zip(rng.integers(0, 8, npart), rng.integers(0, 8, npart))
            ],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, npart)],
            "p_type": rng.choice(_PTYPES, npart),
            "p_size": rng.integers(1, 51, npart).astype(np.int32),
            "p_retailprice": np.round(900.0 + (pk % 1000) * 0.1, 1),
        }
    )
    no = n["orders"]
    day0 = np.datetime64("1995-01-01", "us")
    odays = rng.integers(0, 2404, no)  # through 2001-08-01
    odate = day0 + odays.astype("timedelta64[D]")
    t["orders"] = pd.DataFrame(
        {
            "o_orderkey": np.arange(no, dtype=np.int64),
            "o_custkey": rng.integers(0, nc, no).astype(np.int64),
            "o_orderstatus": rng.choice(["O", "P", "F"], no),
            "o_totalprice": _money(rng, 1000.0, 500_000.0, no),
            "o_orderdate": odate,
            "o_orderpriority": rng.choice(_PRIORITIES, no),
        }
    )
    lines = rng.integers(1, 8, no)
    nl = int(lines.sum())
    lok = np.repeat(np.arange(no, dtype=np.int64), lines)
    starts = np.repeat(np.cumsum(lines) - lines, lines)
    lnum = (np.arange(nl) - starts + 1).astype(np.int32)
    ship = np.repeat(odate, lines) + rng.integers(1, 96, nl).astype("timedelta64[D]")
    li = pd.DataFrame(
        {
            "l_orderkey": lok,
            "l_partkey": rng.integers(0, npart, nl).astype(np.int64),
            "l_suppkey": rng.integers(0, ns, nl).astype(np.int64),
            "l_linenumber": lnum,
            "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105_000.0, nl),
            "l_discount": rng.integers(0, 11, nl) / 100.0,
            "l_tax": rng.integers(0, 9, nl) / 100.0,
            "l_returnflag": rng.choice(["A", "N", "R"], nl),
            "l_linestatus": rng.choice(["F", "O"], nl),
            "l_shipdate": ship,
        }
    )
    t["lineitem"] = li.iloc[rng.permutation(nl)].reset_index(drop=True)
    ne = n["events"]
    month_us = 30 * 86_400 * 1_000_000
    ts = np.datetime64("2024-01-01", "us") + np.sort(
        rng.integers(0, month_us, ne)
    ).astype("timedelta64[us]")
    t["events"] = pd.DataFrame(
        {
            "event_id": np.arange(ne, dtype=np.int64),
            "ts": ts,
            "user_id": rng.integers(0, max(ne // 66, 50), ne).astype(np.int64),
            "event_type": rng.choice(_EVENT_TYPES, ne),
            "value": np.round(rng.exponential(50.0, ne), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
        }
    )
    nd = n["documents"]
    texts = [
        " ".join(rng.choice(_WORDS, int(k))) for k in rng.integers(10, 101, nd)
    ]
    # plant near duplicates (a copy of an earlier document plus one
    # marker word) and a few exact duplicates for the dedup tiers
    for i in rng.choice(np.arange(1, nd), nd // 20, replace=False):
        texts[i] = texts[int(rng.integers(0, i))] + " dup"
    for i in rng.choice(np.arange(1, nd), max(nd // 600, 1), replace=False):
        texts[i] = texts[int(rng.integers(0, i))]
    t["documents"] = pd.DataFrame(
        {
            "doc_id": np.arange(nd, dtype=np.int64),
            "text": texts,
            "lang": rng.choice(_LANGS, nd, p=_LANG_P),
            "source": [f"src{i % 20}" for i in range(nd)],
            "n_chars": np.array([len(s) for s in texts], dtype=np.int64),
        }
    )
    nv = n["embeddings"]
    centers = rng.normal(0.0, 1.0, (10, 64))
    label = rng.integers(0, 10, nv)
    vec = centers[label] + rng.normal(0.0, 0.8, (nv, 64))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pd.DataFrame(
        {
            "vec_id": np.arange(nv, dtype=np.int64),
            "embedding": list(vec),
            "label": label.astype(np.int32),
        }
    )
    return t


def write_tier(out_dir: str, sf: float) -> dict[str, int]:
    """Write every table under ``out_dir``; returns rows per table.
    Files land under a temporary name first so an interrupted write
    never leaves a tier that looks complete."""
    os.makedirs(out_dir, exist_ok=True)
    counts = {}
    for name, df in make_tables(sf).items():
        path = os.path.join(out_dir, f"{name}.parquet")
        df.to_parquet(path + ".tmp", index=False)
        os.replace(path + ".tmp", path)
        counts[name] = len(df)
    return counts


if __name__ == "__main__":
    print(write_tier(sys.argv[1], float(sys.argv[2])))
