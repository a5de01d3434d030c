"""Deterministic generator for the ten fixture tables the operators read.

The tables follow the schemas and value domains in FIXTURES.md: a
TPC-H-like star schema, an ``events`` stream, a word-salad ``documents``
table with planted near-duplicate pairs, and unit-norm ``embeddings``.
Column types match the parquet the operators were written against, so
every registered key and its DuckDB oracle run on the output unchanged.

    python3 perfbench/datagen.py <out_dir> <sf> [seed]
"""

from __future__ import annotations

import datetime as dt
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["MACHINERY", "HOUSEHOLD", "BUILDING", "FURNITURE", "AUTOMOBILE"]
PART_ADJ = ["small", "red", "blue", "hot", "cold", "old", "new", "large"]
PART_NOUN = ["ring", "widget", "bolt", "plate", "rod", "gizmo", "gear", "anvil"]
PART_TYPES = ["ECONOMY", "STANDARD", "LARGE", "MEDIUM", "SMALL", "PROMO"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]
VOCAB = (
    "spark window merge table column vector stream value data small join filter "
    "big group hash customer sort order slow line part fast row the agg key query "
    "a scan batch"
).split()
EMB_DIM = 64
_US_PER_DAY = 86_400_000_000


def row_counts(sf: float) -> dict[str, int]:
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


def _days(rng, n: int, lo: dt.date, hi: dt.date) -> pa.Array:
    """Midnight timestamps drawn uniformly from [lo, hi]."""
    epoch = dt.date(1970, 1, 1)
    d = rng.integers((lo - epoch).days, (hi - epoch).days + 1, n)
    return pa.array(d.astype(np.int64) * _US_PER_DAY, pa.timestamp("us"))


def _money(rng, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, values: list[str], n: int, p=None) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)])


def _documents(rng, n: int) -> pa.Table:
    texts = [" ".join(np.asarray(VOCAB)[rng.integers(0, len(VOCAB), rng.integers(10, 101))])
             for _ in range(n)]
    # 5% of documents come in near-duplicate pairs: both end in "dup" and
    # the copy differs from its original in at most one token.
    dup = rng.choice(n, size=2 * (n // 40), replace=False).reshape(-1, 2)
    for a, b in dup:
        words = texts[a].split(" ")
        if rng.random() < 0.7:
            words[rng.integers(0, len(words))] = VOCAB[rng.integers(0, len(VOCAB))]
        texts[a] += " dup"
        texts[b] = " ".join(words) + " dup"
    ids = np.arange(n, dtype=np.int64)
    return pa.table({
        "doc_id": ids,
        "text": texts,
        "lang": _pick(rng, LANGS, n, LANG_P),
        "source": [f"src{i % 20}" for i in ids],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def _embeddings(rng, n: int) -> pa.Table:
    v = rng.standard_normal((n, EMB_DIM))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    flat = pa.array(v.reshape(-1), pa.float32())
    offsets = pa.array(np.arange(0, n * EMB_DIM + 1, EMB_DIM, dtype=np.int32))
    return pa.table({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.ListArray.from_arrays(offsets, flat),
        "label": rng.integers(0, 10, n).astype(np.int32),
    })


def build_tables(sf: float, seed: int) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    c = row_counts(sf)
    i32, i64 = np.int32, np.int64
    keys = lambda t: np.arange(c[t], dtype=i64)  # noqa: E731
    out = {
        "region": pa.table({"r_regionkey": np.arange(5, dtype=i32), "r_name": REGIONS}),
        "nation": pa.table({
            "n_nationkey": np.arange(25, dtype=i32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": np.arange(25, dtype=i32) % 5,
        }),
        "customer": pa.table({
            "c_custkey": keys("customer"),
            "c_name": [f"Customer#{i:09d}" for i in range(c["customer"])],
            "c_nationkey": rng.integers(0, 25, c["customer"]).astype(i32),
            "c_acctbal": _money(rng, c["customer"], -999.99, 9999.99),
            "c_mktsegment": _pick(rng, SEGMENTS, c["customer"]),
        }),
        "supplier": pa.table({
            "s_suppkey": keys("supplier"),
            "s_name": [f"Supplier#{i:09d}" for i in range(c["supplier"])],
            "s_nationkey": rng.integers(0, 25, c["supplier"]).astype(i32),
            "s_acctbal": _money(rng, c["supplier"], -999.99, 9999.99),
        }),
        "part": pa.table({
            "p_partkey": keys("part"),
            "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in
                       rng.integers(0, 8, (c["part"], 2))],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, c["part"])],
            "p_type": _pick(rng, PART_TYPES, c["part"]),
            "p_size": rng.integers(1, 51, c["part"]).astype(i32),
            "p_retailprice": np.round(900 + (keys("part") % 1000) / 10, 2),
        }),
    }
    n = c["orders"]
    out["orders"] = pa.table({
        "o_orderkey": keys("orders"),
        "o_custkey": rng.integers(0, c["customer"], n).astype(i64),
        "o_orderstatus": _pick(rng, ["O", "F", "P"], n),
        "o_totalprice": _money(rng, n, 1000.0, 500_000.0),
        "o_orderdate": _days(rng, n, dt.date(1995, 1, 1), dt.date(2001, 8, 1)),
        "o_orderpriority": _pick(rng, PRIORITIES, n),
    })
    n = c["lineitem"]
    out["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, c["orders"], n).astype(i64),
        "l_partkey": rng.integers(0, c["part"], n).astype(i64),
        "l_suppkey": rng.integers(0, c["supplier"], n).astype(i64),
        "l_linenumber": rng.integers(1, 8, n).astype(i32),
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": _money(rng, n, 900.0, 105_000.0),
        "l_discount": _money(rng, n, 0.0, 0.10),
        "l_tax": _money(rng, n, 0.0, 0.08),
        "l_returnflag": _pick(rng, ["A", "N", "R"], n),
        "l_linestatus": _pick(rng, ["O", "F"], n),
        "l_shipdate": _days(rng, n, dt.date(1995, 1, 2), dt.date(2001, 11, 4)),
    })
    n = c["events"]
    start = int(dt.datetime(2024, 1, 1).timestamp()) * 1_000_000
    ts = np.sort(rng.integers(start + 1_000_000, start + 30 * _US_PER_DAY, n))
    out["events"] = pa.table({
        "event_id": np.arange(n, dtype=i64),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": rng.integers(0, max(1, c["customer"] // 10), n).astype(i64),
        "event_type": _pick(rng, EVENT_TYPES, n),
        "value": np.round(rng.exponential(50.0, n), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
    })
    out["documents"] = _documents(rng, c["documents"])
    out["embeddings"] = _embeddings(rng, c["embeddings"])
    return out


def write_tables(out_dir: str, sf: float, seed: int) -> None:
    """Write every table as ``<out_dir>/<name>.parquet``. The directory
    appears complete or not at all: tables go to a sibling staging
    directory that is renamed into place last."""
    staging = f"{out_dir}.tmp{os.getpid()}"
    os.makedirs(staging, exist_ok=True)
    for name, table in build_tables(sf, seed).items():
        pq.write_table(table, os.path.join(staging, f"{name}.parquet"), compression="snappy")
    os.rename(staging, out_dir)


if __name__ == "__main__":
    write_tables(sys.argv[1], float(sys.argv[2]), int(sys.argv[3]) if len(sys.argv) > 3 else 42)
