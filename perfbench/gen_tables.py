"""Seeded parquet tables for the ``survey_query`` workload.

Writes the ten tables ``dhs_to_database_spark.sources.tables`` loads
(region nation customer supplier part orders lineitem events documents
embeddings), one parquet file each, with the column names and types of the
engine's test corpus. Sizes follow the scale factor ``sf`` the way that
corpus does (lineitem = 6M x sf rows). Values are uniform random draws, the
text is random words from a small vocabulary with planted exact and near
duplicates, and the embeddings are random unit vectors.

The same seed and sf give byte-identical files.

Usage: python3 perfbench/gen_tables.py OUT_DIR [--seed N] [--sf 0.01]
"""

from __future__ import annotations

import argparse
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "a the data table column row key value join sort merge hash scan filter"
    " group agg window stream batch query spark vector order line part"
    " customer small big fast slow"
).split()
LANGS = ("en", "zh", "es", "fr", "de")
LANG_P = (0.4, 0.15, 0.15, 0.15, 0.15)
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
PART_ADJ = ("blue", "red", "hot", "cold", "old", "large", "small", "shiny")
PART_NOUN = ("ring", "bolt", "plate", "gear", "widget", "rod", "anvil", "gizmo")
EVENT_TYPES = ("click", "view", "purchase", "signup", "error")
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
DAY_US = 86_400_000_000


def _days(rng: np.random.Generator, n: int, first: str, last: str) -> np.ndarray:
    lo = np.datetime64(first, "D").astype(np.int64)
    hi = np.datetime64(last, "D").astype(np.int64)
    return (rng.integers(lo, hi + 1, n) * DAY_US).astype("datetime64[us]")


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng: np.random.Generator, choices, n: int, p=None) -> list[str]:
    return [choices[i] for i in rng.choice(len(choices), n, p=p)]


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    texts: list[str] = []
    for i in range(n):
        r = rng.random()
        if i > 10 and r < 0.02:  # exact duplicate of an earlier document
            texts.append(texts[int(rng.integers(0, i))])
        elif i > 10 and r < 0.12:  # near duplicate: a few words replaced
            words = texts[int(rng.integers(0, i))].split()
            for j in rng.choice(len(words), max(1, len(words) // 12), replace=False):
                words[j] = VOCAB[int(rng.integers(0, len(VOCAB)))]
            texts.append(" ".join(words))
        else:
            k = int(rng.integers(10, 100))
            texts.append(" ".join(VOCAB[j] for j in rng.integers(0, len(VOCAB), k)))
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": texts,
            "lang": _pick(rng, LANGS, n, LANG_P),
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def _embeddings(rng: np.random.Generator, n: int, dim: int = 64) -> pa.Table:
    v = rng.standard_normal((n, dim)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    emb = pa.FixedSizeListArray.from_arrays(pa.array(v.ravel(), pa.float32()), dim)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n), pa.int64()),
            "embedding": emb.cast(pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n), pa.int32()),
        }
    )


def _events(rng: np.random.Generator, n: int, users: int) -> pa.Table:
    span = 30 * DAY_US
    gaps = rng.exponential(span / (n + 1), n)
    ts = np.datetime64("2024-01-01", "us") + np.minimum(np.cumsum(gaps), span - 1).astype(np.int64)
    return pa.table(
        {
            "event_id": pa.array(np.arange(n), pa.int64()),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, users, n), pa.int64()),
            "event_type": _pick(rng, EVENT_TYPES, n),
            "value": np.maximum(np.round(rng.exponential(50.0, n), 2), 0.01),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
        }
    )


def tables(seed: int, sf: float) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n_cust, n_supp = int(150_000 * sf), max(10, int(10_000 * sf))
    n_part, n_ord, n_line = int(200_000 * sf), int(1_500_000 * sf), int(6_000_000 * sf)
    out = {
        "region": pa.table({"r_regionkey": pa.array(range(5), pa.int32()), "r_name": list(REGIONS)}),
        "nation": pa.table(
            {
                "n_nationkey": pa.array(range(25), pa.int32()),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
            }
        ),
        "customer": pa.table(
            {
                "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
                "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
                "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
                "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
                "c_mktsegment": _pick(rng, SEGMENTS, n_cust),
            }
        ),
        "supplier": pa.table(
            {
                "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
                "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
                "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
                "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
            }
        ),
        "part": pa.table(
            {
                "p_partkey": pa.array(np.arange(n_part), pa.int64()),
                "p_name": [
                    f"{PART_ADJ[a]} {PART_NOUN[b]}"
                    for a, b in rng.integers(0, 8, (n_part, 2))
                ],
                "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
                "p_type": _pick(rng, PART_TYPES, n_part),
                "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
                "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) * 0.1, 1),
            }
        ),
        "orders": pa.table(
            {
                "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
                "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
                "o_orderstatus": _pick(rng, ("F", "O", "P"), n_ord),
                "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
                "o_orderdate": pa.array(_days(rng, n_ord, "1995-01-01", "2001-08-01")),
                "o_orderpriority": _pick(rng, PRIORITIES, n_ord),
            }
        ),
        "lineitem": pa.table(
            {
                "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
                "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
                "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
                "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
                "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
                "l_extendedprice": _money(rng, 900.0, 105_000.0, n_line),
                "l_discount": rng.integers(0, 11, n_line) / 100.0,
                "l_tax": rng.integers(0, 9, n_line) / 100.0,
                "l_returnflag": _pick(rng, ("A", "N", "R"), n_line),
                "l_linestatus": _pick(rng, ("F", "O"), n_line),
                "l_shipdate": pa.array(_days(rng, n_line, "1995-01-02", "2001-11-04")),
            }
        ),
        "events": _events(rng, int(1_000_000 * sf), max(50, int(15_000 * sf))),
        "documents": _documents(rng, max(500, int(50_000 * sf))),
        "embeddings": _embeddings(rng, max(500, int(20_000 * sf))),
    }
    return out


def generate(out_dir: str, seed: int, sf: float) -> int:
    """Write every table to ``out_dir``; return the bytes written."""
    os.makedirs(out_dir, exist_ok=True)
    total = 0
    for name, table in tables(seed, sf).items():
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(table, path)
        total += os.path.getsize(path)
    return total


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("out_dir")
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--sf", type=float, default=0.01)
    args = ap.parse_args()
    print(f"{generate(args.out_dir, args.seed, args.sf) / 1e6:.2f} MB of parquet")


if __name__ == "__main__":
    main()
