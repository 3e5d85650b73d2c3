"""Bitwise-equality probe over the 50-query grading window at sf0.01.

Stricter than any value hash: every cell must match EXACTLY — floats
bit-for-bit (struct.pack '<d'), ints as ints, strings/dates verbatim.
A query can pass the driver hash while failing here only via a
normalizer equivalence (e.g. int 2 vs double 2.0); anything that fails
here AND relies on such an equivalence is flagged for review.

Pure helpers (key_cell / frame_key / untag) are importable without side
effects so tests/test_gate_signed_zero.py can pin their semantics; the
probe itself runs under __main__.
"""
import math
import os
import struct
import sys

_REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO_ROOT)
import numpy as np


def key_cell(v):
    if v is None:
        return ("null",)
    # ADVICE r13: pandas itertuples yields numpy scalars (np.int64 is NOT
    # a Python int subclass), so without the explicit np.integer /
    # np.floating branches integer cells would fall through to the str()
    # tag — tag-misaligning against a frame that yields Python ints
    # (nullable bigint object columns). Coerce numpy scalars to their
    # Python equivalents before tagging.
    if isinstance(v, (bool, np.bool_)):
        return ("b", bool(v))
    if isinstance(v, (float, np.floating)):
        v = float(v)
        if math.isnan(v):
            return ("nan",)
        return ("f", struct.pack("<d", v))
    if isinstance(v, (int, np.integer)):
        return ("i", int(v))
    # Array/map cells recurse element-wise (r14, found by config_probe):
    # the old str() fallback tagged an array by its repr, which is
    # representation-sensitive (Arrow toPandas yields np.ndarray —
    # "[0.1 0.2]" at 8-sig-digit numpy print precision, '...'-truncated
    # past 1000 elements — while the non-Arrow path yields a list,
    # "[0.1, 0.2]"), so bit-identical float arrays compared UNEQUAL
    # across sessions and, worse, genuinely different floats could
    # compare EQUAL after repr rounding. Element recursion restores the
    # packed-bytes discipline inside containers.
    if isinstance(v, (list, tuple, np.ndarray)):
        return ("a", tuple(key_cell(x) for x in v))
    if isinstance(v, dict):
        return ("m", tuple(sorted((str(k), key_cell(x)) for k, x in v.items())))
    if hasattr(v, "isoformat"):
        return ("t", v.isoformat())
    return ("s", str(v))


def frame_key(df):
    cols = sorted(df.columns)
    rows = [
        tuple(key_cell(v) for v in rec)
        for rec in df[cols].itertuples(index=False, name=None)
    ]
    rows.sort()
    return rows


# classify: does a frame difference survive the type tag? (int-vs-float
# equiv). ADVICE r13: the old float() collapse compared -0.0 equal to
# +0.0 and lost int precision past 2^53, mislabeling real bit diffs as
# NORMONLY. Keep floats as their packed bytes (sign of zero preserved);
# map an int to the SAME packed bytes only when it round-trips exactly
# through double, else keep it exact.
def _untag_cell(c):
    if c[0] == "f":
        return ("n", c[1])  # packed bytes: bit-exact, -0.0 != +0.0
    if c[0] == "i":
        try:
            as_f = float(c[1])
        except OverflowError:
            return c
        if math.isfinite(as_f) and int(as_f) == c[1]:
            return ("n", struct.pack("<d", as_f))
        return c  # beyond 2^53: compare exactly, never equal a float
    return c


def untag(rows):
    return sorted(tuple(_untag_cell(c) for c in r) for r in rows)


def main() -> int:
    import duckdb

    import __spark_entry__ as em
    from dhs_to_database_spark.session import get_spark
    from dhs_to_database_spark.sources.tables import TABLE_NAMES

    sf = next(
        (a for a in sys.argv[1:] if not a.startswith("--")),
        "/root/testdata/sf0.01",
    )
    spark = get_spark("bitwise_probe")
    con = duckdb.connect()
    for t in TABLE_NAMES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf}/{t}.parquet'")

    qs, ors = em.queries(), em.oracle_sql()
    # default: the 50-entry grading window; `--all` probes every
    # oracle-backed query (the rotation-queue pre-clearance mode)
    if "--all" in sys.argv:
        window = [n for n in qs if n in ors]
    else:
        window = list(qs)[:50]
    bit_fail, norm_only = [], []
    for name in window:
        sdf = qs[name](spark, sf).toPandas()
        ddf = con.execute(ors[name]).fetchdf()
        sk, dk = frame_key(sdf), frame_key(ddf)
        if sk == dk:
            print(f"BITEXACT {name}: {len(sk)} rows")
            continue
        # multiset difference, not positional zip: one early differing
        # cell must not misalign (and overcount) every later row
        from collections import Counter

        ca, cb = Counter(sk), Counter(dk)
        diffs = sum(((ca - cb) + (cb - ca)).values())
        if untag(sk) == untag(dk):
            norm_only.append(name)
            print(f"NORMONLY {name}: int-vs-float tag only ({diffs} cells)")
        else:
            bit_fail.append(name)
            print(f"BITFAIL  {name}: {diffs} differing rows")
    print(
        "\nbitwise-exact:",
        len(window) - len(bit_fail) - len(norm_only),
        "norm-equiv-only:",
        norm_only,
        "real bit diffs:",
        bit_fail,
    )
    # gate semantics (review r13): any non-bitexact query is a nonzero exit
    # so the probe composes with set -e chains like every other gate tool
    return 1 if (bit_fail or norm_only) else 0


if __name__ == "__main__":
    sys.exit(main())
