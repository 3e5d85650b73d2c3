"""Local stand-in for the driver's t2 correctness gate.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` on DuckDB at
the given scale factor, then compares row count, column names, and an
order-insensitive value hash (columns sorted by name; values normalized).

Usage: python tools/check_oracle.py [sf_dir] [query ...] [--only SUBSTR]

Positional query names select exact queries; ``--only SUBSTR`` (repeatable)
selects every registered query whose name contains SUBSTR — the fast gate for
a changed family (e.g. ``--only ann``) while CI still runs the full set.
"""

from __future__ import annotations

import hashlib
import math
import os
import sys
import time

_REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO_ROOT)

import duckdb
import pandas as pd


def norm_cell(v) -> str:
    if v is None:
        return "<null>"
    if isinstance(v, float):
        if math.isnan(v):
            return "<null>"
        if v == int(v) and abs(v) < 1e15:
            # r12 driver failure class: DuckDB's ROUND can emit IEEE -0.0
            # where Spark's F.round (BigDecimal, no signed zero) emits
            # +0.0. The driver's value hash distinguishes the two, so the
            # local stand-in must as well — collapsing both through
            # str(int(v)) == "0" is exactly the blind spot that let the
            # r12 importance_weights failure pass two full local chains.
            if v == 0.0 and math.copysign(1.0, v) < 0.0:
                return "-0"
            return str(int(v))
        return repr(v)
    if isinstance(v, bool):
        return str(bool(v))
    if hasattr(v, "isoformat"):
        return v.isoformat()
    return str(v)


def frame_hash(df: pd.DataFrame) -> str:
    cols = sorted(df.columns)
    rows = [
        "\x1f".join(norm_cell(v) for v in rec)
        for rec in df[cols].itertuples(index=False, name=None)
    ]
    rows.sort()
    return hashlib.sha256("\x1e".join(rows).encode()).hexdigest()[:16]


#: DuckDB result types the driver's hash normalizes differently from Spark's
#: (DuckDB SUM(integer) -> HUGEINT; decimal stays DECIMAL). Oracles must CAST
#: these away (AS BIGINT / AS DOUBLE) or the driver hash-fails even when
#: values match — r1 judge root-caused all 3 round-1 failures to this.
_BANNED_ORACLE_TYPES = ("HUGEINT", "UHUGEINT", "DECIMAL")


def lint_oracle_types(con, name: str, sql: str) -> list[str]:
    """DESCRIBE the oracle and flag driver-hash-incompatible output types."""
    try:
        desc = con.execute(f"DESCRIBE {sql}").fetchall()
    except Exception as e:  # noqa: BLE001
        return [f"describe error: {e}"]
    return [
        f"oracle col {col!r} is {typ} (cast it to BIGINT/DOUBLE in the SQL)"
        for col, typ, *_ in desc
        if any(b in typ.upper() for b in _BANNED_ORACLE_TYPES)
    ]


def negative_zero_cells(df: pd.DataFrame, side: str) -> list[str]:
    """r12 lint (VERDICT r12 ask #2b/#3): flag any IEEE -0.0 cell in either
    engine's output. A ROUND'd sign-crossing double that lands on zero is
    -0.0 under DuckDB but +0.0 under Spark's BigDecimal round, and the
    driver's hash distinguishes them — so ANY -0.0 output, even one that
    happens to hash-match today, is a latent cross-engine hazard on the
    next data/SF change. Queries must normalize the sign away (append
    ``+ 0.0`` after the ROUND in both engines), the HUGEINT/DECIMAL
    _BANNED_ORACLE_TYPES precedent applied to this class. Executes on
    every check_oracle run, so the full-registry chain sweeps all
    oracles at both SFs each round."""
    import numpy as np

    out = []
    for c in df.columns:
        col = df[c]
        if col.dtype.kind == "f":
            vals = col.to_numpy()
            n = int(((vals == 0.0) & np.signbit(vals)).sum())
        elif col.dtype.kind == "O":
            # object cells: scalar floats (nullable doubles) AND one level
            # of list/array elements (array<double> outputs hash via
            # str(), which renders -0.0 distinctly — no such query exists
            # today, verified by schema scan, but the lint must not go
            # blind when one is added)
            def _neg_zero(x) -> bool:
                return (
                    isinstance(x, (float, np.floating))
                    and x == 0.0
                    and math.copysign(1.0, x) < 0.0
                )

            n = 0
            for v in col:
                if _neg_zero(v):
                    n += 1
                elif isinstance(v, (list, tuple, np.ndarray)):
                    n += sum(1 for x in v if _neg_zero(x))
        else:
            continue
        if n:
            out.append(
                f"{side} col {c!r} emits {n} IEEE -0.0 cell(s) — normalize"
                " the zero sign (e.g. `+ 0.0` after the ROUND) in both"
                " engines"
            )
    return out


def dtype_mismatches(sdf: pd.DataFrame, ddf: pd.DataFrame) -> list[str]:
    """Flag int-vs-float divergence the value hash would render differently.

    Null-bearing columns are exempt: both engines surface nullable ints as
    float64/object in pandas, so kind comparison is only meaningful when
    neither side has missing values.
    """
    out = []
    for c in set(sdf.columns) & set(ddf.columns):
        sk, dk = sdf[c].dtype.kind, ddf[c].dtype.kind
        if sk == dk:
            continue
        if sdf[c].isna().any() or ddf[c].isna().any():
            continue
        if {sk, dk} <= {"i", "u", "f", "O"} and {sk, dk} != {"i", "u"}:
            out.append(f"dtype kind {c!r}: spark={sdf[c].dtype} duck={ddf[c].dtype}")
    return out


def main() -> int:
    args = sys.argv[1:]
    substrs = []
    while "--only" in args:
        i = args.index("--only")
        if i + 1 >= len(args):
            print("error: --only requires a substring argument")
            return 2
        substrs.append(args[i + 1])
        del args[i : i + 2]
    sf_dir = args[0] if args else "/root/testdata/sf0.01"
    only = set(args[1:])

    import __spark_entry__ as entrymod
    from dhs_to_database_spark.session import get_spark

    spark = get_spark("check_oracle")
    qs, oracles = entrymod.queries(), entrymod.oracle_sql()

    con = duckdb.connect()
    for t in (
        "region nation customer supplier part orders lineitem events documents embeddings"
    ).split():
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    if substrs:
        matched = {n for n in qs if any(s in n for s in substrs)}
        if not matched:
            print(f"error: --only {substrs} matched no registered query")
            return 2
        only |= matched
    failures = []
    n_checked = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        n_checked += 1
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {name}: spark error: {e}")
            failures.append(name)
            continue
        spark_s = time.time() - t0
        if name not in oracles:
            nz = negative_zero_cells(sdf, "spark")
            if nz:
                print(f"FAIL  {name}: {'; '.join(nz)}")
                failures.append(name)
                continue
            print(f"ROWS  {name}: {len(sdf)} rows (no oracle) [{spark_s:.1f}s]")
            continue
        try:
            ddf = con.execute(oracles[name]).fetchdf()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {name}: duckdb error: {e}")
            failures.append(name)
            continue
        problems = lint_oracle_types(con, name, oracles[name])
        problems += dtype_mismatches(sdf, ddf)
        problems += negative_zero_cells(sdf, "spark") + negative_zero_cells(
            ddf, "oracle"
        )
        if len(sdf) != len(ddf):
            problems.append(f"rows {len(sdf)} vs {len(ddf)}")
        if sorted(sdf.columns) != sorted(ddf.columns):
            problems.append(f"cols {sorted(sdf.columns)} vs {sorted(ddf.columns)}")
        elif frame_hash(sdf) != frame_hash(ddf):
            problems.append("value-hash mismatch")
        if problems:
            print(f"FAIL  {name}: {'; '.join(problems)}")
            # show a small diff sample
            cols = sorted(set(sdf.columns) & set(ddf.columns))
            if cols:
                key = cols[0]
                s1 = sdf.sort_values(cols).head(3)
                s2 = ddf.sort_values(cols).head(3)
                print("  spark:", s1.to_dict("records"))
                print("  duck :", s2.to_dict("records"))
            failures.append(name)
        else:
            print(f"OK    {name}: {len(sdf)} rows match [{spark_s:.1f}s]")
    print(f"\n{len(failures)} failures of {n_checked} checked")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
