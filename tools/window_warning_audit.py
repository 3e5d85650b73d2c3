"""Runtime `No Partition Defined` warning pin (VERDICT r6 ask #4).

The static guard (tools/plan_audit.py) proves no FINAL bench plan contains
a partitionless ordered Window. This tool closes the other half: it runs
every registry query with the driver JVM's stderr captured (Spark's log4j
console appender writes there) and attributes each runtime
``WindowExec: No Partition Defined`` warning to the query that was
executing. Queries may warn ONLY if they are documented sites in
``EXPECTED_WARN_SITES`` — a new intermediate-job global window anywhere
else fails the audit, so a regression can no longer hide in the expected
noise.

Usage: python tools/window_warning_audit.py [sf_dir]   (default sf0.001)
Writes a summary to stdout; exit 1 on undocumented warnings.
"""

from __future__ import annotations

import os
import sys

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO)

_MARK = "No Partition Defined"

# Documented sites: query -> why an intermediate job may legitimately
# run a bounded single-partition window. Keep in sync with the comment in
# operators/windows.py. All three run a plain ``Window.orderBy(<axis>)``
# over a per-day or per-week aggregate — one row per calendar day or week,
# so the single partition is bounded — and the window executes inside the
# result's localCheckpoint job, which is why the FINAL plan the static
# audit reads contains no Window node at all.
EXPECTED_WARN_SITES: dict[str, str] = {
    "moving_average_daily": "checkpointed calendar window (one row per day)",
    "range_frame_trailing": "checkpointed calendar window (one row per epoch_day present)",
    "wow_growth": "checkpointed calendar window (one row per week)",
}


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"

    # Capture fd 2 (inherited by the JVM) to a file BEFORE the JVM starts.
    cap_path = os.path.join("/tmp", f"wwa_{os.getpid()}.stderr")
    cap = os.open(cap_path, os.O_WRONLY | os.O_CREAT | os.O_TRUNC)
    os.dup2(cap, 2)

    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[8]")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
    import __spark_entry__ as em

    def n_warn() -> int:
        with open(cap_path, "rb") as f:
            return f.read().count(_MARK.encode())

    per_query: dict[str, int] = {}
    errored: list[str] = []
    before = n_warn()
    for name, fn in em.queries().items():
        try:
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        except Exception as exc:  # noqa: BLE001 - report, keep auditing
            print(f"ERROR {name}: {exc}", flush=True)
            errored.append(name)
        after = n_warn()
        if after > before:
            per_query[name] = after - before
        before = after

    bad = {q: c for q, c in per_query.items() if q not in EXPECTED_WARN_SITES}
    missing = sorted(set(EXPECTED_WARN_SITES) - set(per_query))
    print(f"windows warned: {per_query or '{}'}", flush=True)
    if missing:
        print(f"documented sites that no longer warn (prune?): {missing}", flush=True)
    if bad:
        print(f"AUDIT FAIL: undocumented No-Partition warnings: {bad}", flush=True)
        return 1
    if errored:
        # an erroring query was never exercised — its windows are
        # UNAUDITED, which must not read as green
        print(f"AUDIT FAIL: queries errored before auditing: {errored}", flush=True)
        return 1
    print("window-warning audit OK", flush=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
