"""SparkSession factory tuned for this engine.

Local testing runs ``local[N]`` in one JVM; the configs are chosen so the same
plans scale to a multi-executor cluster: AQE (runtime re-plan + skew-join
splitting), moderate shuffle partitions sized by ``SPARK_GRAFT_CPUS``, Arrow
for the few Pandas-UDF paths, and broadcast-join threshold high enough that
the small dimension tables (region/nation/supplier/spec tables) always
broadcast instead of shuffling.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


def get_spark(app_name: str = "dhs_to_database_spark", cpus: int | None = None) -> SparkSession:
    """Build (or reuse) a SparkSession with scale-oriented defaults.

    Settings rationale (each matters at 100 TB just as at sf0.01):
    - AQE on: coalesces post-shuffle partitions, converts sort-merge joins to
      broadcast at runtime, splits skewed partitions (survey sizes are skewed
      in the reference's domain; so are TPC-H keys under zipfian load).
    - shuffle.partitions ~ 2x cores locally; on a real cluster this is
      overridden by AQE's coalescing so the absolute number matters less.
    - Arrow enabled for pandas_udf/applyInPandas paths (vectorized transfer).
    - parquet filter pushdown + column pruning are on by default; we keep
      session timezone UTC so timestamp semantics match the DuckDB oracle.
    """
    n = cpus or default_parallelism()
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(max(n, 8)))
        # r14 (guide §2.2/§2.4): persisted and localCheckpointed plans
        # otherwise compile WITHOUT AQE partition coalescing (the default
        # pins cached-plan output partitioning), so every checkpointed
        # subtree materializes at the full shuffle-partition constant and
        # all downstream stages over it run that many micro-tasks — 32
        # tasks of ~KB each locally, and a core-count constant instead of
        # a data-derived size on a cluster. Letting AQE re-plan cached
        # subtrees makes checkpoint/persist partitioning scale-adaptive
        # (size-targeted) at every SF. Values are partitioning-independent
        # (layout + config invariance gates, 157/157).
        .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.parquet.filterPushdown", "true")
        # surveyid partition dirs must stay STRING (the reference's
        # all-varchar rule) — inference would coerce numeric ids to int
        .config("spark.sql.sources.partitionColumnTypeInference.enabled", "false")
        # events.parquet carries TIMESTAMP(NANOS); Spark reads it as raw
        # nanos-since-epoch long, converted back to a timestamp in
        # sources/tables.py::read_events.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    if not SparkSession.getActiveSession():
        builder = builder.master(os.environ.get("SPARK_GRAFT_MASTER", f"local[{n}]"))
    return builder.getOrCreate()
