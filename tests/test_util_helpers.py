"""Focused tests for the r14 optimization helpers in operators/util.py:
``spread_narrow_cpu`` (size-gated pre-kernel spread) and
``eager_checkpoints`` (concurrent independent materialization)."""

from __future__ import annotations

from pyspark.sql import functions as F

from dhs_to_database_spark.operators import util
from dhs_to_database_spark.operators.util import (
    eager_checkpoints,
    local_rows_df,
    spread_narrow_cpu,
)


def test_spread_narrow_cpu_spreads_small_single_partition_input(spark):
    """A small single-partition frame gains partitions (bounded by
    defaultParallelism) and keeps exactly the same rows."""
    df = spark.range(0, 10_000, 1, 1).select(
        "id", F.concat(F.lit("text-"), F.col("id")).alias("text")
    )
    out = spread_narrow_cpu(df)
    n = out.rdd.getNumPartitions()
    assert 1 <= n <= spark.sparkContext.defaultParallelism
    assert sorted(r["id"] for r in out.collect()) == list(range(10_000))


def test_spread_narrow_cpu_noops_past_size_gate(monkeypatch, spark):
    """Inputs estimated past _SPREAD_SKIP_BYTES return the SAME DataFrame
    object — a corpus-scale table must not gain a repartition Exchange.
    So does an input with NO size estimate: the optimizer reports
    spark.sql.defaultSizeInBytes (Long.MaxValue) for an RDD-backed frame."""

    class _FakeStats:
        def sizeInBytes(self):
            return util._SPREAD_SKIP_BYTES + 1

    class _FakeQE:
        def optimizedPlan(self):
            return self

        def stats(self):
            return _FakeStats()

    class _FakeJdf:
        def queryExecution(self):
            return _FakeQE()

    class _FakeDF:
        _jdf = _FakeJdf()

    fake = _FakeDF()
    assert spread_narrow_cpu(fake) is fake

    unsized = spark.createDataFrame(spark.sparkContext.parallelize([(1, "a")]), "k int, v string")
    est = unsized._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
    assert int(est) == 2**63 - 1
    assert spread_narrow_cpu(unsized) is unsized


def test_eager_checkpoints_returns_checkpointed_frames_in_order(spark):
    """Both frames come back checkpointed (RDD-scan plans), in input
    order, with unchanged values."""
    a = local_rows_df(spark, [(1, "a"), (2, "b")], "k int, v string")
    b = spark.range(5).select((F.col("id") * 2).alias("x"))
    ca, cb = eager_checkpoints(a, b)
    assert [tuple(r) for r in sorted(ca.collect())] == [(1, "a"), (2, "b")]
    assert sorted(r["x"] for r in cb.collect()) == [0, 2, 4, 6, 8]
    # checkpointed frames scan materialized RDDs, not the original plan
    for c in (ca, cb):
        assert "LogicalRDD" in c._jdf.queryExecution().optimizedPlan().toString()
