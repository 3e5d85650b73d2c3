"""Distributed global ranking — total-order rank without a global sort
bottleneck.

``ntile``/``row_number`` over an empty ``partitionBy`` forces every row
through ONE task — the classic scale cliff. The distributed formulation:

1. ``repartitionByRange`` on the sort key (range partitioner, sampled
   boundaries) + ``sortWithinPartitions`` — a single shuffle, the same one
   any global sort pays;
2. one narrow, JVM-side pass tags each row with its partition id and
   local 0-based row index (``monotonically_increasing_id`` split into its
   two fields), then the tagged frame is materialized exactly once with an
   eager ``localCheckpoint`` so the boundary sampling can never be
   re-drawn;
3. per-partition row counts -> cumulative offsets (driver-side, one tiny
   row per partition), inlined as a literal map lookup — no join;
4. ``rank = __lidx + offset[__pid] + 1`` — a pure column expression, so
   the rank no longer depends on task ordering or read-time partitioning.

The checkpoint pins one copy of the input in block-manager storage and
truncates lineage; ``RankInputHandle.unpersist()`` releases it once the
caller has materialized its own result.

No step holds more than one partition in one task; the result is the
exact global rank (keys must be made unique with a tie-break column —
same requirement the single-partition window has for determinism).

Ancestry in the reference: version ordering / top-1 selection
(lib03:32-51) is rank-based but per-group; this operator covers the
whole-table ordering the reference never needed at Postgres scale but a
100 TB corpus does (global deciles, percentile cuts, take-every-nth).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.tables import load_table
from .registry import query
from .tokens import n_tokens


class RankInputHandle:
    """Releasable handle on the checkpointed rank input.

    ``unpersist()`` drops its blocks. ``DataFrame.unpersist()`` cannot: a
    ``localCheckpoint`` is not a cached plan, and its blocks belong to the
    RDD behind the frame's ``LogicalRDD``. Call it once the downstream
    result has itself been materialized — before that the ranked frame
    still reads from this copy.
    """

    def __init__(self, df: DataFrame):
        self._df = df

    def unpersist(self) -> None:
        if self._df is not None:
            self._df._jdf.logicalPlan().rdd().unpersist(False)
            self._df = None


def _tag_pid_lidx(part: DataFrame) -> DataFrame:
    """Add ``__pid`` (partition id) and ``__lidx`` (0-based local row
    index) in one narrow pass — no shuffle, and entirely JVM-side.

    ``monotonically_increasing_id()`` is documented as
    ``partition_id * 2^33 + row_offset_within_partition`` with the offset
    increasing in row order, so one codegen'd expression recovers both
    fields: ``__pid = id >> 33``, ``__lidx = id & (2^33 - 1)``. This
    replaced an Arrow-batched mapInPandas tagger — same columns, but no
    Python workers in the loop (2-4x on the decile benchmark; at scale it
    keeps the whole pass inside WholeStageCodegen). Caps: 2^31 partitions,
    2^33 rows per partition — both far above any sane layout (a 128 MB-1 GB
    target partition holds millions of rows, not billions).
    """
    mid = F.monotonically_increasing_id()
    return (
        part.withColumn("__mid", mid)
        .withColumn("__pid", F.shiftright("__mid", 33).cast("int"))
        .withColumn("__lidx", F.expr("__mid & 8589934591"))
        .drop("__mid")
    )


def global_rank_parts(
    df: DataFrame,
    sort_cols: list[str],
    rank_name: str = "rank",
    num_partitions: int | None = None,
) -> tuple[DataFrame, int, RankInputHandle]:
    """Exact 1-based global rank by ``sort_cols`` (must be a total order).

    Returns ``(ranked_df, total_rows, handle)``. The tagged input is
    checkpointed exactly once; call ``handle.unpersist()`` after the
    downstream result is materialized. ``total_rows`` comes free from the
    offset pass — don't re-count the input.
    """
    spark = df.sparkSession
    # r14 (guide §2.2): derive the range-partition count from the
    # optimizer's input-size estimate (~32 MB per partition, no job)
    # instead of pinning it to the core count — defaultParallelism made
    # every rank pass pay a full-width shuffle + per-partition task and
    # Python round-trip overhead regardless of data size, and a
    # core-count constant is exactly the local-mode tuning the 100 TB
    # design forbids. Ranks are invariant to the partition count (the
    # sort keys are a total order, offsets are exact), so this only
    # moves task/shuffle overhead; at cluster scale the estimate
    # saturates defaultParallelism and the behavior is unchanged.
    n_parts = num_partitions
    if n_parts is None:
        est_bytes = int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
        n_parts = max(
            1,
            min(
                spark.sparkContext.defaultParallelism,
                est_bytes // (32 * 1024 * 1024) + 1,
            ),
        )
    part = df.repartitionByRange(n_parts, *sort_cols).sortWithinPartitions(
        *sort_cols
    )
    # Materialize ONE physical partitioning: range-partitioner boundary
    # sampling / AQE decisions can differ between separate executions of
    # the same lazy plan, which would shift every downstream rank.
    tagged = _tag_pid_lidx(part).localCheckpoint(eager=True)

    # One tiny row per partition; cumulative offsets computed on the driver.
    counts = {
        r["__pid"]: r["cnt"]
        for r in tagged.groupBy("__pid").agg(F.count(F.lit(1)).alias("cnt")).collect()
    }
    offsets = []
    acc = 0
    for pid in sorted(counts):
        offsets.append((pid, acc))
        acc += counts[pid]
    # r14 (guide §2.4): the per-partition offsets used to ride in via a
    # createDataFrame -> broadcast equi-join — a full broadcast-exchange
    # job (and parallelize()'s defaultParallelism micro-tasks) per rank
    # pass. The offset table is at most one entry per input partition and
    # lives on the driver already, so inline it as a literal MAP lookup:
    # same integers, zero extra jobs, and the rank projection stays in
    # whole-stage codegen. Bounded at scale: one map entry per partition
    # (thousands), far under any expression-size hazard.
    off_items: list = []
    for pid, off in offsets:
        off_items.extend((F.lit(pid), F.lit(off)))
    off_map = F.create_map(*off_items) if off_items else F.create_map(F.lit(0), F.lit(0))
    ranked = (
        tagged.withColumn(
            rank_name,
            (F.col("__lidx") + off_map[F.col("__pid")] + 1).cast("bigint"),
        )
        .drop("__pid", "__lidx")
    )
    return ranked, acc, RankInputHandle(tagged)


def exact_ntile(rank_col: str, n: int, total: int) -> Column:
    """SQL-standard ntile bucket from a 1-based global rank: the first
    ``total % n`` buckets get one extra row."""
    base = total // n
    rem = total % n
    cut = rem * (base + 1)
    r = F.col(rank_col)
    if base == 0:
        return r  # fewer rows than buckets: bucket == rank
    return (
        F.when(r <= cut, F.ceil(r / (base + 1)))
        .otherwise(rem + F.ceil((r - cut) / base))
        .cast("int")
    )


@query(
    "decile_stats",
    oracle="""
    WITH t AS (
      SELECT o_totalprice,
             ntile(10) OVER (ORDER BY o_totalprice, o_orderkey) AS decile
      FROM orders
    )
    SELECT decile, COUNT(*) AS n_orders,
           CAST(min(o_totalprice) AS DOUBLE) AS lo,
           CAST(max(o_totalprice) AS DOUBLE) AS hi
    FROM t GROUP BY decile
    """,
)
def decile_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-depth deciles of order value — distributed rank, not a
    single-partition ntile window (the oracle uses ntile; the Spark plan
    never funnels rows through one task). The tiny result is materialized
    eagerly so the rank pass's materialized input can be released before
    returning."""
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    ranked, total, handle = global_rank_parts(
        o, ["o_totalprice", "o_orderkey"], rank_name="r"
    )
    out = (
        ranked.withColumn("decile", exact_ntile("r", 10, total))
        .groupBy("decile")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.min("o_totalprice").cast("double").alias("lo"),
            F.max("o_totalprice").cast("double").alias("hi"),
        )
        .localCheckpoint(eager=True)  # 10 rows
    )
    handle.unpersist()
    return out


# ---------------------------------------------------------------------------
# Spearman rank correlation between two document metrics — built ON TOP of
# the distributed global rank (two rank passes, no single-partition
# window), so the correlation of two columns over a 100 TB table costs
# two range-partitioned rank passes + one tiny aggregate. Ranks use
# row_number with a doc_id tie-break (deterministic; the
# average-rank-for-ties variant would replace row_number with an avg over
# the tie group). d^2 sums are exact integers, so the only float op is
# the final closed-form division — engine-identical.
# ---------------------------------------------------------------------------


@query(
    "spearman_length_tokens",
    oracle="""
    WITH m AS (
      SELECT doc_id, length(text) AS x,
             len(string_split_regex(trim(text), '[ \\t\\n\\x0b\\f\\r]+')) AS y
      FROM documents
    ),
    r AS (
      SELECT doc_id,
             ROW_NUMBER() OVER (ORDER BY x, doc_id) AS rx,
             ROW_NUMBER() OVER (ORDER BY y, doc_id) AS ry
      FROM m
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM((rx - ry) * (rx - ry)) AS BIGINT) AS sum_d2,
           -- + 0.0 pins a rounded-to-zero rho's sign (r12 signed-zero
           -- class: DuckDB ROUND keeps -0.0, Spark's BigDecimal doesn't)
           CAST(ROUND(
             1.0 - 6.0 * SUM((rx - ry) * (rx - ry))
                   / (COUNT(*) * (CAST(COUNT(*) AS DOUBLE) * COUNT(*) - 1.0)), 6
           ) + 0.0 AS DOUBLE) AS rho
    FROM r
    """,
)
def spearman_length_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    m = d.select(
        "doc_id",
        F.length("text").alias("x"),
        n_tokens(F.col("text")).alias("y"),
    )
    rx, total, hx = global_rank_parts(m, ["x", "doc_id"], rank_name="rx")
    ry, _, hy = global_rank_parts(rx, ["y", "doc_id"], rank_name="ry")
    dlt = (F.col("rx") - F.col("ry")).cast("bigint")
    out = ry.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(dlt * dlt).cast("bigint").alias("sum_d2"),
        # + 0.0 pins the rounded-to-zero sign in both engines (r12 class)
        (
            F.round(
                1.0
                - 6.0
                * F.sum(dlt * dlt)
                / (
                    F.count(F.lit(1))
                    * (F.count(F.lit(1)).cast("double") * F.count(F.lit(1)) - 1.0)
                ),
                6,
            )
            + F.lit(0.0)
        )
        .cast("double")
        .alias("rho"),
    ).localCheckpoint(eager=True)  # 1 row; lets both rank inputs release
    hy.unpersist()
    hx.unpersist()
    return out


@query(
    "quantile_normalize",
    oracle="""
    WITH m AS (SELECT doc_id, length(text) AS raw FROM documents)
    SELECT doc_id, CAST(raw AS BIGINT) AS raw,
           CAST(ROUND(
             CAST(ROW_NUMBER() OVER (ORDER BY raw, doc_id) AS DOUBLE)
             / COUNT(*) OVER (), 6) AS DOUBLE) AS qnorm
    FROM m
    """,
)
def quantile_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank-based quantile normalization of a score column into (0, 1] —
    the distribution-free rescaling ML pipelines apply before mixing
    heterogeneous quality signals. Built on the distributed global rank
    (no single-partition window); total row count comes free from the
    rank's offset pass."""
    d = load_table(spark, sf_dir, "documents")
    m = d.select("doc_id", F.length("text").cast("bigint").alias("raw"))
    ranked, total, handle = global_rank_parts(m, ["raw", "doc_id"], rank_name="r")
    out = ranked.select(
        "doc_id",
        "raw",
        F.round(F.col("r").cast("double") / F.lit(float(total)), 6)
        .cast("double")
        .alias("qnorm"),
    ).localCheckpoint(eager=True)
    handle.unpersist()
    return out


# ---------------------------------------------------------------------------
# Deterministic training-order shuffle — the "global shuffle" every LLM
# training run needs before sharding: a seeded pseudo-random total order
# (md5 of a seeded key — engine-portable, reproducible across reruns and
# cluster layouts), then round-robin sharding off the global rank so every
# shard's size is balanced to +-1 row WITHOUT a second pass. Built on the
# distributed global rank (range-partitioned sort, no single-partition
# window); at 100 TB the order key is uniform by construction, so
# repartitionByRange's sampled boundaries stay balanced — no skew path.
# ---------------------------------------------------------------------------

_SHUF_SEED = "shuf1"
_SHUF_SHARDS = 8


@query(
    "training_shuffle_order",
    oracle=f"""
    WITH k AS (
      SELECT doc_id,
             md5('{_SHUF_SEED}:' || CAST(doc_id AS VARCHAR)) AS key
      FROM documents
    ),
    r AS (
      SELECT doc_id, ROW_NUMBER() OVER (ORDER BY key, doc_id) AS rk FROM k
    )
    SELECT doc_id,
           CAST((rk - 1) % {_SHUF_SHARDS} AS INT) AS shard,
           CAST((rk - 1) // {_SHUF_SHARDS} AS BIGINT) AS pos
    FROM r
    """,
)
def training_shuffle_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seeded deterministic epoch shuffle: md5('{seed}:'||doc_id) defines
    the permutation, the distributed global rank materializes it, and
    round-robin on the rank yields balanced shard assignments (shard,
    within-shard position) — reproducible bit-for-bit at any cluster
    layout or scale."""
    d = load_table(spark, sf_dir, "documents").select("doc_id")
    keyed = d.withColumn(
        "key",
        F.md5(F.concat(F.lit(_SHUF_SEED + ":"), F.col("doc_id").cast("string"))),
    )
    ranked, _, handle = global_rank_parts(keyed, ["key", "doc_id"], rank_name="rk")
    out = ranked.select(
        "doc_id",
        ((F.col("rk") - 1) % _SHUF_SHARDS).cast("int").alias("shard"),
        F.floor((F.col("rk") - 1) / _SHUF_SHARDS).cast("bigint").alias("pos"),
    ).localCheckpoint(eager=True)
    handle.unpersist()
    return out
