"""Structured Streaming over the ``events`` table — SURVEY.md §2.D.

The reference is purely batch (SURVEY.md §1.3); streaming is extension
surface. Design: every streaming aggregation here has a batch twin in
``operators/windows.py`` registered with a DuckDB oracle — the streaming
path is validated in tests by checking that an ``availableNow`` drain
(``drain_to_parquet``) over the same files produces the batch twin's result
(the classic batch-stream-equivalence harness).

Scale notes: watermarks bound state; tumbling/sliding aggs shuffle once on
(window, key); ``dropDuplicatesWithinWatermark`` keeps the dedup state
windowed instead of unbounded; session windows use Spark's native
``session_window`` state merging.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.registry import query
from ..sources.tables import read_events

#: State-store partition count of the one-shot drains (see
#: ``drain_to_parquet``).
STREAM_SHUFFLE_PARTITIONS = 8


def read_events_stream(spark: SparkSession, sf_dir: str, max_files_per_trigger: int | None = None) -> DataFrame:
    """File-source stream of the events table, ``ts`` normalized as in the
    batch loader (``sources.tables.read_events``, which also supplies the
    footer schema)."""
    path = f"{sf_dir}/events.parquet"

    def load(schema):
        reader = spark.readStream.schema(schema).format("parquet")
        if os.path.isdir(path):
            # Directory-style table (the cluster-scale layout: any multi-file
            # writer produces events.parquet/part-*.parquet) — stream the
            # directory itself. The pathGlobFilter trick below would silently
            # match ZERO leaf files here (the filter applies to leaf file
            # names, and the leaves are part-* files), draining an empty
            # stream — caught by tools/layout_probe.py (r14). os.path is
            # fine for the driver contract's local sf_dir; a remote
            # filesystem deployment would resolve layout via its catalog,
            # not a path probe.
            load_path = path
        else:
            # Single bare file beside the other tables' files: a file-stream
            # source lists a DIRECTORY, so point it at sf_dir and filter to
            # this one leaf file.
            reader = reader.option("pathGlobFilter", "events.parquet")
            load_path = sf_dir
        if max_files_per_trigger:
            reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
        return reader.load(load_path)

    return read_events(spark, path, load)


def tumbling_counts(events: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Streaming twin of ``operators.windows.tumbling_window``."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n_events")
    )


def sliding_counts(events: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Streaming twin of ``operators.windows.sliding_window``."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.col("w.start").alias("window_start"), "n_events")
    )


def session_counts(events: DataFrame, gap: str = "30 minutes", watermark: str = "2 hours") -> DataFrame:
    """Native session windows (state-merging): per-user sessions closed by a
    ``gap`` of inactivity. Batch twin: ``operators.windows.session_windows``
    (gaps-and-islands formulation)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end_bound"),
            "user_id",
            "n_events",
        )
    )


def deduped_stream(events: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Watermark-bounded streaming dedup on event_id
    (``dropDuplicatesWithinWatermark``): state is evicted once the watermark
    passes, so memory stays bounded on an infinite stream."""
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(["event_id"])


def drain_to_parquet(df: DataFrame, output_mode: str = "append") -> DataFrame:
    """availableNow + foreachBatch drain into parquet, returned as a batch
    DataFrame — the engine's one drain and the oracle-checkable surface
    for streaming queries.

    ``append`` mode accumulates each micro-batch's emitted rows (stateful
    append sinks: sessionizers, watermark dedup). ``complete`` mode
    overwrites with the full re-computed result each batch, so the FINAL
    table equals the batch-semantics answer exactly — the natural landing
    mode for streaming aggregations that an ANSI oracle can reproduce
    verbatim.

    The drain owns its scratch: landing and checkpoint share one temporary
    directory, deleted before this returns or raises. The returned frame
    is a local checkpoint of the landing, so its rows outlive the
    directory and are released with the frame. The scratch is
    driver-local and its one-shot checkpoint is not restartable: a
    cluster, whose executors write the micro-batches, or a restartable
    stream needs caller-owned shared storage, i.e. ``stream_to_partitioned``.
    """
    import tempfile

    spark = df.sparkSession
    mode = "overwrite" if output_mode == "complete" else "append"
    with tempfile.TemporaryDirectory(prefix="stream_drain_") as scratch:
        dest = os.path.join(scratch, "landing")

        def write_batch(batch_df: DataFrame, _batch_id: int) -> None:
            batch_df.write.mode(mode).parquet(dest)

        # A stateful streaming query pins its state-store partition count
        # to spark.sql.shuffle.partitions at FIRST start, and every
        # micro-batch then pays per-partition state-store overhead
        # (provider init, delta-file commit, maintenance) regardless of
        # data volume — measured 3x wall on the two drain queries at the
        # session's core-count-sized setting vs a small fixed count. The
        # checkpoint is fresh on every call, so no earlier count is pinned.
        # Emitted rows are state-partitioning-independent (hash
        # distribution of keys only; config-invariance gate holds at 8 vs
        # 32 vs 200). A session that never set the key gets it unset
        # again, so the drain leaves the conf as it found it.
        prev_parts = dict(spark.conf.getAll).get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.shuffle.partitions", STREAM_SHUFFLE_PARTITIONS)
        try:
            q = (
                df.writeStream.foreachBatch(write_batch)
                .outputMode(output_mode)
                .option("checkpointLocation", os.path.join(scratch, "checkpoint"))
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
        finally:
            if prev_parts is None:
                spark.conf.unset("spark.sql.shuffle.partitions")
            else:
                spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
        # Every write creates dest, so no dest means no micro-batch wrote
        # (empty stream); any read error past this point propagates.
        if not os.path.isdir(dest):
            return spark.createDataFrame([], df.schema)
        return spark.read.schema(df.schema).parquet(dest).localCheckpoint(eager=True)


# Streaming aggregation with an ANSI oracle (r4): in COMPLETE output mode
# every micro-batch rewrites the full aggregate, so after an availableNow
# drain the landed table equals the batch answer EXACTLY — no watermark
# boundary predicate needed (contrast stateful_session_paths, whose
# append-mode oracle must model the final watermark). The oracle is the
# same SQL as the batch twin operators.windows.tumbling_window.
@query(
    "streaming_window_counts",
    oracle="""
    SELECT time_bucket(INTERVAL 1 HOUR, ts) AS window_start,
           event_type,
           COUNT(*) AS n_events,
           CAST(ROUND(SUM(CAST(value AS DECIMAL(18,2))), 2) AS DOUBLE) AS total_value
    FROM events
    GROUP BY 1, 2
    """,
)
def streaming_window_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour x event_type aggregation computed BY THE STREAMING
    ENGINE (readStream -> stateful agg -> complete-mode foreachBatch
    overwrite -> parquet), hash-verified against the plain batch SQL."""
    from ..operators.relational import _dec, _money

    stream = read_events_stream(spark, sf_dir)
    agg = (
        stream.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            _money(F.sum(_dec("value"))).alias("total_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )
    return drain_to_parquet(agg, output_mode="complete")


def stream_to_partitioned(
    df: DataFrame,
    dest: str,
    checkpoint: str,
    partition_cols: tuple[str, ...] = ("event_type",),
    available_now: bool = True,
):
    """Stream sink -> partitioned parquet via foreachBatch.

    foreachBatch rather than the native file sink so replaying a batch
    after a failure rewrites exactly the data it wrote before (idempotent
    restarts, the streaming analogue of the reference's drop-and-reload
    A22). The native file sink can only append, which duplicates rows on
    replay. The physical partitioning is (partition_cols..., __batch_id__):
    the batch id must be part of the overwrite key, because two different
    micro-batches can both write to e.g. event_type=click — dynamic
    overwrite on event_type alone would make batch N silently delete
    batch N-1's rows. With the batch id in the key, a replayed batch
    overwrites only its own partitions and distinct batches accumulate.
    """

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        (
            batch_df.withColumn("__batch_id__", F.lit(batch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy(*partition_cols, "__batch_id__")
            .parquet(dest)
        )

    writer = df.writeStream.foreachBatch(write_batch).option("checkpointLocation", checkpoint)
    if available_now:
        writer = writer.trigger(availableNow=True)
    q = writer.start()
    if available_now:
        q.awaitTermination()
    return q


def clicks_before_purchase(events: DataFrame, lookback: str = "1 hour", watermark: str = "2 hours") -> DataFrame:
    """Stream-stream interval self-join: each purchase paired with the same
    user's clicks in the preceding ``lookback``. Watermarks on BOTH sides
    bound the join state (Spark buffers each side only until the other
    side's watermark passes the interval), so state stays finite on an
    infinite stream — the canonical attribution-join shape."""
    clicks = (
        events.filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("click_ts"),
            F.col("event_id").alias("click_id"),
        )
        .withWatermark("click_ts", watermark)
    )
    purchases = (
        events.filter(F.col("event_type") == "purchase")
        .select("user_id", F.col("ts").alias("purchase_ts"), "event_id", "value")
        .withWatermark("purchase_ts", watermark)
    )
    return purchases.join(
        clicks,
        (F.col("user_id") == F.col("c_user"))
        & (F.col("click_ts") <= F.col("purchase_ts"))
        & (F.col("click_ts") >= F.col("purchase_ts") - F.expr(f"INTERVAL {lookback}")),
    ).select("user_id", "event_id", "purchase_ts", "click_id", "click_ts", "value")


def clicks_before_purchase_outer(
    events: DataFrame, lookback: str = "1 hour", watermark: str = "2 hours"
) -> DataFrame:
    """LEFT OUTER stream-stream interval join: like
    ``clicks_before_purchase``, but purchases with NO qualifying click
    still emit — once, with null click columns, after the click-side
    watermark passes ``purchase_ts`` (the latest instant a matching
    click could still arrive). That deferred-null emission is the part
    batch left joins get for free and streaming state management must
    earn: Spark holds each purchase in state until the watermark proves
    a match impossible, then emits exactly one null row and evicts.
    Unattributed purchases are the rows a real attribution pipeline
    alerts on, so dropping them (the inner join) is not an option.
    Graded batch twin: ``operators.windows.interval_join_attribution``
    (a LEFT join whose click-less purchases report 0/NULL)."""
    clicks = (
        events.filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("click_ts"),
            F.col("event_id").alias("click_id"),
        )
        .withWatermark("click_ts", watermark)
    )
    purchases = (
        events.filter(F.col("event_type") == "purchase")
        .select("user_id", F.col("ts").alias("purchase_ts"), "event_id", "value")
        .withWatermark("purchase_ts", watermark)
    )
    return purchases.join(
        clicks,
        (F.col("user_id") == F.col("c_user"))
        & (F.col("click_ts") <= F.col("purchase_ts"))
        & (F.col("click_ts") >= F.col("purchase_ts") - F.expr(f"INTERVAL {lookback}")),
        "leftOuter",
    ).select("user_id", "event_id", "purchase_ts", "click_id", "click_ts", "value")


def enriched_segment_counts(
    events: DataFrame,
    customer_dim: DataFrame,
    watermark: str = "1 hour",
) -> DataFrame:
    """Stream-static broadcast join + windowed agg per market segment.

    Streaming twin of ``operators.windows.segment_window_counts``. The
    static side is re-resolved each micro-batch (so a refreshed dimension
    snapshot is picked up automatically) and carries no streaming state;
    broadcast keeps the join shuffle-free, so the only stateful operator
    is the watermarked window aggregation.

    The broadcast assumes the caller passes a broadcast-SIZED dimension
    (e.g. a segment lookup pre-aggregated from the user dim). For a dim
    that scales with the corpus, drop the hint and pre-bucket the static
    side on the join key instead — per-micro-batch shuffle of the stream
    side only.
    """
    dim = F.broadcast(
        customer_dim.select(
            F.col("c_custkey").alias("user_id"), F.col("c_mktsegment").alias("segment")
        )
    )
    return (
        events.withWatermark("ts", watermark)
        .join(dim, "user_id")
        .groupBy(F.window("ts", "1 hour").alias("w"), "segment")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.col("w.start").alias("window_start"), "segment", "n_events")
    )


def windowed_unique_users(events: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Streaming twin of ``operators.windows.window_unique_users``:
    approx_count_distinct (mergeable HLL, bounded state) instead of the
    exact distinct that streaming aggregation cannot hold."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(
            F.approx_count_distinct("user_id", rsd=0.02).alias("n_users_est"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .select(F.col("w.start").alias("window_start"), "n_users_est", "n_events")
    )
