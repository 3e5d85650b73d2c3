"""Event-time window operators over ``events`` — SURVEY.md §2.D.

Batch expressions of the streaming surface: tumbling and sliding windows via
``F.window`` (epoch-aligned, identical to DuckDB ``time_bucket``), and
sessionization as gaps-and-islands (lag + running sum). The same logic runs
as Structured Streaming in ``dhs_to_database_spark.streaming`` — these batch
twins are the oracle-checkable versions.

Scale notes: window aggregation shuffles once on (window, key); the
gaps-and-islands session pass shuffles once on user_id and sorts within
partitions — both are the minimal-shuffle plans for their semantics.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.tables import load_table
from .registry import query
from .relational import _dec, _money


# The calendar-frame queries (moving_average_daily, range_frame_trailing,
# wow_growth) run a plain ``Window.orderBy(<axis>)`` over their per-day or
# per-week aggregate. The single partition is bounded: the axis holds one
# row per calendar day or week. Each result is a ``localCheckpoint``, so the
# Window runs inside the checkpoint job and stays out of the final plan.


@query(
    "tumbling_window",
    oracle="""
    SELECT time_bucket(INTERVAL 1 HOUR, ts) AS window_start,
           event_type,
           COUNT(*) AS n_events,
           CAST(ROUND(SUM(CAST(value AS DECIMAL(18,2))), 2) AS DOUBLE) AS total_value
    FROM events
    GROUP BY 1, 2
    """,
)
def tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            _money(F.sum(_dec("value"))).alias("total_value"),
        )
        .select(F.col("w.start").alias("window_start"), "event_type", "n_events", "total_value")
    )


@query(
    "sliding_window",
    oracle="""
    WITH exploded AS (
      SELECT unnest([time_bucket(INTERVAL 30 MINUTES, ts),
                     time_bucket(INTERVAL 30 MINUTES, ts) - INTERVAL 30 MINUTES]) AS window_start,
             value
      FROM events
    )
    SELECT window_start, COUNT(*) AS n_events,
           CAST(ROUND(SUM(CAST(value AS DECIMAL(18,2))), 2) AS DOUBLE) AS total_value
    FROM exploded
    GROUP BY window_start
    """,
)
def sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-hour window sliding every 30 minutes (each event lands in 2 windows)."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            _money(F.sum(_dec("value"))).alias("total_value"),
        )
        .select(F.col("w.start").alias("window_start"), "n_events", "total_value")
    )


@query(
    "session_windows",
    oracle="""
    WITH flagged AS (
      SELECT user_id, ts, value, event_id,
             CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                       > INTERVAL 30 MINUTES
                  OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                  THEN 1 ELSE 0 END AS new_session
      FROM events
    ),
    numbered AS (
      SELECT user_id, ts, value,
             CAST(SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                         ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
      FROM flagged
    )
    SELECT user_id, session_id,
           CAST(MIN(ts) AS TIMESTAMP) AS session_start,
           CAST(MAX(ts) AS TIMESTAMP) AS session_end,
           COUNT(*) AS n_events,
           CAST(ROUND(SUM(CAST(value AS DECIMAL(18,2))), 2) AS DOUBLE) AS total_value
    FROM numbered
    GROUP BY user_id, session_id
    """,
)
def session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """30-minute-gap sessionization (gaps-and-islands). Batch twin of
    ``streaming.session_window``; one shuffle on user_id."""
    from pyspark.sql.window import Window

    ev = load_table(spark, sf_dir, "events")
    order = Window.partitionBy("user_id").orderBy("ts", "event_id")
    running = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    gap_us = 30 * 60 * 1_000_000
    flagged = ev.withColumn(
        "new_session",
        F.when(
            F.lag("ts").over(order).isNull()
            | ((F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(order))) > gap_us),
            1,
        ).otherwise(0),
    )
    numbered = flagged.withColumn("session_id", F.sum("new_session").over(running))
    return numbered.groupBy("user_id", "session_id").agg(
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
        F.count(F.lit(1)).alias("n_events"),
        _money(F.sum(_dec("value"))).alias("total_value"),
    )


# ---------------------------------------------------------------------------
# Analytic window pack: lag/lead (neighbor deltas), ntile (equal-frequency
# banding), cume_dist (empirical CDF) — one window partition per customer,
# single exchange. The reference's top-1-per-group (B16) generalizes here.
# ---------------------------------------------------------------------------


@query(
    "window_functions",
    oracle="""
    SELECT o_custkey, o_orderkey,
           lag(o_orderkey) OVER w AS prev_orderkey,
           lead(o_orderkey) OVER w AS next_orderkey,
           ntile(4) OVER w AS quartile,
           CAST(ROUND(cume_dist() OVER w, 6) AS DOUBLE) AS cdist
    FROM orders
    WHERE o_custkey < 500
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderkey)
    """,
)
def window_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    o = load_table(spark, sf_dir, "orders").filter(F.col("o_custkey") < 500)
    w = Window.partitionBy("o_custkey").orderBy("o_orderkey")
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.lag("o_orderkey").over(w).alias("prev_orderkey"),
        F.lead("o_orderkey").over(w).alias("next_orderkey"),
        F.ntile(4).over(w).alias("quartile"),
        F.round(F.cume_dist().over(w), 6).cast("double").alias("cdist"),
    )


# ---------------------------------------------------------------------------
# Stream-static enrichment: events joined to the customer dimension, then
# windowed per market segment. The dimension is broadcast — in the
# streaming twin (streaming/events.py::enriched_segment_counts) this is
# the canonical stream-static join, re-resolved per micro-batch with NO
# streaming state of its own; only the window agg keeps state.
# ---------------------------------------------------------------------------


@query(
    "segment_window_counts",
    oracle="""
    SELECT time_bucket(INTERVAL 1 HOUR, e.ts) AS window_start,
           c.c_mktsegment AS segment,
           COUNT(*) AS n_events,
           CAST(ROUND(SUM(CAST(e.value AS DECIMAL(18,2))), 2) AS DOUBLE) AS total_value
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    GROUP BY 1, 2
    """,
)
def segment_window_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), F.col("c_mktsegment").alias("segment")
    )
    # no broadcast hint: the user dim scales with SF, so the hint is AQE's
    # call (broadcast here, bucketed/bloom-pruned SMJ at 100 TB)
    return (
        ev.join(cust, "user_id")
        .groupBy(F.window("ts", "1 hour").alias("w"), "segment")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            _money(F.sum(_dec("value"))).alias("total_value"),
        )
        .select(
            F.col("w.start").alias("window_start"), "segment", "n_events", "total_value"
        )
    )


# ---------------------------------------------------------------------------
# Time-series resample + gap fill (LOCF): per-user hourly grid with the
# last observed value carried forward across empty hours. The
# timescale/"hypertable rollup" family operator. Plan: one shuffle on
# user_id for the hourly agg, a per-user sequence-explode for the grid
# (rows ~ span-hours x users, generated, not shuffled), and ONE window
# pass for the forward fill — the grid join stays co-partitioned with
# the agg because both key on user_id.
# ---------------------------------------------------------------------------


@query(
    "gap_fill_hourly",
    oracle="""
    WITH hourly AS (
      SELECT user_id, time_bucket(INTERVAL 1 HOUR, ts) AS h,
             last(value ORDER BY ts, event_id) AS v
      FROM events GROUP BY 1, 2
    ),
    bounds AS (SELECT user_id, min(h) AS h0, max(h) AS h1 FROM hourly GROUP BY user_id),
    grid AS (
      SELECT user_id, unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS h
      FROM bounds
    )
    SELECT g.user_id, g.h AS hour,
           CAST(hourly.v IS NULL AS BOOLEAN) AS filled,
           last_value(hourly.v IGNORE NULLS) OVER (
             PARTITION BY g.user_id ORDER BY g.h
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value
    FROM grid g LEFT JOIN hourly ON g.user_id = hourly.user_id AND g.h = hourly.h
    """,
)
def gap_fill_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "user_id", F.date_trunc("hour", "ts").alias("h")
    ).agg(F.expr("max_by(value, struct(ts, event_id))").alias("v"))
    bounds = hourly.groupBy("user_id").agg(
        F.min("h").alias("h0"), F.max("h").alias("h1")
    )
    grid = bounds.select(
        "user_id", F.explode(F.expr("sequence(h0, h1, interval 1 hour)")).alias("h")
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("h")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        grid.join(hourly, ["user_id", "h"], "left")
        .select(
            "user_id",
            F.col("h").alias("hour"),
            F.col("v").isNull().alias("filled"),
            F.last("v", ignorenulls=True).over(w).alias("value"),
        )
    )


# ---------------------------------------------------------------------------
# Ordered funnel: view -> click -> purchase, each stage's timestamp the
# first qualifying event AFTER the previous stage. Three conditional-min
# windows over the SAME user_id partitioning = ONE shuffle total (the
# later windows reuse the exchange); no per-stage self-joins.
# ---------------------------------------------------------------------------


@query(
    "funnel_stages",
    oracle="""
    WITH v AS (
      SELECT user_id, min(ts) AS t FROM events WHERE event_type = 'view'
      GROUP BY user_id
    ),
    c AS (
      SELECT e.user_id, min(e.ts) AS t
      FROM events e JOIN v ON e.user_id = v.user_id AND e.ts > v.t
      WHERE e.event_type = 'click' GROUP BY e.user_id
    ),
    p AS (
      SELECT e.user_id, min(e.ts) AS t
      FROM events e JOIN c ON e.user_id = c.user_id AND e.ts > c.t
      WHERE e.event_type = 'purchase' GROUP BY e.user_id
    )
    SELECT (SELECT count(*) FROM v) AS n_view,
           (SELECT count(*) FROM c) AS n_click,
           (SELECT count(*) FROM p) AS n_purchase
    """,
)
def funnel_stages(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    w = Window.partitionBy("user_id")
    staged = (
        ev.withColumn(
            "t_view",
            F.min(F.when(F.col("event_type") == "view", F.col("ts"))).over(w),
        )
        .withColumn(
            "t_click",
            F.min(
                F.when(
                    (F.col("event_type") == "click") & (F.col("ts") > F.col("t_view")),
                    F.col("ts"),
                )
            ).over(w),
        )
        .withColumn(
            "t_purchase",
            F.min(
                F.when(
                    (F.col("event_type") == "purchase")
                    & (F.col("ts") > F.col("t_click")),
                    F.col("ts"),
                )
            ).over(w),
        )
    )
    per_user = staged.groupBy("user_id").agg(
        F.first("t_view").alias("t_view"),
        F.first("t_click").alias("t_click"),
        F.first("t_purchase").alias("t_purchase"),
    )
    return per_user.agg(
        F.count("t_view").alias("n_view"),
        F.count("t_click").alias("n_click"),
        F.count("t_purchase").alias("n_purchase"),
    )


# ---------------------------------------------------------------------------
# Cohort retention: users grouped by their first-activity week, counted in
# each later week they return — the canonical growth-analytics matrix.
# Two shuffles: the per-user first-event agg (map-side combined), then the
# (cohort, offset) distinct-user count. The cohort dim rides along as a
# join back on user_id; at scale both shuffles key on user_id so AQE
# coalesces them into adjacent stages of the same exchange footprint.
# ---------------------------------------------------------------------------


@query(
    "cohort_retention",
    oracle="""
    WITH firsts AS (
      SELECT user_id, CAST(date_trunc('week', MIN(ts)) AS DATE) AS cohort_week
      FROM events GROUP BY user_id
    ),
    activity AS (
      SELECT DISTINCT e.user_id, f.cohort_week,
             CAST(date_trunc('week', e.ts) AS DATE) AS activity_week
      FROM events e JOIN firsts f USING (user_id)
    )
    SELECT CAST(cohort_week AS VARCHAR) AS cohort_week,
           CAST(date_diff('day', cohort_week, activity_week) // 7 AS INTEGER) AS week_offset,
           CAST(COUNT(*) AS BIGINT) AS n_users
    FROM activity
    GROUP BY cohort_week, activity_week
    """,
)
def cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    firsts = e.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).cast("date").alias("cohort_week")
    )
    activity = (
        e.join(firsts, "user_id")
        .select(
            "user_id",
            "cohort_week",
            F.date_trunc("week", F.col("ts")).cast("date").alias("activity_week"),
        )
        .distinct()
    )
    return (
        activity.groupBy("cohort_week", "activity_week")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_users"))
        .select(
            F.col("cohort_week").cast("string").alias("cohort_week"),
            (F.datediff("activity_week", "cohort_week") / 7)
            .cast("int")
            .alias("week_offset"),
            "n_users",
        )
    )


# ---------------------------------------------------------------------------
# Incremental rollup maintenance: a stored daily aggregate is advanced by
# merging a new batch's PARTIAL aggregates — never rescanning history.
# count/sum are the self-merging aggregates (the same property Spark's
# map-side partial aggregation exploits); the oracle recomputes from the
# full corpus, proving merged-increment == recompute. At 100 TB the
# stored rollup is partitioned by day and only touched days are
# overwritten (A22's dynamic partition overwrite).
# ---------------------------------------------------------------------------

_ROLLUP_SPLIT_DAY = "2024-02-15"


def merge_daily_rollup(stored: DataFrame, batch: DataFrame) -> DataFrame:
    """Merge a stored (day, n_events, total_value_dec) rollup with a raw
    event batch by summing partial aggregates per day."""
    batch_agg = batch.groupBy("day").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.sum(_dec("value")).alias("total_value_dec"),
    )
    return (
        stored.unionByName(batch_agg)
        .groupBy("day")
        .agg(
            F.sum("n_events").cast("bigint").alias("n_events"),
            F.sum("total_value_dec").alias("total_value_dec"),
        )
    )


@query(
    "rollup_maintenance",
    oracle="""
    SELECT CAST(CAST(date_trunc('day', ts) AS DATE) AS VARCHAR) AS day,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(ROUND(SUM(CAST(value AS DECIMAL(18,2))), 2) AS DOUBLE) AS total_value
    FROM events
    GROUP BY day
    """,
)
def rollup_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """History (< split day) pre-aggregated as the stored rollup, then
    advanced with the newer events as the incremental batch — result must
    equal the full recompute (the oracle)."""
    e = load_table(spark, sf_dir, "events").withColumn(
        "day", F.date_trunc("day", F.col("ts")).cast("date")
    )
    split = F.lit(_ROLLUP_SPLIT_DAY).cast("date")
    stored = (
        e.filter(F.col("day") < split)
        .groupBy("day")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.sum(_dec("value")).alias("total_value_dec"),
        )
    )
    merged = merge_daily_rollup(stored, e.filter(F.col("day") >= split))
    return merged.select(
        F.col("day").cast("string").alias("day"),
        "n_events",
        _money(F.col("total_value_dec")).alias("total_value"),
    )


# ---------------------------------------------------------------------------
# Moving aggregates over an ordered frame (ROWS BETWEEN): 7-day trailing
# average/min/max of daily event value. The window runs over the ALREADY
# AGGREGATED per-day table (one row per day; the corpus-sized work is the
# one map-side-combined daily shuffle). The frame average divides an
# exact DECIMAL sum by the frame row count, so both engines round
# identically.
# ---------------------------------------------------------------------------


@query(
    "moving_average_daily",
    oracle="""
    WITH daily AS (
      SELECT CAST(CAST(date_trunc('day', ts) AS DATE) AS VARCHAR) AS day,
             CAST(ROUND(SUM(CAST(value AS DECIMAL(18,2))), 2) AS DECIMAL(18,2)) AS tv
      FROM events GROUP BY 1
    )
    SELECT day,
           CAST(tv AS DOUBLE) AS total_value,
           CAST(ROUND(CAST(SUM(tv) OVER w AS DECIMAL(28,6))
                      / COUNT(*) OVER w, 4) AS DOUBLE) AS ma7,
           CAST(MIN(tv) OVER w AS DOUBLE) AS min7,
           CAST(MAX(tv) OVER w AS DOUBLE) AS max7
    FROM daily
    WINDOW w AS (ORDER BY day ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
    """,
)
def moving_average_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "events")
    daily = (
        e.groupBy(F.date_trunc("day", F.col("ts")).cast("date").cast("string").alias("day"))
        .agg(F.round(F.sum(_dec("value")), 2).cast("decimal(18,2)").alias("tv"))
    )
    w = Window.orderBy("day").rowsBetween(-6, 0)
    return daily.select(
        "day",
        F.col("tv").cast("double").alias("total_value"),
        F.round(F.sum("tv").over(w).cast("decimal(28,6)") / F.count(F.lit(1)).over(w), 4)
        .cast("double")
        .alias("ma7"),
        F.min("tv").over(w).cast("double").alias("min7"),
        F.max("tv").over(w).cast("double").alias("max7"),
    ).localCheckpoint(eager=True)  # day-axis-sized


# ---------------------------------------------------------------------------
# Windowed distinct users: exact COUNT(DISTINCT) per tumbling hour in
# batch (two-phase: (window, user) partial-distinct then window agg —
# Spark plans this automatically). The STREAMING twin
# (streaming.events.windowed_unique_users) swaps in
# approx_count_distinct: exact distinct needs per-key state proportional
# to cardinality and is unsupported in streaming aggregation, while the
# HLL sketch is mergeable per micro-batch with bounded state — the
# standard batch-exact / stream-approximate split, equivalence-bounded
# in tests.
# ---------------------------------------------------------------------------


@query(
    "window_unique_users",
    oracle="""
    SELECT date_trunc('hour', ts) AS window_start,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM events
    GROUP BY 1
    """,
)
def window_unique_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(
            F.countDistinct("user_id").cast("bigint").alias("n_users"),
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
        )
        .select(F.col("w.start").alias("window_start"), "n_users", "n_events")
    )


# ---------------------------------------------------------------------------
# RANGE frame over a gapped time axis: trailing-7-day event totals where
# some days are MISSING from the table — the case that separates RANGE
# (frame = value interval, gaps shrink the window) from ROWS (frame =
# row count, silently reaches across gaps; moving_average_daily above is
# the ROWS variant on a dense axis). The frame key is an integer epoch
# day, so both engines share exact frame-boundary arithmetic. Window
# over the per-day aggregate.
# ---------------------------------------------------------------------------


@query(
    "range_frame_trailing",
    oracle="""
    WITH daily AS (
      SELECT CAST(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS BIGINT) AS epoch_day,
             CAST(COUNT(*) AS BIGINT) AS n_events,
             CAST(ROUND(SUM(CAST(value AS DECIMAL(18,2))), 2) AS DECIMAL(18,2)) AS tv
      FROM events
      WHERE CAST(date_part('day', ts) AS INTEGER) % 5 <> 0
      GROUP BY 1
    )
    SELECT epoch_day,
           n_events,
           CAST(SUM(n_events) OVER w AS BIGINT) AS n_7d,
           CAST(COUNT(*) OVER w AS BIGINT) AS days_present_7d,
           CAST(SUM(tv) OVER w AS DOUBLE) AS total_value_7d
    FROM daily
    WINDOW w AS (ORDER BY epoch_day RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)
    """,
)
def range_frame_trailing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-7-day totals by VALUE range on a day axis with holes
    (every 5th calendar day filtered out), so days_present_7d < 7 around
    gaps — RANGE semantics, not ROWS."""
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "events")
    daily = (
        e.filter(F.dayofmonth("ts") % 5 != 0)
        .groupBy(
            F.datediff(F.col("ts").cast("date"), F.lit("1970-01-01").cast("date"))
            .cast("bigint")
            .alias("epoch_day")
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.round(F.sum(_dec("value")), 2).cast("decimal(18,2)").alias("tv"),
        )
    )
    w = Window.orderBy("epoch_day").rangeBetween(-6, 0)
    return daily.select(
        "epoch_day",
        "n_events",
        F.sum("n_events").over(w).cast("bigint").alias("n_7d"),
        F.count(F.lit(1)).over(w).cast("bigint").alias("days_present_7d"),
        F.sum("tv").over(w).cast("double").alias("total_value_7d"),
    ).localCheckpoint(eager=True)  # day-axis-sized


# ---------------------------------------------------------------------------
# Period-over-period growth: weekly totals with lag-based deltas — the
# BI staple. Percent change divides exact decimals and only the final
# rounded value returns to double; weeks with no predecessor report NULL
# growth (standard semantics). Window over the per-week aggregate.
# ---------------------------------------------------------------------------


@query(
    "wow_growth",
    oracle="""
    WITH weekly AS (
      SELECT CAST(CAST(date_trunc('week', ts) AS DATE) AS VARCHAR) AS week,
             CAST(COUNT(*) AS BIGINT) AS n_events,
             CAST(ROUND(SUM(CAST(value AS DECIMAL(18,2))), 2) AS DECIMAL(18,2)) AS tv
      FROM events GROUP BY 1
    )
    SELECT week, n_events,
           CAST(tv AS DOUBLE) AS total_value,
           CAST(lag(n_events) OVER w AS BIGINT) AS prev_n_events,
           -- + 0.0 pins the zero's sign: a tiny negative growth that
           -- ROUNDs to zero is IEEE -0.0 in DuckDB but +0.0 under
           -- Spark's BigDecimal round (the r12 importance_weights class)
           CAST(ROUND(
             (tv - lag(tv) OVER w) / lag(tv) OVER w * 100, 4
           ) + 0.0 AS DOUBLE) AS value_growth_pct
    FROM weekly
    WINDOW w AS (ORDER BY week)
    """,
)
def wow_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "events")
    weekly = (
        e.groupBy(
            F.date_trunc("week", F.col("ts")).cast("date").cast("string").alias("week")
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.round(F.sum(_dec("value")), 2).cast("decimal(18,2)").alias("tv"),
        )
    )
    w = Window.orderBy("week")
    return weekly.select(
        "week",
        "n_events",
        F.col("tv").cast("double").alias("total_value"),
        F.lag("n_events").over(w).cast("bigint").alias("prev_n_events"),
        # + 0.0 pins the rounded-to-zero sign in both engines
        # (r12 signed-zero class; see the oracle comment)
        (F.round((F.col("tv") - F.lag("tv").over(w)) / F.lag("tv").over(w) * 100, 4) + F.lit(0.0))
        .cast("double")
        .alias("value_growth_pct"),
    ).localCheckpoint(eager=True)  # week-axis-sized


# ---------------------------------------------------------------------------
# Interval (banded) self-join — batch twin of
# streaming.events.clicks_before_purchase, oracle-graded: each purchase
# with the count/first-timestamp of the same user's clicks in the
# preceding hour (the attribution-join shape). Plan: both filtered sides
# shuffle once on user_id (equi key); the time band is a join residual —
# at 100 TB this is the sort-merge-join-with-range-condition Spark
# handles natively, with no quadratic risk because the equi key bounds
# each merge group to one user's events.
# ---------------------------------------------------------------------------


@query(
    "interval_join_attribution",
    oracle="""
    WITH clicks AS (
      SELECT user_id, ts AS click_ts FROM events WHERE event_type = 'click'
    ),
    purch AS (
      SELECT user_id, event_id, ts AS purchase_ts
      FROM events WHERE event_type = 'purchase'
    )
    SELECT p.event_id AS purchase_id,
           p.user_id,
           CAST(p.purchase_ts AS TIMESTAMP) AS purchase_ts,
           CAST(COUNT(c.click_ts) AS BIGINT) AS n_clicks_1h,
           CAST(MIN(c.click_ts) AS TIMESTAMP) AS first_click_ts
    FROM purch p LEFT JOIN clicks c
      ON c.user_id = p.user_id
     AND c.click_ts <= p.purchase_ts
     AND c.click_ts >= p.purchase_ts - INTERVAL 1 HOUR
    GROUP BY 1, 2, 3
    """,
)
def interval_join_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per purchase: same-user clicks within the preceding hour (left
    join, so click-less purchases report 0 / NULL)."""
    e = load_table(spark, sf_dir, "events")
    clicks = e.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"), F.col("ts").alias("click_ts")
    )
    purch = e.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("event_id").alias("purchase_id"), F.col("ts").alias("purchase_ts")
    )
    return (
        purch.join(
            clicks,
            (F.col("user_id") == F.col("c_user"))
            & (F.col("click_ts") <= F.col("purchase_ts"))
            & (F.col("click_ts") >= F.col("purchase_ts") - F.expr("INTERVAL 1 HOUR")),
            "left",
        )
        .groupBy("purchase_id", "user_id", "purchase_ts")
        .agg(
            F.count("click_ts").cast("bigint").alias("n_clicks_1h"),
            F.min("click_ts").alias("first_click_ts"),
        )
    )
