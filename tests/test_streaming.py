"""Batch-stream equivalence tests for the streaming surface (§2.D)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from dhs_to_database_spark.streaming.events import (
    deduped_stream,
    drain_to_parquet,
    read_events_stream,
    session_counts,
    sliding_counts,
    tumbling_counts,
)
from tests.conftest import SF_DIR


@pytest.fixture(scope="module")
def events_stream(spark):
    return read_events_stream(spark, SF_DIR)


def _batch_events(spark):
    from dhs_to_database_spark.sources.tables import load_table

    return load_table(spark, SF_DIR, "events")


def test_tumbling_stream_matches_batch(spark, events_stream):
    rows = drain_to_parquet(tumbling_counts(events_stream), "complete").collect()
    got = {(r["window_start"], r["event_type"]): r["n_events"] for r in rows}
    want = {
        (r["w"]["start"], r["event_type"]): r["n"]
        for r in _batch_events(spark)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert got == want


def test_sliding_stream_matches_batch(spark, events_stream):
    rows = drain_to_parquet(sliding_counts(events_stream), "complete").collect()
    got = {r["window_start"]: r["n_events"] for r in rows}
    want = {
        r["w"]["start"]: r["n"]
        for r in _batch_events(spark)
        .groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert got == want


def test_session_stream_matches_batch_islands(spark, events_stream):
    """session_window stream vs the gaps-and-islands batch formulation:
    same number of sessions and same per-session event counts per user."""
    rows = drain_to_parquet(session_counts(events_stream), "complete").collect()
    got = sorted((r["user_id"], r["session_start"], r["n_events"]) for r in rows)
    from dhs_to_database_spark.operators.windows import session_windows

    want = sorted(
        (r["user_id"], r["session_start"], r["n_events"])
        for r in session_windows(spark, SF_DIR).collect()
    )
    assert got == want


def test_dedup_within_watermark(spark, events_stream):
    n = len(drain_to_parquet(deduped_stream(events_stream)).collect())
    assert n == _batch_events(spark).select("event_id").distinct().count()


def test_stateful_sessionizer_matches_batch_islands(spark, events_stream):
    """applyInPandasWithState sessionizer vs the batch gaps-and-islands
    twin. Sessions closed in-batch are always emitted; each user's trailing
    open session is emitted only if its event-time timeout fired before the
    stream drained — so: emitted ⊆ batch, and the difference is confined to
    last-sessions-per-user, and every non-last session must be emitted."""
    from pyspark.sql.window import Window

    from dhs_to_database_spark.streaming.stateful import GAP_US, session_paths

    emitted = {
        (r["user_id"], r["session_start"], r["session_end"], r["n_events"],
         round(r["total_value"], 6), r["first_type"], r["last_type"])
        for r in drain_to_parquet(session_paths(events_stream)).collect()
    }

    e = _batch_events(spark).withColumn("us", F.unix_micros("ts"))
    w = Window.partitionBy("user_id").orderBy("us", "event_type", "value")
    flagged = e.withColumn(
        "new_s",
        (F.coalesce(F.col("us") - F.lag("us").over(w), F.lit(0)) > GAP_US).cast("int"),
    ).withColumn("sess", F.sum("new_s").over(w.rowsBetween(Window.unboundedPreceding, 0)))
    ordkey = F.struct("us", "event_type", "value")
    batch = (
        flagged.groupBy("user_id", "sess")
        .agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.count(F.lit(1)).alias("n_events"),
            F.sum("value").alias("total_value"),
            F.min_by("event_type", ordkey).alias("first_type"),
            F.max_by("event_type", ordkey).alias("last_type"),
        )
    )
    rows = batch.collect()
    batch_all = {
        (r["user_id"], r["session_start"], r["session_end"], r["n_events"],
         round(r["total_value"], 6), r["first_type"], r["last_type"])
        for r in rows
    }
    last_per_user = {}
    for r in rows:
        cur = last_per_user.get(r["user_id"])
        if cur is None or r["session_start"] > cur["session_start"]:
            last_per_user[r["user_id"]] = r
    last_set = {
        (r["user_id"], r["session_start"], r["session_end"], r["n_events"],
         round(r["total_value"], 6), r["first_type"], r["last_type"])
        for r in last_per_user.values()
    }
    assert emitted <= batch_all, f"spurious sessions: {sorted(emitted - batch_all)[:3]}"
    assert batch_all - emitted <= last_set
    assert batch_all - last_set <= emitted, (
        f"missing closed sessions: {sorted((batch_all - last_set) - emitted)[:3]}"
    )


def test_stream_to_partitioned_sink(spark, events_stream, tmp_path):
    from dhs_to_database_spark.streaming.events import stream_to_partitioned

    dest = str(tmp_path / "events_out")
    ckpt = str(tmp_path / "ckpt")
    stream_to_partitioned(events_stream, dest, ckpt)
    out = spark.read.parquet(dest)
    batch = _batch_events(spark)
    assert out.count() == batch.count()
    # partition layout by event_type, content preserved
    got = {r["event_type"]: r["n"] for r in out.groupBy("event_type").agg(F.count(F.lit(1)).alias("n")).collect()}
    want = {r["event_type"]: r["n"] for r in batch.groupBy("event_type").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert got == want
    # restart with same checkpoint: no new data -> no duplication
    stream_to_partitioned(events_stream, dest, ckpt)
    assert spark.read.parquet(dest).count() == batch.count()


def test_stream_to_partitioned_multi_batch(spark, tmp_path):
    """Partitions written by several micro-batches must accumulate, not
    overwrite each other (the batch id is part of the overwrite key)."""
    from dhs_to_database_spark.streaming.events import (
        read_events_stream,
        stream_to_partitioned,
    )

    src = tmp_path / "src"
    src.mkdir()
    batch = _batch_events(spark)
    # split the corpus into 3 files -> 3 micro-batches with maxFilesPerTrigger=1
    for i in range(3):
        batch.filter(F.col("event_id") % 3 == i).coalesce(1).write.parquet(
            str(src / f"part{i}"), mode="overwrite"
        )
    paths = [str(p) for p in src.glob("part*/*.parquet")]
    import shutil

    for i, p in enumerate(paths):
        shutil.copy(p, src / f"events{i}.parquet")
    stream = (
        spark.readStream.schema(batch.schema)
        .format("parquet")
        .option("pathGlobFilter", "events*.parquet")
        .option("maxFilesPerTrigger", "1")
        .load(str(src))
    )
    dest = str(tmp_path / "out")
    stream_to_partitioned(stream, dest, str(tmp_path / "ckpt"))
    out = spark.read.parquet(dest)
    assert out.count() == batch.count()
    assert out.select("__batch_id__").distinct().count() == 3


def test_stream_stream_interval_join_matches_batch(spark, events_stream):
    from dhs_to_database_spark.streaming.events import clicks_before_purchase

    rows = drain_to_parquet(clicks_before_purchase(events_stream)).collect()
    got = {(r["event_id"], r["click_id"]) for r in rows}
    e = _batch_events(spark)
    c = e.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"), F.col("ts").alias("click_ts"),
        F.col("event_id").alias("click_id"),
    )
    p = e.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts").alias("purchase_ts"), "event_id",
    )
    want = {
        (r["event_id"], r["click_id"])
        for r in p.join(
            c,
            (F.col("user_id") == F.col("c_user"))
            & (F.col("click_ts") <= F.col("purchase_ts"))
            & (F.col("click_ts") >= F.col("purchase_ts") - F.expr("INTERVAL 1 hour")),
        ).collect()
    }
    assert got == want
    assert len(got) > 0


def test_enriched_segment_stream_matches_batch(spark, events_stream):
    from dhs_to_database_spark.operators.windows import segment_window_counts
    from dhs_to_database_spark.sources.tables import load_table
    from dhs_to_database_spark.streaming.events import enriched_segment_counts

    cust = load_table(spark, SF_DIR, "customer")
    rows = drain_to_parquet(enriched_segment_counts(events_stream, cust), "complete").collect()
    got = {(r["window_start"], r["segment"]): r["n_events"] for r in rows}
    want = {
        (r["window_start"], r["segment"]): r["n_events"]
        for r in segment_window_counts(spark, SF_DIR)
        .select("window_start", "segment", "n_events")
        .collect()
    }
    assert got == want


def test_late_data_dropped_after_watermark(spark, tmp_path):
    """An event older than the watermark arriving in a later micro-batch
    must NOT reopen its (already finalized) window: append-mode output for
    that window keeps the on-time count only."""
    import time as _time

    src = tmp_path / "late_src"
    src.mkdir()
    mk = lambda rows: spark.createDataFrame(  # noqa: E731
        rows, "event_id bigint, user_id bigint, event_type string, value double, ts timestamp"
    )
    dt = __import__("datetime").datetime
    on_time = mk(
        [
            (1, 1, "a", 1.0, dt(2026, 1, 1, 10, 0)),
            (2, 1, "a", 1.0, dt(2026, 1, 1, 10, 30)),
            # far-future event: watermark becomes 19:00 after this batch
            (3, 1, "a", 1.0, dt(2026, 1, 1, 20, 0)),
        ]
    )
    # batch 2 runs WITH watermark 19:00 -> the 10:00 window is finalized
    # (emitted + state evicted) at its end
    pusher = mk([(4, 1, "a", 1.0, dt(2026, 1, 1, 21, 0))])
    # batch 3: 10:15 arrives after its window's state is gone -> dropped
    late = mk(
        [
            (5, 1, "a", 1.0, dt(2026, 1, 1, 10, 15)),
            (6, 1, "a", 1.0, dt(2026, 1, 1, 21, 30)),
        ]
    )
    on_time.coalesce(1).write.parquet(str(src / "b0"))
    pusher.coalesce(1).write.parquet(str(src / "b1"))
    late.coalesce(1).write.parquet(str(src / "b2"))
    files = sorted(str(p) for p in src.glob("b*/*.parquet"))
    for i, p in enumerate(files):
        target = src / f"events{i}.parquet"
        os.rename(p, target)
        os.utime(target, (1000 + i * 100, 1000 + i * 100))  # batch order b0->b1->b2
        _time.sleep(0.01)
    stream = (
        spark.readStream.schema(on_time.schema)
        .format("parquet")
        .option("pathGlobFilter", "events*.parquet")
        .option("maxFilesPerTrigger", "1")
        .load(str(src))
    )
    rows = drain_to_parquet(tumbling_counts(stream), "append").collect()
    got = {r["window_start"].hour: r["n_events"] for r in rows}
    # the 10:00 window finalized with its 2 on-time events; id 5 was dropped
    assert got.get(10) == 2


def test_jsonl_ingest_stream_dedups_across_and_within_batches(spark, tmp_path):
    """Continuous-ingest composition: shard 1 loads whole; shard 2's
    corpus-dup is skipped, its within-batch dup keeps first; a replayed
    batch appends nothing (self-healing at-least-once)."""
    import json

    from dhs_to_database_spark.sources.jsonl import read_jsonl, clean
    from dhs_to_database_spark.streaming.ingest import (
        ingest_batch,
        ingest_jsonl_stream,
    )

    src = tmp_path / "src"
    src.mkdir()
    corpus = str(tmp_path / "corpus")
    ckpt = str(tmp_path / "ckpt")

    def doc(i, text):
        return json.dumps(
            {"doc_id": i, "text": text, "lang": "en", "source": "s", "n_chars": len(text)}
        )

    (src / "shard1.jsonl").write_text(doc(1, "alpha beta") + "\n" + doc(2, "gamma") + "\n")
    q = ingest_jsonl_stream(spark, str(src), corpus, ckpt)
    q.awaitTermination()
    assert spark.read.parquet(corpus).count() == 2

    (src / "shard2.jsonl").write_text(
        "\n".join(
            [
                doc(3, "alpha  BETA "),  # normalized dup of doc 1
                doc(4, "delta"),
                doc(5, "epsilon"),
                doc(6, "epsilon"),  # within-batch dup of doc 5
            ]
        )
        + "\n"
    )
    q = ingest_jsonl_stream(spark, str(src), corpus, ckpt)
    q.awaitTermination()
    got = {r["doc_id"] for r in spark.read.parquet(corpus).collect()}
    assert got == {1, 2, 4, 5}

    # replay: the same batch again appends nothing
    replay = clean(read_jsonl(spark, str(src / "shard2.jsonl")))
    assert ingest_batch(spark, replay, corpus) == 0
    assert spark.read.parquet(corpus).count() == 4


def test_scd2_stream_matches_batch_apply_and_ignores_replay(spark, tmp_path):
    """Two snapshot files streamed one-per-microbatch must produce the
    same stored dimension as batch init+apply; re-running the drained
    stream (same checkpoint) and a manual replayed batch change nothing."""
    import os
    import time as _time

    from dhs_to_database_spark.plans.schema_evolution import scd2_apply, scd2_init
    from dhs_to_database_spark.streaming.ingest import (
        read_scd2_dim,
        scd2_apply_batch,
        scd2_stream,
    )

    snap_dir = tmp_path / "snaps"
    snap_dir.mkdir()
    dim_dir = str(tmp_path / "dim")
    ckpt = str(tmp_path / "ckpt")
    s1 = spark.createDataFrame([(1, 10.0), (2, 20.0)], "k bigint, v double")
    s2 = spark.createDataFrame([(1, 11.0), (2, 20.0), (3, 30.0)], "k bigint, v double")
    for i, s in enumerate((s1, s2)):
        tmp = snap_dir / f"build{i}"
        s.coalesce(1).write.parquet(str(tmp))
        part = next(p for p in tmp.glob("*.parquet"))
        target = snap_dir / f"snap{i}.parquet"
        os.rename(part, target)
        os.utime(target, (1000 + i * 100, 1000 + i * 100))
        _time.sleep(0.01)
    import shutil

    for i in range(2):
        shutil.rmtree(snap_dir / f"build{i}")

    scd2_stream(spark, str(snap_dir), dim_dir, s1.schema, ["k"], ["v"], ckpt)
    got = {(r["k"], r["valid_from"], r["valid_to"], r["v"], r["is_current"])
           for r in read_scd2_dim(spark, dim_dir).collect()}
    want_df = scd2_apply(scd2_init(s1, 1), s2, ["k"], ["v"], version=2)
    want = {(r["k"], r["valid_from"], r["valid_to"], r["v"], r["is_current"])
            for r in want_df.collect()}
    assert got == want
    # drained stream re-run: checkpoint says nothing new -> dim unchanged
    scd2_stream(spark, str(snap_dir), dim_dir, s1.schema, ["k"], ["v"], ckpt)
    assert {(r["k"], r["valid_from"]) for r in read_scd2_dim(spark, dim_dir).collect()} == {
        (k, vf) for (k, vf, *_rest) in want
    }
    # manual replay of an already-applied batch id is a guarded no-op
    assert scd2_apply_batch(spark, s2, 1, dim_dir, ["k"], ["v"]) is False


def test_windowed_unique_users_stream_within_hll_bounds(spark, events_stream):
    """Streaming HLL distinct-user counts must track the exact batch
    counts within the sketch's relative error (rsd=0.02 -> allow 5x)."""
    from dhs_to_database_spark.operators.windows import window_unique_users
    from dhs_to_database_spark.streaming.events import windowed_unique_users

    rows = drain_to_parquet(windowed_unique_users(events_stream), "complete").collect()
    got = {r["window_start"]: (r["n_users_est"], r["n_events"]) for r in rows}
    want = {
        r["window_start"]: (r["n_users"], r["n_events"])
        for r in window_unique_users(spark, SF_DIR).collect()
    }
    assert set(got) == set(want)
    for w, (est, n_ev) in got.items():
        exact, n_ev_want = want[w]
        assert n_ev == n_ev_want  # plain counts must be exact
        assert abs(est - exact) <= max(2, 0.1 * exact), (w, est, exact)


def test_stream_stream_outer_interval_join_emits_unmatched(spark, events_stream):
    """Left-outer interval join: the inner rows must equal the batch inner
    join, and every batch-unmatched purchase older than the final
    watermark must emit exactly one null-click row (purchases inside the
    final watermark window may legitimately still be in state)."""
    import datetime as dt

    from dhs_to_database_spark.streaming.events import clicks_before_purchase_outer

    rows = drain_to_parquet(clicks_before_purchase_outer(events_stream)).collect()
    inner_got = {(r["event_id"], r["click_id"]) for r in rows if r["click_id"] is not None}
    null_got = [r["event_id"] for r in rows if r["click_id"] is None]
    assert len(null_got) == len(set(null_got))  # exactly-once null emission

    e = _batch_events(spark)
    c = e.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"), F.col("ts").alias("click_ts"),
        F.col("event_id").alias("click_id"),
    )
    p = e.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts").alias("purchase_ts"), "event_id",
    )
    inner_want = {
        (r["event_id"], r["click_id"])
        for r in p.join(
            c,
            (F.col("user_id") == F.col("c_user"))
            & (F.col("click_ts") <= F.col("purchase_ts"))
            & (F.col("click_ts") >= F.col("purchase_ts") - F.expr("INTERVAL 1 hour")),
        ).collect()
    }
    assert inner_got == inner_want

    matched = {ev for ev, _ in inner_want}
    # the global watermark is the MIN of the per-side watermarks (each
    # side's max event time minus the 2h delay)
    max_click = e.filter(F.col("event_type") == "click").agg(F.max("ts")).first()[0]
    max_purch = e.filter(F.col("event_type") == "purchase").agg(F.max("ts")).first()[0]
    final_wm = min(max_click, max_purch) - dt.timedelta(hours=2)
    unmatched_all = {
        r["event_id"]: r["purchase_ts"]
        for r in p.collect()
        if r["event_id"] not in matched
    }
    must_emit = {
        ev for ev, ts in unmatched_all.items()
        if ts < final_wm - dt.timedelta(hours=1, seconds=1)  # lookback margin
    }
    assert must_emit, "fixture left no evictable unmatched purchase — vacuous"
    assert must_emit <= set(null_got)
    assert set(null_got) <= set(unmatched_all)


# --- r4: foreachBatch drain harness (the oracle-checkable surface) --------


def test_drain_complete_equals_batch_tumbling(spark):
    """complete-mode drain of the streaming tumbling agg == batch twin."""
    from dhs_to_database_spark.operators.windows import tumbling_window
    from dhs_to_database_spark.streaming.events import streaming_window_counts

    streamed = {
        (r["window_start"], r["event_type"]): (r["n_events"], r["total_value"])
        for r in streaming_window_counts(spark, SF_DIR).collect()
    }
    batch = {
        (r["window_start"], r["event_type"]): (r["n_events"], r["total_value"])
        for r in tumbling_window(spark, SF_DIR).collect()
    }
    assert streamed == batch


def test_drain_only_nothing_landed_reads_empty(spark, tmp_path, monkeypatch):
    """A drain in which no micro-batch ever wrote returns an empty frame
    with the stream's schema. Any error from the final read of a landing
    that exists must propagate instead of coming back as an empty result
    (it used to be swallowed by a blanket except)."""
    from pyspark.sql.readwriter import DataFrameReader

    src = tmp_path / "src"
    src.mkdir()
    stream = spark.readStream.schema("k int, v string").parquet(str(src))

    landed = drain_to_parquet(stream)
    assert landed.schema == stream.schema and landed.count() == 0

    spark.createDataFrame([(1, "a")], stream.schema).write.parquet(str(src / "b0"), mode="append")
    stream = spark.readStream.schema(stream.schema).parquet(str(src / "b0"))

    def unreadable(self, *paths, **options):
        raise RuntimeError("landing storage unreadable")

    monkeypatch.setattr(DataFrameReader, "parquet", unreadable)
    with pytest.raises(RuntimeError, match="landing storage unreadable"):
        drain_to_parquet(stream)


def _drain_scratch(root) -> list[str]:
    return [e for e in os.listdir(root) if e.startswith("stream_drain_")]


def test_drain_result_outlives_its_scratch(spark, tmp_path, monkeypatch):
    """The drain deletes its landing and checkpoint before it returns; the
    returned frame still holds every landed row."""
    import tempfile

    src, scratch = tmp_path / "src", tmp_path / "scratch"
    scratch.mkdir()
    spark.range(25).selectExpr("CAST(id AS INT) AS k").write.parquet(str(src))
    stream = spark.readStream.schema("k int").parquet(str(src))
    monkeypatch.setattr(tempfile, "tempdir", str(scratch))

    landed = drain_to_parquet(stream)
    assert _drain_scratch(scratch) == []
    assert landed.count() == 25
    assert sorted(r["k"] for r in landed.collect()) == list(range(25))


def test_failing_drain_raises_and_leaves_no_scratch(spark, tmp_path, monkeypatch):
    """A micro-batch that fails surfaces as an error, not as an empty or
    partial result, and neither the landing nor the checkpoint survives;
    the session's shuffle-partition setting is restored."""
    import tempfile

    from pyspark.errors import StreamingQueryException

    src, scratch = tmp_path / "src", tmp_path / "scratch"
    scratch.mkdir()
    spark.range(5).selectExpr("CAST(id AS INT) AS k").write.parquet(str(src))
    stream = spark.readStream.schema("k int").parquet(str(src)).withColumn(
        "k", F.when(F.col("k") >= 0, F.raise_error(F.lit("drain boom"))).otherwise(F.col("k"))
    )
    monkeypatch.setattr(tempfile, "tempdir", str(scratch))
    parts = spark.conf.get("spark.sql.shuffle.partitions")

    with pytest.raises(StreamingQueryException, match="drain boom"):
        drain_to_parquet(stream)
    assert _drain_scratch(scratch) == []
    assert spark.conf.get("spark.sql.shuffle.partitions") == parts


def test_drain_append_matches_memory_sink(spark, events_stream):
    """The parquet foreachBatch drain emits the same closed sessions as a
    memory-sink drain (same availableNow semantics, different landing)."""
    from dhs_to_database_spark.streaming.stateful import session_paths

    landed = drain_to_parquet(session_paths(events_stream), "append")
    q = (
        session_paths(read_events_stream(spark, SF_DIR))
        .writeStream.format("memory")
        .queryName("drain_cmp_mem")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    try:
        mem = spark.table("drain_cmp_mem").collect()
    finally:
        spark.catalog.dropTempView("drain_cmp_mem")
    key = lambda r: (r["user_id"], r["session_start"], r["session_end"])  # noqa: E731
    assert sorted(key(r) for r in landed.collect()) == sorted(key(r) for r in mem)
