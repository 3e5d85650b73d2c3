"""Continuous corpus ingestion: JSONL shards -> content-dedup'd corpus.

The production crawl-ingest loop: shards of documents land in a directory;
each microbatch is parsed (malformed lines audited, not fatal), content-
fingerprinted, deduplicated against everything already ingested AND
within itself, and only genuinely new documents are appended to the
corpus. Composes `sources.jsonl` (parse), `operators.dedup.
incremental_dedup` (batch-vs-corpus classification), and Structured
Streaming file discovery + checkpointing.

Ancestry in the reference: the download-staging reconciliation + dup-load
check run per survey batch (lib02 / 03 nb) — here as a continuously
running stream instead of a manual notebook pass.

Scale + exactly-once design:
- File-source streaming tracks discovered shards in the checkpoint; the
  dedup key join shuffles ONLY the incoming batch (the corpus fingerprint
  table is the stored big side).
- foreachBatch append is at-least-once under retries, but the content
  dedup makes replays SELF-HEALING: rows a failed attempt already
  appended are 'dup_of_corpus' on the retry and skipped — the corpus
  converges to exactly-once contents without a transactional sink
  (pinned by a replay test).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..operators.dedup import incremental_dedup
from ..operators.tokens import normalized_fingerprint
from ..sources.jsonl import DOCUMENTS_SCHEMA, clean, parse_jsonl_lines


def ingest_batch(
    spark: SparkSession, batch: DataFrame, corpus_dir: str, id_col: str = "doc_id"
) -> int:
    """Dedup one parsed batch against the corpus at ``corpus_dir`` and
    append the new rows (with their stored fingerprint). Returns the
    number of appended rows. Idempotent: re-running the same batch
    appends nothing."""
    fp = batch.withColumn("fingerprint", normalized_fingerprint(F.col("text")))
    try:
        known = spark.read.parquet(corpus_dir).select("fingerprint")
    except Exception:  # first batch: corpus does not exist yet
        known = spark.createDataFrame(
            [], T.StructType([T.StructField("fingerprint", T.StringType())])
        )
    tagged = incremental_dedup(
        fp, known, key_cols=["fingerprint"], id_col=id_col
    )
    new_ids = tagged.filter(F.col("status") == "new").select(id_col)
    # Materialize BEFORE appending: the plan's lineage scans corpus_dir,
    # and appending to a directory a running plan is still reading is a
    # self-referential race. Batch-sized, so the pin is trivial.
    new_rows = fp.join(new_ids, id_col).localCheckpoint(eager=True)
    n = new_rows.count()
    if n:
        new_rows.write.mode("append").parquet(corpus_dir)
    return n


def ingest_jsonl_stream(
    spark: SparkSession,
    src_dir: str,
    corpus_dir: str,
    checkpoint_dir: str,
    schema: T.StructType | None = None,
    available_now: bool = True,
):
    """Start the ingestion stream over ``src_dir`` shards. With
    ``available_now`` it drains everything currently present and stops
    (the batch-replay-friendly mode the tests use); otherwise it keeps
    watching for new shards."""
    if schema is None:
        schema = DOCUMENTS_SCHEMA
    lines = spark.readStream.text(src_dir)
    parsed = parse_jsonl_lines(lines, schema=schema)

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        ingest_batch(batch_df.sparkSession, clean(batch_df), corpus_dir)

    writer = parsed.writeStream.foreachBatch(handle).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


# ---------------------------------------------------------------------------
# Streaming SCD2 maintenance: dimension snapshot files land in a
# directory; each micro-batch advances a stored type-2 dimension via
# plans.schema_evolution.scd2_apply. The dim store is versioned-directory
# swapped (write v{n+1}, then repoint), because overwriting the parquet
# a running plan is reading is a self-referential race — and the version
# marker doubles as the replay guard: a replayed micro-batch sees its
# batch_id already applied and becomes a no-op, making the sink
# effectively exactly-once (same transactional-marker pattern as a
# Delta-style commit log, built on plain parquet).
# ---------------------------------------------------------------------------


def _dim_state(dim_dir: str) -> tuple[int, int]:
    """(last_applied_batch_id, version) from the marker; (-1, 0) if new."""
    import json
    import os

    marker = os.path.join(dim_dir, "_scd2_state.json")
    if not os.path.exists(marker):
        return -1, 0
    with open(marker) as f:
        st = json.load(f)
    return st["batch_id"], st["version"]


def scd2_apply_batch(
    spark: SparkSession,
    batch: DataFrame,
    batch_id: int,
    dim_dir: str,
    keys: list[str],
    tracked: list[str],
) -> bool:
    """Apply one snapshot micro-batch to the stored dimension; returns
    False (no-op) when ``batch_id`` was already applied (replay)."""
    import json
    import os

    from ..plans.schema_evolution import scd2_apply, scd2_init

    last, ver = _dim_state(dim_dir)
    if batch_id <= last:
        return False
    new_ver = ver + 1
    snap = batch.select(*keys, *tracked)
    if ver == 0:
        dim = scd2_init(snap, version=new_ver)
    else:
        cur = spark.read.parquet(os.path.join(dim_dir, f"v{ver}"))
        dim = scd2_apply(cur, snap, keys=keys, tracked=tracked, version=new_ver)
    os.makedirs(dim_dir, exist_ok=True)
    dim.write.mode("overwrite").parquet(os.path.join(dim_dir, f"v{new_ver}"))
    with open(os.path.join(dim_dir, "_scd2_state.json"), "w") as f:
        json.dump({"batch_id": batch_id, "version": new_ver}, f)
    return True


def scd2_stream(
    spark: SparkSession,
    snapshot_dir: str,
    dim_dir: str,
    schema,
    keys: list[str],
    tracked: list[str],
    checkpoint: str,
):
    """availableNow stream of snapshot parquet files -> stored SCD2 dim.
    One snapshot file per micro-batch keeps version advancement aligned
    with snapshot arrival order (file mtime order, as the file source
    discovers them)."""
    stream = (
        spark.readStream.schema(schema)
        .format("parquet")
        .option("maxFilesPerTrigger", "1")
        .load(snapshot_dir)
    )
    q = (
        stream.writeStream.foreachBatch(
            lambda b, bid: scd2_apply_batch(
                b.sparkSession, b, bid, dim_dir, keys, tracked
            )
        )
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q


def read_scd2_dim(spark: SparkSession, dim_dir: str) -> DataFrame:
    import os

    _, ver = _dim_state(dim_dir)
    if ver == 0:
        raise FileNotFoundError(f"no SCD2 dimension at {dim_dir}")
    return spark.read.parquet(os.path.join(dim_dir, f"v{ver}"))
