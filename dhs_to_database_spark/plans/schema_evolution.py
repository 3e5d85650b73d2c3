"""Incremental load + schema evolution — SURVEY.md §2.A A21-A30, Spark-first.

The reference evolves PostgreSQL tables so each holds the union of all
surveys' columns for a record type (create table / add column / widen
varchar / pack into JSONB; lib04_Update_Table_Data.py). In Spark the same
guarantees come from: union-of-columns schema derivation (a groupBy-max over
the spec), parquet ``mergeSchema`` on read, dynamic partition overwrite for
idempotent per-survey drop-and-reload, and ``MapType`` packing for wide /
country-specific tables. Column *widening* is a no-op (Spark strings are
unbounded) and survives only as a validation query.

All citations into /root/reference/DHS_To_Database/.
"""

from __future__ import annotations

from itertools import chain

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

# JSON/map packing policy (lib04:12, :140-152)
MAX_FIRST_CLASS_COLUMNS = 500
_CS_LABEL_MARKERS = ("cs:", "country specific")

# join-key heuristic (lib04:124-137)
_KEY_EXACT = {"surveyid", "caseid", "mcaseid", "hhid"}


def _col(name: str) -> Column:
    """Column by its literal name. DCF item names are arbitrary text, so the
    name is backtick-quoted: a dot, space or backtick in it is not parsed
    as a struct path or as syntax."""
    return F.col("`" + name.replace("`", "``") + "`")


def is_key_column(name: str) -> bool:
    """The reference's index/join-key heuristic (lib04:124-137): name
    contains 'idx', starts with 'ix', or is one of the well-known keys."""
    low = name.lower()
    return low in _KEY_EXACT or "idx" in low or low.startswith("ix")


def should_pack_as_map(n_columns: int, record_label: str | None) -> bool:
    """JSON-table decision (lib04:140-152): >500 columns or a
    country-specific record label."""
    if n_columns > MAX_FIRST_CLASS_COLUMNS:
        return True
    low = (record_label or "").lower()
    return any(low.startswith(m) or m in low for m in _CS_LABEL_MARKERS)


def union_of_columns_schema(items_df: DataFrame, record_name: str) -> DataFrame:
    """Union-of-columns schema for one record type across surveys
    (lib04:155-200, query :165-171): one row per column with the widest
    Len, ordered by position. All storage is string-typed
    (doc/Data_Format.md:222)."""
    return (
        items_df.filter(
            (F.lower("RecordName") == record_name.lower())
            & (F.col("ItemType") != "RecordDesciption")
        )
        .groupBy(F.lower("Name").alias("name"))
        .agg(
            F.max("ItemType").alias("itemtype"),
            F.max(F.col("Len").cast("int")).alias("max_len"),
            F.max(F.col("Start").cast("int")).alias("max_start"),
        )
        .orderBy("max_start")
    )


def pack_wide_table(df: DataFrame, key_columns: list[str] | None = None) -> DataFrame:
    """Pack non-key columns into one ``data`` map<string,string> column
    (lib04:446-506 packs dict->json; MapType is the Spark-native jsonb).
    ``F.to_json(col('data'))`` round-trips to the reference's jsonb text.
    The demux packs wide records in the same shape without this per-column
    chain (``fixed_width.project_packed``); its parity test uses this
    function as the oracle."""
    keys = key_columns if key_columns is not None else [c for c in df.columns if is_key_column(c)]
    payload = [c for c in df.columns if c not in keys]
    # packed values are never NULL: absent -> empty STRING, mirroring the
    # reference's JSON path fillna('') (lib04:455). The inverse of the
    # demux rule (''->NULL, fixed_width.project_record) — the two paths'
    # asymmetry is the reference's own, pinned here deliberately.
    kv = list(
        chain.from_iterable(
            (F.lit(c), F.coalesce(_col(c).cast("string"), F.lit("")))
            for c in payload
        )
    )
    return df.select(*map(_col, keys), F.create_map(*kv).alias("data"))


def unpack_map_field(df: DataFrame, field: str) -> DataFrame:
    """Extract one packed field back out (doc/Data_Format.md:220, B21)."""
    return df.withColumn(field, F.col("data")[field])


def align_to_union_schema(df: DataFrame, all_columns: list[str]) -> DataFrame:
    """Reconcile a survey's frame to the union schema: missing columns
    become NULL (the reference's ADD COLUMN, lib04:331-342/345-383);
    ordering is normalized so unions are positional-safe."""
    present = set(df.columns)
    cols = [
        _col(c) if c in present else F.lit(None).cast("string").alias(c) for c in all_columns
    ]
    return df.select(*cols)


def overwrite_survey_partition(
    spark: SparkSession, df: DataFrame, dest: str, surveyid: str
) -> None:
    """Idempotent per-survey drop-and-reload (A22; lib03:316-363,
    lib04:509-541): dynamic partition overwrite replaces exactly the
    ``surveyid=<x>`` partition, leaving other surveys untouched."""
    (
        df.withColumn("surveyid", F.lit(surveyid))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("surveyid")
        .parquet(dest)
    )


def read_evolved(spark: SparkSession, dest: str) -> DataFrame:
    """Read a table whose per-partition schemas may differ (mergeSchema:
    the Spark-native union-of-columns, doc/Data_Format.md:212-217).

    Partition-column type inference is disabled for the read: ``surveyid``
    is a STRING everywhere in this engine (the reference's all-varchar rule,
    doc/Data_Format.md:222) and inference would silently turn a directory of
    numeric survey ids into ints, breaking joins against the string keys.
    The partition schema is fixed when the frame is created, so the
    session's own setting is restored right after."""
    key = "spark.sql.sources.partitionColumnTypeInference.enabled"
    prev = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        return spark.read.option("mergeSchema", "true").parquet(dest)
    finally:
        spark.conf.set(key, prev)


def spec_diff(left: DataFrame, right: DataFrame, keys: list[str]) -> DataFrame:
    """Metadata diff via full outer join with provenance indicator
    (A21; 03 nb raw :824-860: merge(indicator=True)). Any row not 'both'
    means the survey's spec changed -> drop-and-reload."""
    lk = [F.col(f"l.{k}") for k in keys]
    rk = [F.col(f"r.{k}") for k in keys]
    cond = None
    for a, b in zip(lk, rk):
        c = a.eqNullSafe(b)
        cond = c if cond is None else (cond & c)
    # presence markers, NOT key nullness: the join is null-safe, so a key
    # value may legitimately be NULL on a present row — key nullness would
    # misclassify such rows
    l = left.withColumn("__l__", F.lit(True)).alias("l")
    r = right.withColumn("__r__", F.lit(True)).alias("r")
    return l.join(r, cond, "full_outer").select(
        *[F.coalesce(a, b).alias(k) for k, a, b in zip(keys, lk, rk)],
        F.when(F.col("l.__l__").isNotNull() & F.col("r.__r__").isNotNull(), "both")
        .when(F.col("l.__l__").isNotNull(), "left_only")
        .otherwise("right_only")
        .alias("_merge"),
    )


def validate_widths(df: DataFrame, items_df: DataFrame, record_name: str) -> DataFrame:
    """The reference's VARCHAR widening (A27, lib04:294-328) as a pure
    validation: actual max length per column vs the spec's widest Len.
    Returns columns where data exceeds spec (should be empty)."""
    spec = union_of_columns_schema(items_df, record_name)
    actuals = [
        F.max(F.length(_col(c))).alias(c) for c in df.columns if c not in ("surveyid",)
    ]
    melted = df.agg(*actuals)
    rows = melted.collect()[0].asDict() if actuals else {}
    actual_df = df.sparkSession.createDataFrame(
        [(k.lower(), int(v) if v is not None else 0) for k, v in rows.items()],
        "name string, actual_len bigint",  # explicit: empty lists can't infer
    )
    return (
        actual_df.join(spec, "name", "inner")
        .filter(F.col("actual_len") > F.col("max_len"))
        .select("name", "actual_len", "max_len")
    )


def rowcount_reconcile_per_survey(loaded: DataFrame, expected: DataFrame) -> DataFrame:
    """A30 (lib04:517-524): loaded-vs-expected row counts per surveyid;
    any 'expected > loaded' row triggers drop-and-reload upstream."""
    lc = loaded.groupBy("surveyid").agg(F.count(F.lit(1)).alias("loaded_rows"))
    ec = expected.groupBy("surveyid").agg(F.count(F.lit(1)).alias("expected_rows"))
    return (
        lc.join(ec, "surveyid", "full_outer")
        .select(
            "surveyid",
            F.coalesce("loaded_rows", F.lit(0)).alias("loaded_rows"),
            F.coalesce("expected_rows", F.lit(0)).alias("expected_rows"),
        )
        .withColumn(
            "status",
            F.when(F.col("loaded_rows") == F.col("expected_rows"), "match")
            .when(F.col("loaded_rows") < F.col("expected_rows"), "reload_needed")
            .otherwise("extra_rows"),
        )
    )


def merge_upsert(
    base: DataFrame,
    updates: DataFrame,
    keys: list[str],
    validate_unique: bool = True,
) -> DataFrame:
    """Row-level MERGE (upsert): update rows replace key-matching base rows,
    unmatched base rows survive, new update keys are inserted.

    The reference only does whole-partition drop-and-reload
    (lib03:316-363, lib04:509-541); this is the finer-grained variant a
    Spark pipeline uses when a survey revision touches a subset of rows.
    Plan shape: one anti-join shuffle on the keys + a union — no window,
    no full-outer join. With both sides bucketed on the keys the
    anti-join is shuffle-free; at 100 TB the anti-join's right side
    (updates) is usually small enough for a broadcast, making the whole
    merge a narrow pass over base.

    ``validate_unique`` enforces standard MERGE semantics: duplicate keys
    in ``updates`` raise (they would silently land as duplicate rows in
    the target). The check is an eager aggregation over ``updates`` only
    — cheap next to the merge itself; pass ``False`` when uniqueness is
    guaranteed by construction.
    """
    cols = base.columns
    if validate_unique:
        dups = (
            updates.groupBy(*keys)
            .count()
            .filter(F.col("count") > 1)
            .limit(1)
            .count()
        )
        if dups:
            raise ValueError(
                f"merge_upsert: updates contain duplicate keys on {keys}; "
                "MERGE requires at most one source row per key"
            )
    return (
        base.join(updates.select(*keys), keys, "left_anti")
        .unionByName(updates.select(*cols))
    )


def scd2_init(snapshot: DataFrame, version: int = 1) -> DataFrame:
    """Bootstrap a type-2 slowly-changing dimension from its first
    snapshot: every row becomes the current version, valid from
    ``version``."""
    return snapshot.select(
        "*",
        F.lit(version).cast("int").alias("valid_from"),
        F.lit(None).cast("int").alias("valid_to"),
        F.lit(True).alias("is_current"),
    )


def scd2_apply(
    dim: DataFrame,
    snapshot: DataFrame,
    keys: list[str],
    tracked: list[str],
    version: int,
) -> DataFrame:
    """Apply a new snapshot to a type-2 slowly-changing dimension.

    ``dim`` carries (business columns..., valid_from, valid_to,
    is_current); ``snapshot`` carries the business columns only. Rows whose
    ``tracked`` attributes changed are closed (valid_to = ``version``) and
    re-inserted as the new current version; unchanged rows pass through
    untouched; keys new to the snapshot are inserted. Keys absent from the
    snapshot remain open (the common incremental-feed semantics; a
    full-snapshot feed that should expire them would add one anti-join).

    The reference's metadata sync keeps only latest-version rows per survey
    (lib03:316-363, drop-and-reload); SCD2 is the lossless variant a
    warehouse needs when queries must reconstruct *as-of* states. Plan
    shape: ONE equi-join shuffle of the current slice vs the snapshot on
    the business keys (history rows never move), then narrow unions; with
    dim and snapshot bucketed on the keys the join is co-located and
    shuffle-free. Tracked-attribute comparison is null-safe.
    """
    cols = dim.columns
    cur = dim.filter(F.col("is_current"))
    hist = dim.filter(~F.col("is_current"))
    # Prefix-rename the snapshot side (fresh attribute ids): ``dim`` often
    # carries an earlier snapshot in its lineage, and a plain alias join
    # would then be a self-join with ambiguous attributes on re-apply.
    # Side-presence sentinels: business/tracked columns can be genuinely
    # NULL, so each side carries an explicit always-true tag instead.
    snap = snapshot.select(
        *[F.col(c).alias(f"__s_{c}") for c in (*keys, *tracked)]
    ).withColumn("__in_snap", F.lit(True))
    j = cur.withColumn("__in_cur", F.lit(True)).join(
        snap,
        [F.col(k) == F.col(f"__s_{k}") for k in keys],
        "full_outer",
    )
    changed_flag = F.lit(False)
    for t in tracked:
        changed_flag = changed_flag | ~F.col(t).eqNullSafe(F.col(f"__s_{t}"))
    in_cur = F.col("__in_cur").isNotNull()
    in_snap = F.col("__in_snap").isNotNull()
    is_changed = in_cur & in_snap & changed_flag
    is_new_key = ~in_cur & in_snap
    closed = (
        j.filter(is_changed)
        .select(*cols)
        .withColumn("valid_to", F.lit(version).cast("int"))
        .withColumn("is_current", F.lit(False))
    )
    kept = j.filter(in_cur & ~is_changed).select(*cols)
    fresh = (
        j.filter(is_changed | is_new_key)
        .select(
            *[F.coalesce(F.col(k), F.col(f"__s_{k}")).alias(k) for k in keys],
            *[F.col(f"__s_{t}").alias(t) for t in tracked],
        )
        .withColumn("valid_from", F.lit(version).cast("int"))
        .withColumn("valid_to", F.lit(None).cast("int"))
        .withColumn("is_current", F.lit(True))
    )
    return (
        hist.select(*cols)
        .unionByName(kept.select(*cols))
        .unionByName(closed.select(*cols))
        .unionByName(fresh.select(*cols))
    )


def content_checksum(df: DataFrame, cols: list[str], n_buckets: int = 256) -> DataFrame:
    """Per-bucket content checksum: every row rendered to a canonical
    string, hashed to a 60-bit int (md5 prefix — engine-portable), XOR-
    aggregated per hash bucket alongside a row count. XOR is order- and
    overflow-free, so the checksum is partitioning-independent and two
    tables match iff (count, xor) match in every bucket. One map-side-
    combined shuffle of n_buckets rows per side — at 100 TB this is how
    you verify a migration without moving either table."""
    from pyspark.sql import functions as F

    rendered = F.concat_ws("|", *[F.col(c).cast("string") for c in cols])
    h = F.conv(F.substring(F.md5(rendered), 1, 15), 16, 10).cast("bigint")
    return (
        df.select(h.alias("h"))
        .select(F.pmod(F.col("h"), F.lit(n_buckets)).cast("int").alias("bucket"), "h")
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.expr("bit_xor(h)").cast("bigint").alias("xor_h"),
        )
    )


def checksum_diff(left: DataFrame, right: DataFrame) -> DataFrame:
    """Buckets where two content_checksum results disagree (null-safe
    full-outer compare). Empty result == tables content-identical."""
    from pyspark.sql import functions as F

    l = left.select("bucket", F.col("n_rows").alias("n_left"), F.col("xor_h").alias("xor_left"))
    r = right.select("bucket", F.col("n_rows").alias("n_right"), F.col("xor_h").alias("xor_right"))
    return (
        l.join(r, "bucket", "full_outer")
        .filter(
            ~F.col("n_left").eqNullSafe(F.col("n_right"))
            | ~F.col("xor_left").eqNullSafe(F.col("xor_right"))
        )
    )
