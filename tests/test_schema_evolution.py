"""Tests for incremental load + schema evolution (SURVEY.md §2.A A21-A30)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from dhs_to_database_spark.plans.schema_evolution import (
    align_to_union_schema,
    is_key_column,
    overwrite_survey_partition,
    pack_wide_table,
    read_evolved,
    rowcount_reconcile_per_survey,
    should_pack_as_map,
    spec_diff,
    union_of_columns_schema,
    unpack_map_field,
    validate_widths,
)
from dhs_to_database_spark.sources.cspro_dcf import parse_dcf_text
from tests.fixtures_cspro import DCF_TEXT

_ODD_NAMES = ["C`D", "a.b", "it's", "x y", "é"]


def test_key_column_heuristic():
    """A25 (lib04:124-137)."""
    assert is_key_column("surveyid")
    assert is_key_column("CASEID")
    assert is_key_column("hhid")
    assert is_key_column("IDXH4")  # contains idx
    assert is_key_column("ix_line")  # starts ix
    assert not is_key_column("hv105")


def test_pack_decision():
    """A24 (lib04:140-152): >500 cols or country-specific label."""
    assert should_pack_as_map(501, "Household data")
    assert not should_pack_as_map(500, "Household data")
    assert should_pack_as_map(3, "CS: extra questions")
    assert should_pack_as_map(3, "country specific schedule")


def test_union_of_columns_schema(spark):
    """A23 (lib04:165-171): two surveys' specs with differing column sets
    and differing Len for a shared column -> union schema with MAX(len)."""
    s1 = parse_dcf_text("511.AFC", DCF_TEXT).items
    s2_text = DCF_TEXT.replace("Name=HV105\nStart=21\nLen=3", "Name=HV105\nStart=21\nLen=5").replace(
        "Name=HV438\nStart=24\nLen=7", "Name=HV499\nStart=24\nLen=2"
    )
    s2 = parse_dcf_text("512.BFC", s2_text).items
    items = spark.createDataFrame(
        [
            {k: str(r.get(k, "")) for k in ("FileCode", "ItemType", "RecordName", "Name", "Start", "Len")}
            for r in s1 + s2
        ]
    )
    schema = {r["name"]: r for r in union_of_columns_schema(items, "RECH1").collect()}
    assert set(schema) == {"caseid", "hvidx", "hv105", "hv438", "hv499"}
    assert schema["hv105"]["max_len"] == 5  # widened
    assert schema["hv438"]["max_len"] == 7  # only in survey 1
    assert schema["hv499"]["max_len"] == 2  # only in survey 2


def test_pack_and_unpack_roundtrip(spark):
    """A24: map-packing keeps key columns first-class; field extraction
    round-trips (B21)."""
    df = spark.createDataFrame(
        [("511", "h1", "1", "5", "0")], ["surveyid", "hhid", "idxh4", "sh110a", "sh110b"]
    )
    packed = pack_wide_table(df)
    assert packed.columns == ["surveyid", "hhid", "idxh4", "data"]
    row = packed.collect()[0]
    assert row["data"] == {"sh110a": "5", "sh110b": "0"}
    assert unpack_map_field(packed, "sh110a").collect()[0]["sh110a"] == "5"
    # to_json round-trips to the reference's jsonb text form
    j = packed.select(F.to_json("data").alias("j")).collect()[0]["j"]
    assert '"sh110a":"5"' in j

    # DCF item names are arbitrary text: none may be parsed as a column path
    odd = spark.createDataFrame(
        [("511",) + tuple(str(i) for i in range(len(_ODD_NAMES)))],
        ["surveyid", *_ODD_NAMES],
    )
    packed = pack_wide_table(odd)
    assert packed.collect()[0]["data"] == {n: str(i) for i, n in enumerate(_ODD_NAMES)}
    keyed = pack_wide_table(odd, key_columns=["surveyid", "a.b"])
    assert keyed.columns == ["surveyid", "a.b", "data"]
    assert keyed.collect()[0]["a.b"] == "1"


def test_align_and_evolved_read(spark, tmp_path):
    """A22/A26: per-survey partition overwrite + mergeSchema read gives the
    union-of-columns table; missing columns are NULL (sparse)."""
    dest = str(tmp_path / "RECH1")
    s1 = spark.createDataFrame([("h1", "25"), ("h2", "31")], ["hhid", "hv105"])
    s2 = spark.createDataFrame([("h3", "7", "x")], ["hhid", "hv105", "hv499"])
    overwrite_survey_partition(spark, s1, dest, "511")
    overwrite_survey_partition(spark, s2, dest, "512")
    key = "spark.sql.sources.partitionColumnTypeInference.enabled"
    prev = spark.conf.get(key)
    spark.conf.set(key, "true")
    try:
        evolved = read_evolved(spark, dest)
        assert spark.conf.get(key) == "true"  # the session conf is left as found
        assert set(evolved.columns) == {"hhid", "hv105", "hv499", "surveyid"}
        assert evolved.count() == 3
        # the numeric-looking survey ids stay strings in later actions too
        assert dict(evolved.dtypes)["surveyid"] == "string"
        assert sorted(r[0] for r in evolved.select("surveyid").distinct().collect()) == ["511", "512"]
    finally:
        spark.conf.set(key, prev)
    nulls = evolved.filter(F.col("hv499").isNull()).count()
    assert nulls == 2  # survey 511 rows are sparse on the new column

    # idempotent drop-and-reload: rewriting survey 511 replaces, not appends
    overwrite_survey_partition(spark, s1, dest, "511")
    assert read_evolved(spark, dest).count() == 3

    aligned = align_to_union_schema(s1, ["hhid", "hv105", "hv499"])
    assert aligned.columns == ["hhid", "hv105", "hv499"]
    assert aligned.filter(F.col("hv499").isNull()).count() == 2

    odd = spark.createDataFrame([("h1", "x", "yy")], ["hhid", "C`D", "a.b"])
    aligned = align_to_union_schema(odd, ["hhid", *_ODD_NAMES])
    assert aligned.columns == ["hhid", *_ODD_NAMES]
    assert aligned.collect()[0].asDict() == {
        "hhid": "h1", "C`D": "x", "a.b": "yy", "it's": None, "x y": None, "é": None,
    }
    items = spark.createDataFrame(
        [("RECH1", "Item", n, "1", str(i)) for i, n in enumerate(("hhid", "C`D", "a.b"))],
        "RecordName string, ItemType string, Name string, Len string, Start string",
    )
    too_wide = validate_widths(odd, items, "RECH1")
    assert {r["name"]: r["actual_len"] for r in too_wide.collect()} == {"hhid": 2, "a.b": 2}


@pytest.mark.parametrize(
    "writer", ["write_partitioned", "overwrite_survey_partition", "stream_to_partitioned"]
)
def test_partition_overwrite_is_a_write_option(spark, tmp_path, writer):
    """Each partitioned writer overwrites only the partitions it writes
    through a per-write option: under a static session conf, earlier
    partitions survive and the conf is left as it was found."""
    from dhs_to_database_spark.sources.sinks import write_partitioned
    from dhs_to_database_spark.streaming.events import stream_to_partitioned

    key = "spark.sql.sources.partitionOverwriteMode"
    before = spark.conf.get(key)
    spark.conf.set(key, "static")
    dest = str(tmp_path / "out")
    try:
        if writer == "stream_to_partitioned":
            src = str(tmp_path / "src")
            schema = "v int, event_type string"
            for i in range(3):  # three files -> three micro-batches
                spark.createDataFrame([(i, "click")], schema).coalesce(1).write.mode(
                    "append"
                ).parquet(src)
            stream = (
                spark.readStream.schema(schema)
                .option("pathGlobFilter", "*.parquet")
                .option("maxFilesPerTrigger", "1")
                .parquet(src)
            )
            stream_to_partitioned(stream, dest, str(tmp_path / "ckpt"))
            out = spark.read.parquet(dest)
            assert sorted(r["v"] for r in out.collect()) == [0, 1, 2]
            assert out.select("__batch_id__").distinct().count() == 3
        else:
            for sid in ("A", "B"):
                df = spark.createDataFrame([("h1", sid)], "hhid string, surveyid string")
                if writer == "write_partitioned":
                    write_partitioned(df, dest)
                else:
                    overwrite_survey_partition(spark, df.drop("surveyid"), dest, sid)
            ids = spark.read.parquet(dest).select("surveyid").distinct().collect()
            assert sorted(r["surveyid"] for r in ids) == ["A", "B"]
        assert spark.conf.get(key) == "static"
    finally:
        spark.conf.set(key, before)


def test_spec_diff_indicator(spark):
    """A21 (03 nb :824-860): full-outer diff with provenance indicator."""
    old = spark.createDataFrame([("hv105", "3"), ("hv438", "7")], ["name", "len"])
    new = spark.createDataFrame([("hv105", "5"), ("hv499", "2")], ["name", "len"])
    d = {(r["name"], r["len"]): r["_merge"] for r in spec_diff(old, new, ["name", "len"]).collect()}
    assert d[("hv105", "3")] == "left_only"  # len changed -> both sides differ
    assert d[("hv105", "5")] == "right_only"
    assert d[("hv438", "7")] == "left_only"
    assert d[("hv499", "2")] == "right_only"


def test_rowcount_reconcile(spark):
    """A30 (lib04:517-524)."""
    loaded = spark.createDataFrame([("511", 1), ("511", 2), ("512", 1)], ["surveyid", "x"])
    expected = spark.createDataFrame(
        [("511", 1), ("511", 2), ("512", 1), ("512", 2), ("513", 1)], ["surveyid", "x"]
    )
    st = {r["surveyid"]: r["status"] for r in rowcount_reconcile_per_survey(loaded, expected).collect()}
    assert st == {"511": "match", "512": "reload_needed", "513": "reload_needed"}


def test_merge_upsert_update_keep_insert(spark):
    from dhs_to_database_spark.plans.schema_evolution import merge_upsert

    base = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "k bigint, v string"
    )
    updates = spark.createDataFrame(
        [(2, "B"), (9, "Z")], "k bigint, v string"
    )
    got = {r["k"]: r["v"] for r in merge_upsert(base, updates, ["k"]).collect()}
    assert got == {1: "a", 2: "B", 3: "c", 9: "Z"}


def test_merge_upsert_rejects_duplicate_update_keys(spark):
    import pytest as _pytest

    from dhs_to_database_spark.plans.schema_evolution import merge_upsert

    base = spark.createDataFrame([(1, "a")], "k bigint, v string")
    updates = spark.createDataFrame([(2, "B"), (2, "B2")], "k bigint, v string")
    with _pytest.raises(ValueError, match="duplicate keys"):
        merge_upsert(base, updates, ["k"])


def test_scd2_apply_updates_inserts_nulls_and_reapply(spark):
    from dhs_to_database_spark.plans.schema_evolution import scd2_apply, scd2_init

    v1 = spark.createDataFrame(
        [(1, 10.0), (2, None), (3, 30.0)], "k bigint, v double"
    )
    dim = scd2_init(v1, version=1)
    # v2: k=1 changed, k=2 null->20 (null-safe compare must see a change),
    # k=3 unchanged, k=4 brand-new
    v2 = spark.createDataFrame(
        [(1, 11.0), (2, 20.0), (3, 30.0), (4, 40.0)], "k bigint, v double"
    )
    d2 = scd2_apply(dim, v2, keys=["k"], tracked=["v"], version=2)
    rows = {(r["k"], r["valid_from"]): r for r in d2.collect()}
    assert len(rows) == 6  # 3 open v2-era rows + closed 1,2 + open 3
    assert rows[(1, 1)]["valid_to"] == 2 and not rows[(1, 1)]["is_current"]
    assert rows[(1, 2)]["v"] == 11.0 and rows[(1, 2)]["is_current"]
    assert rows[(2, 1)]["valid_to"] == 2  # null -> value IS a change
    assert rows[(3, 1)]["valid_to"] is None and rows[(3, 1)]["is_current"]
    assert rows[(4, 2)]["v"] == 40.0 and rows[(4, 2)]["is_current"]
    # re-applying the SAME snapshot changes nothing (idempotent)
    d3 = scd2_apply(d2, v2, keys=["k"], tracked=["v"], version=3)
    assert sorted(map(tuple, d3.collect()), key=repr) == sorted(
        map(tuple, d2.collect()), key=repr
    )
    # value -> null is also a change
    v3 = spark.createDataFrame([(4, None)], "k bigint, v double")
    d4 = scd2_apply(d3, v3, keys=["k"], tracked=["v"], version=4)
    got = {(r["k"], r["valid_from"]): r for r in d4.collect()}
    assert got[(4, 2)]["valid_to"] == 4 and not got[(4, 2)]["is_current"]
    assert got[(4, 4)]["v"] is None and got[(4, 4)]["is_current"]


def test_content_checksum_identical_and_partitioning_independent(spark):
    """Identical content -> empty diff, regardless of partition layout;
    a single changed row -> exactly that row's bucket surfaces."""
    from dhs_to_database_spark.plans.schema_evolution import (
        checksum_diff,
        content_checksum,
    )

    df = spark.createDataFrame(
        [(i, f"v{i % 17}") for i in range(1000)], "k bigint, v string"
    )
    a = content_checksum(df.repartition(3), ["k", "v"])
    b = content_checksum(df.repartition(11, "v"), ["k", "v"])
    assert checksum_diff(a, b).count() == 0
    from pyspark.sql import functions as F

    mutated = df.withColumn(
        "v", F.when(F.col("k") == 500, F.lit("CORRUPT")).otherwise(F.col("v"))
    )
    d = checksum_diff(a, content_checksum(mutated, ["k", "v"])).collect()
    # the mutation moves one row's hash: at most 2 buckets disagree (old+new)
    assert 1 <= len(d) <= 2
