"""Golden end-to-end test (SURVEY.md §5): survey zips -> staging -> DCF
dictionary -> spec -> DAT demux (two surveys) -> partitioned load -> evolved
read -> cross-level join, compared with hand-computed expected output.

This drives the PUBLIC pipeline entry (``dhs_to_database_spark.pipeline.
run_pipeline`` — the reference's EP1+EP3 notebook lifecycle, lib02:97-125)
rather than hand-chaining the stages, then checks the README.md:90-94 query
shape: RECH1 (household members) joined to RECH4A (country-specific extras)
on the *padded* CASEID + line-number link the [Relation] block declares."""

from __future__ import annotations

import zipfile

from pyspark.sql import functions as F

from dhs_to_database_spark.pipeline import run_pipeline
from tests.fixtures_cspro import DCF_TEXT, DAT_LINES

_DAT_LINES_512 = [
    "       9   944 H00 72",
    "       9   944 H01 1 33    ",
    "       9   944 H01 2 61    ",
    "       9   944 H4A 28",  # IDXH4=' 2' (cols 19-20), SH110A='8' (col 21)
]

CASEID_511 = "       1   901 "
CASEID_512 = "       9   944 "


def _make_zip(path, dat_text: str) -> None:
    with zipfile.ZipFile(path, "w") as zf:
        zf.writestr("TESTFC.DCF", DCF_TEXT)
        zf.writestr("TESTFC.DAT", dat_text)


def test_golden_pipeline(spark, tmp_path):
    # 0. two survey download zips, each carrying its dictionary + data file
    downloads = tmp_path / "downloads"
    downloads.mkdir()
    _make_zip(downloads / "511.TESTFC.zip", "\n".join(DAT_LINES) + "\n")
    _make_zip(downloads / "512.TESTFC.zip", "\n".join(_DAT_LINES_512) + "\n")

    # 1-4. the public driver: stage (manual mode) -> parse -> demux -> load
    res = run_pipeline(
        spark,
        staging_folder=str(tmp_path / "staging"),
        warehouse_dir=str(tmp_path / "warehouse"),
        downloads_folder=str(downloads),
        spec_dir=str(tmp_path / "specs"),
    )
    assert set(res.tables) == {"RECH0", "RECH1", "RECH4A"}
    assert len(res.staged) == 4  # 2 zips x 2 members
    # the 511 fixture plants one unknown-tag line -> logged-and-skipped
    unk = res.unknown_tag_counts.collect()
    assert [(r["surveyid"], r["record_type"], r["n_lines"]) for r in unk] == [
        ("511", "XXX", 1)
    ]

    # spec CSVs (A13) were emitted alongside
    spec_back = spark.read.option("header", True).csv(
        str(tmp_path / "specs" / "FlatRecordSpec")
    )
    assert spec_back.count() == res.items.count()

    # evolved read-back (surveyid stays STRING)
    from dhs_to_database_spark.plans.schema_evolution import read_evolved

    rech1 = read_evolved(spark, res.tables["RECH1"])
    rech4a = read_evolved(spark, res.tables["RECH4A"])

    # the relation from the DCF names the join: RECH1.HVIDX = RECH4A.IDXH4
    rel = [
        r
        for r in res.relations.collect()
        if r["RelName"] == "HH_MEMBERS" and r["FileCode"] == "511.TESTFC"
    ][0]
    assert (rel["PrimaryLink"], rel["SecondaryLink"]) == ("HVIDX", "IDXH4")

    # the flagship cross-level shape: member age joined to CS extras
    joined = (
        rech1.join(
            rech4a,
            (rech1.surveyid == rech4a.surveyid)
            & (rech1.CASEID == rech4a.CASEID)
            & (rech1[rel["PrimaryLink"]] == rech4a[rel["SecondaryLink"]]),
        )
        .select(rech1.surveyid, rech1.CASEID, "HVIDX", "HV105", "SH110A")
        .orderBy("surveyid")
    )
    got = [tuple(r) for r in joined.collect()]
    # hand-computed: 511's H4A line has only a space at SH110A's col 21 —
    # under the pinned NULL rule (blank non-key field -> NULL, the COPY
    # null='' convention lib04:432-434) that loads as None; 512's has '8'
    assert got == [
        ("511", CASEID_511, "1", "25", None),
        ("512", CASEID_512, "2", "61", "8"),
    ]

    # invariants: padded keys survived the round-trip; partition pruning
    assert {r["CASEID"] for r in rech1.select("CASEID").collect()} == {
        CASEID_511,
        "       2   902 ",  # second household in the 511 fixture
        CASEID_512,
    }
    pruned = rech1.filter(F.col("surveyid") == "511")
    assert pruned.count() == 3
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan or "surveyid" in plan

    # idempotency (A18/A22): a re-run stages nothing new and leaves the
    # warehouse identical — dynamic overwrite replaces only the partitions
    # present in the input
    res2 = run_pipeline(
        spark,
        staging_folder=str(tmp_path / "staging"),
        warehouse_dir=str(tmp_path / "warehouse"),
        downloads_folder=str(downloads),
    )
    assert sorted(res2.staged) == sorted(res.staged)  # all skipped-as-existing
    # 3 members in survey 511 + 2 in 512, unchanged after the re-run
    assert read_evolved(spark, res2.tables["RECH1"]).count() == 5


def test_rerun_reads_a_rewritten_dictionary(spark, tmp_path):
    """A second run over the same ``.dcf`` path parses the file as it is
    now, not a cached earlier parse, and neither run leaves an entry in
    the session's cache."""
    staging = tmp_path / "staging"
    staging.mkdir()
    (staging / "TESTFC.dat").write_text("\n".join(DAT_LINES) + "\n")
    cache = spark._jsparkSession.sharedState().cacheManager()
    was_empty = cache.isEmpty()

    def item_names():
        res = run_pipeline(
            spark, staging_folder=str(staging), warehouse_dir=str(tmp_path / "wh")
        )
        return {r["Name"] for r in res.items.collect()}

    (staging / "TESTFC.dcf").write_text(DCF_TEXT)
    assert "HV006" in item_names()
    (staging / "TESTFC.dcf").write_text(DCF_TEXT.replace("HV006", "HV999"))
    names = item_names()
    assert "HV999" in names and "HV006" not in names
    assert cache.isEmpty() == was_empty


def test_stage1_update_check_drives_the_pipeline(spark, tmp_path):
    """The full reference lifecycle in one story: the stage-1 catalog diff
    (01 nb: presence probe + anti-join) decides WHICH surveys to fetch,
    and the fetch list drives run_pipeline. Survey 511 is already loaded;
    the catalog advertises 511 + 512; the update check emits exactly 512,
    whose zip is then staged/parsed/loaded, after which a re-check finds
    nothing left to fetch (the loop's fixpoint)."""
    from dhs_to_database_spark.pipeline import check_for_updates
    from dhs_to_database_spark.plans.schema_evolution import read_evolved

    downloads = tmp_path / "downloads"
    downloads.mkdir()
    _make_zip(downloads / "511.TESTFC.zip", "\n".join(DAT_LINES) + "\n")
    res1 = run_pipeline(
        spark,
        staging_folder=str(tmp_path / "staging"),
        warehouse_dir=str(tmp_path / "warehouse"),
        downloads_folder=str(downloads),
    )

    catalog = spark.createDataFrame(
        [("XX2015DHS", 511), ("YY2017DHS", 512)], "SurveyId string, SurveyNum int"
    )

    def presence():
        # "our surveys" = ids present in the loaded record tables (the
        # notebook's RECH1/REC01/MREC01 probe, transposed to our tables)
        return [
            read_evolved(spark, res1.tables[t]).select(
                F.col("surveyid").cast("int").alias("surveyid")
            )
            for t in ("RECH0", "RECH1")
        ]

    check = check_for_updates(catalog, presence())
    assert {r["SurveyNum"] for r in check.survey_data_to_look_for.collect()} == {512}

    # "fetch" 512 (drop its zip in downloads) and run the pipeline again
    _make_zip(downloads / "512.TESTFC.zip", "\n".join(_DAT_LINES_512) + "\n")
    res2 = run_pipeline(
        spark,
        staging_folder=str(tmp_path / "staging"),
        warehouse_dir=str(tmp_path / "warehouse"),
        downloads_folder=str(downloads),
    )
    loaded = {
        r["surveyid"]
        for r in read_evolved(spark, res2.tables["RECH1"]).select("surveyid").distinct().collect()
    }
    assert loaded == {"511", "512"}

    # fixpoint: nothing left to fetch
    res1 = res2  # presence() closes over res1's table paths; same warehouse
    assert check_for_updates(catalog, presence()).survey_data_to_look_for.count() == 0
