"""Fixed-width multi-table ``.DAT`` demultiplexing — SURVEY.md §2.A A14-A17.

A CSPro ``.DAT`` file interleaves rows of many tables in one fixed-width
text file; a record-type tag at a fixed position in every line names the
target table. The spec (from the DCF parse) tells us, per record type, each
field's name/start/len.

Spark-first design: this is a *scan + N-way projection, partitioned by tag*.

- ``spark.read.text`` gives one string column per line; the record-type tag
  is a ``substring`` — a pure narrow op, no shuffle, fully codegen'd.
- Per record type we generate a *select list* of ``substring(...)``
  projections from the (tiny, driver-held) spec — the analogue of the
  reference's pre-grouped field dict (DAT_Parser.py:51-56) is a compiled
  Catalyst projection instead of a per-row Python loop.
- A record wider than the reference's JSON-table threshold (A24, >500
  payload columns) is projected straight into a ``data`` map by
  ``project_packed``: one ``transform`` over a constant array of
  ``(start, len)`` pairs, so the driver builds one expression, not one
  Column chain per field (a 520-field chain cost ~46k py4j round trips).
- Whitespace rule (DAT_Parser.py:87-105): every field is right/left-trimmed
  EXCEPT ``CASEID``/``HHID`` whose fixed-width padding is part of the key
  (HHID = CASEID minus last 3 chars — trimming would break referential
  integrity).
- Unknown record tags are dropped (and countable via ``unknown_tags``), the
  reference logs-and-skips (DAT_Parser.py:76-79).
- ``surveyid`` is derived from the file name (``input_file_name``), the
  Spark-native version of the reference injecting it at load (lib04:184).

At 100 TB: the text scan splits by HDFS/parquet block across executors; each
record type's projection is an independent column-pruned pass over the same
cached scan, and the partitioned write (``partitionBy('surveyid')``) gives
partition pruning for every downstream per-survey query.
"""

from __future__ import annotations

import json
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

NO_TRIM_KEYS = ("CASEID", "HHID")


@dataclass(frozen=True)
class FieldSpec:
    name: str
    start: int  # 1-based char position
    length: int


@dataclass(frozen=True)
class RecordSpec:
    record_name: str
    record_type_value: str
    fields: tuple[FieldSpec, ...]


@dataclass(frozen=True)
class DatSpec:
    """Driver-side compiled spec: record-tag position + per-tag field lists."""

    rt_start: int  # 1-based
    rt_len: int
    records: dict[str, RecordSpec]  # keyed by record_type_value


def spec_from_items(items) -> DatSpec:
    """Compile a DatSpec from the items spec (DataFrame or row dicts).

    The first spec row (``RecordName='*'``, ItemType='RecordDesciption')
    carries the record-tag Start/Len for the whole file
    (DAT_Parser.py:39-42); remaining rows are sorted by
    (RecordTypeValue, Start) (DAT_Parser.py:48).
    """
    if isinstance(items, DataFrame):
        rows = [r.asDict() for r in items.collect()]
    else:
        rows = [dict(r) for r in items]
    desc = [r for r in rows if r.get("ItemType") == "RecordDesciption"]
    if len(desc) != 1:
        raise ValueError(f"expected exactly one RecordDesciption row, got {len(desc)}")
    rt_start, rt_len = int(desc[0]["Start"]), int(desc[0]["Len"])

    data_rows = [r for r in rows if r.get("ItemType") != "RecordDesciption"]
    data_rows.sort(key=lambda r: (r["RecordTypeValue"], int(r["Start"])))
    records: dict[str, RecordSpec] = {}
    by_tag: dict[str, list] = {}
    for r in data_rows:
        by_tag.setdefault(r["RecordTypeValue"], []).append(r)
    for tag, rs in by_tag.items():
        names = {r["RecordName"] for r in rs}
        if len(names) != 1:  # reference invariant DAT_Parser.py:119-120
            raise ValueError(f"record type {tag!r} maps to multiple record names {names}")
        records[tag] = RecordSpec(
            record_name=names.pop(),
            record_type_value=tag,
            fields=tuple(FieldSpec(r["Name"], int(r["Start"]), int(r["Len"])) for r in rs),
        )
    return DatSpec(rt_start=rt_start, rt_len=rt_len, records=records)


_SURVEYID_RE = r"([0-9]+)\.[^/]*$"  # '511.CMIR71.DAT' -> 511


def read_tagged_lines(spark: SparkSession, path: str | list[str], spec: DatSpec) -> DataFrame:
    """One row per .DAT line with its record tag and source surveyid."""
    lines = spark.read.text(path)
    return lines.select(
        F.col("value"),
        F.substring("value", spec.rt_start, spec.rt_len).alias("record_type"),
        F.regexp_extract(F.input_file_name(), _SURVEYID_RE, 1).alias("surveyid"),
    )


def _field_column(fspec: FieldSpec) -> Column:
    """One field as a first-class column: its ``substring`` of the line,
    trimmed and blank-to-NULL except for CASEID/HHID (see
    ``project_record``)."""
    c = F.substring("value", fspec.start, fspec.length)
    if fspec.name not in NO_TRIM_KEYS:
        c = F.nullif(F.trim(c), F.lit(""))
    return c.alias(fspec.name)


def project_record(tagged: DataFrame, rec: RecordSpec) -> DataFrame:
    """Select one record type's rows and split them into named columns.

    NULL rule (pinned; SURVEY §7 item 5): a non-key field that trims to
    the empty string loads as NULL — the reference's table-load path COPYs
    with ``null=''`` (lib04:432-434), so '' and SQL NULL are the same
    storage state there and we normalize to NULL at demux time. Keys
    (CASEID/HHID) are exempt: they are never trimmed and never nulled,
    their padding being part of the key. The one deliberate asymmetry is
    the map-packed shape of wide records, where absent values are the
    empty STRING (reference ``fillna('')`` lib04:455) — see
    ``project_packed``. Property-tested end-to-end in
    tests/test_properties.py.
    """
    return tagged.filter(F.col("record_type") == rec.record_type_value).select(
        "surveyid", *(_field_column(f) for f in rec.fields)
    )


def project_packed(tagged: DataFrame, rec: RecordSpec) -> DataFrame:
    """Select one record type's rows in the map-packed shape (A24): key
    columns (``is_key_column``) first-class under the ``project_record``
    rule, then every other field in one ``data`` map<string,string>, keys
    in spec order. This is ``pack_wide_table(project_record(..))`` (the
    tests' oracle) as one expression::

        map_from_arrays(<names>, transform(<(start, len) pairs>,
                        p -> coalesce(trim(substring(value, p[0], p[1])), '')))

    A packed value is the trimmed field, '' when blank or past the end of
    the line — never NULL, as in the reference's ``fillna('')`` jsonb.
    That equals the oracle's ``coalesce(nullif(trim(x), ''), '')``:
    ``spark.read.text`` never yields a NULL ``value``, so ``trim(substring
    (..))`` is never NULL, and a blank field is '' on both sides. The
    ``coalesce`` is kept as the statement of that rule; it costs nothing
    measurable. ``substring`` counts characters, not bytes, on both sides.
    """
    from ..plans.schema_evolution import is_key_column

    keys = [f for f in rec.fields if is_key_column(f.name)]
    payload = [f for f in rec.fields if not is_key_column(f.name)]
    # both constants travel as JSON text, parsed once and folded by the
    # optimizer. Item names are external input, so they go in through
    # F.lit, never spelled into SQL; the spans are integers only.
    names = F.from_json(F.lit(json.dumps([f.name for f in payload])), "array<string>")
    spans = json.dumps([[int(f.start), int(f.length)] for f in payload])
    values = F.expr(
        f"transform(from_json('{spans}', 'array<array<int>>'),"
        " p -> coalesce(trim(substring(value, p[0], p[1])), ''))"
    )
    return tagged.filter(F.col("record_type") == rec.record_type_value).select(
        "surveyid",
        *(_field_column(f) for f in keys),
        F.map_from_arrays(names, values).alias("data"),
    )


def demux_dat(
    spark: SparkSession, path: str | list[str], spec: DatSpec
) -> dict[str, DataFrame]:
    """Demultiplex .DAT file(s) into one DataFrame per record type.

    Returns ``{record_name: DataFrame}``. Each DataFrame is lazy; reading N
    record types re-scans the text N times unless the caller caches
    ``read_tagged_lines`` — for a write-everything pipeline prefer
    ``demux_to_parquet`` which caches the scan once.
    """
    tagged = read_tagged_lines(spark, path, spec)
    return {rec.record_name: project_record(tagged, rec) for rec in spec.records.values()}


def unknown_tags(spark: SparkSession, path: str | list[str], spec: DatSpec) -> DataFrame:
    """Lines whose tag has no spec (reference logs-and-skips these)."""
    tagged = read_tagged_lines(spark, path, spec)
    known = list(spec.records)
    return (
        tagged.filter(~F.col("record_type").isin(known))
        .groupBy("surveyid", "record_type")
        .agg(F.count(F.lit(1)).alias("n_lines"))
    )


def demux_to_parquet(
    spark: SparkSession,
    path: str | list[str],
    spec: DatSpec,
    out_dir: str,
    mode: str = "overwrite",
    sink_format: str = "parquet",
) -> dict[str, str]:
    """Demux + write one parquet dataset per record type, partitioned by
    surveyid (partition-pruned downstream; idempotent per-survey overwrite
    is the Spark-native version of the reference's drop-and-reload A22).

    Returns ``{record_name: destination}``. With a non-parquet
    ``sink_format`` (compute-only dry run) nothing lands on disk, so the
    destination is the empty string — never a phantom path (ADVICE r9).

    Wide records (r6): a record type whose PAYLOAD field count — keys
    excluded, see ``packed_record_names`` — crosses the reference's
    JSON-table threshold (>500 columns — the column-count
    half of the lib04:140-152 decision; the country-specific-label half
    needs a record label, which ``RecordSpec`` does not carry, so
    ``should_pack_as_map`` is called with label=None here and that
    predicate stays with the schema-evolution path) is written PACKED —
    key columns stay first-class, the payload collapses into one
    ``data`` map<string,string> column (``project_packed``, the
    Spark-native jsonb). Same narrow shuffle-free plan: the pack is a
    projection.

    ``mode="overwrite"`` replaces only the surveys present in the input:
    every write passes ``partitionOverwriteMode=dynamic`` as a write
    option, so other surveys' partitions stay and the session conf is
    left as it was found."""
    tagged = read_tagged_lines(spark, path, spec).cache()
    try:
        out = {}
        packed = packed_record_names(spec)
        for rec in spec.records.values():
            dest = f"{out_dir}/{rec.record_name}"
            project = project_packed if rec.record_name in packed else project_record
            df = project(tagged, rec)
            if sink_format == "parquet":
                (
                    df.write.mode(mode)
                    .option("partitionOverwriteMode", "dynamic")
                    .partitionBy("surveyid")
                    .parquet(dest)
                )
                out[rec.record_name] = dest
            else:
                # compute-only sink (e.g. "noop"): runs the full scan +
                # demux projection + pack without the partitioned write —
                # dry-run validation and the probe's compute axis. Nothing
                # lands on disk, so map to "" (ADVICE r9): callers must
                # not mistake the would-be destination for a real path.
                df.write.format(sink_format).mode(mode).save()
                out[rec.record_name] = ""
        return out
    finally:
        tagged.unpersist()


def packed_record_names(spec: DatSpec) -> set[str]:
    """Record types ``demux_to_parquet`` writes map-packed.

    The >500-column JSON-table threshold (lib04:140-152) is applied to the
    PAYLOAD column count — key columns (``is_key_column``) stay first-class
    in the packed shape and so are excluded from the count; counting them
    would shift the pack boundary by the key count (ADVICE r6). Callers
    that need to know which parquet shape was written (columnar vs
    key+``data`` map) consult this instead of sniffing the parquet footer.
    """
    from ..plans.schema_evolution import is_key_column, should_pack_as_map

    return {
        rec.record_name
        for rec in spec.records.values()
        if should_pack_as_map(
            sum(1 for f in rec.fields if not is_key_column(f.name)), None
        )
    }
