"""End-to-end pipeline driver — the reference's EP1-EP3 lifecycle as one
callable (lib02_Unzip_And_Organise_Downloads.py:97-125 -> DCF_Parser ->
DAT_Parser -> load).

Stages (each is independently exposed by the source/plan modules; this
driver only sequences them):

1. **Stage** (optional): unzip downloads into ``staging_folder`` —
   manifest-keyed batch mode or filename-keyed manual mode (A1-A3, A18).
2. **Parse dictionaries**: distributed DCF parse over every staged ``*.dcf``
   (one task per file, A5-A12); optionally emit the three spec CSVs (A13).
3. **Demux data files**: per dictionary, compile the fixed-width spec and
   split its ``*.dat`` into per-record-type tables (A14-A17). Dictionaries
   with IDENTICAL compiled specs are demuxed together — one text scan per
   spec group, however many surveys share it.
4. **Load**: dynamic-partition-overwrite parquet per record table,
   partitioned by surveyid (A22 drop-and-reload; read back with
   ``plans.schema_evolution.read_evolved`` for the union-of-columns view).

Scale notes: the driver touches only spec-sized data (items rows, file
lists); all row-level work stays in executor tasks. One survey = one
partition overwrite, so re-running a survey is idempotent and leaves other
surveys' partitions untouched.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from .sources.cspro_dcf import parse_dcf_files
from .sources.fixed_width import (
    DatSpec,
    demux_to_parquet,
    spec_from_items,
    unknown_tags,
)
from .sources.sinks import write_spec_csvs
from .sources.staging import stage_batch, stage_manual


@dataclass
class PipelineResult:
    """What the run produced: record-table paths, staged file list, and the
    log-and-skip diagnostics (lines whose record tag no spec knows).

    With a non-parquet ``sink_format`` (compute-only dry run) ``tables``
    still enumerates every record name but maps each to ``""`` — nothing
    was written, so no path is handed back (ADVICE r9)."""

    tables: dict[str, str] = field(default_factory=dict)
    staged: list[str] = field(default_factory=list)
    unknown_tag_counts: DataFrame | None = None
    items: DataFrame | None = None
    values: DataFrame | None = None
    relations: DataFrame | None = None


def _find_files(root: str, ext: str) -> list[str]:
    """Case-insensitive recursive ``*.<ext>`` listing (driver-side; file
    lists are spec-sized)."""
    out = []
    for dirpath, _dirs, names in os.walk(root):
        out.extend(
            os.path.join(dirpath, n) for n in names if n.lower().endswith("." + ext)
        )
    return sorted(out)


def _spec_signature(spec: DatSpec) -> tuple:
    """Hashable identity of a compiled spec — dictionaries that compile to
    the same layout can share one demux scan."""
    return (
        spec.rt_start,
        spec.rt_len,
        tuple(
            (tag, rec.record_name, rec.fields)
            for tag, rec in sorted(spec.records.items())
        ),
    )


def run_pipeline(
    spark: SparkSession,
    staging_folder: str,
    warehouse_dir: str,
    *,
    downloads_folder: str | None = None,
    manifest_path: str | None = None,
    spec_dir: str | None = None,
    expand_ranges: str = "All",
    sink_format: str = "parquet",
) -> PipelineResult:
    """Run stages 1-4; see module docstring. ``staging_folder`` is scanned
    recursively for ``<filecode>.dcf`` / ``<filecode>.dat`` pairs (the
    naming ``stage_zip`` produces); pass ``downloads_folder`` (and
    optionally ``manifest_path`` for batch mode) to unzip first."""
    result = PipelineResult()

    # -- stage 1: unzip ----------------------------------------------------
    if downloads_folder is not None:
        if manifest_path is not None:
            result.staged = stage_batch(
                spark, manifest_path, downloads_folder, staging_folder
            )
        else:
            result.staged = stage_manual(spark, downloads_folder, staging_folder)

    # -- stage 2: dictionaries ---------------------------------------------
    dcf_files = _find_files(staging_folder, "dcf")
    if not dcf_files:
        raise FileNotFoundError(f"no .dcf files under {staging_folder!r}")
    items, values, relations = parse_dcf_files(
        spark, dcf_files, expand_ranges=expand_ranges
    )
    result.items, result.values, result.relations = items, values, relations
    if spec_dir is not None:
        write_spec_csvs(items, values, relations, spec_dir)

    # -- stage 3: compile specs, group identical ones, locate .dat files ---
    item_rows = [r.asDict() for r in items.collect()]  # spec-sized
    by_filecode: dict[str, list[dict]] = {}
    for r in item_rows:
        by_filecode.setdefault(r["FileCode"], []).append(r)
    dat_by_filecode = {
        os.path.basename(p).rsplit(".", 1)[0]: p
        for p in _find_files(staging_folder, "dat")
    }
    groups: dict[tuple, tuple[DatSpec, list[str]]] = {}
    for filecode, rows in sorted(by_filecode.items()):
        dat = dat_by_filecode.get(filecode)
        if dat is None:
            continue  # dictionary without data file: spec-only survey
        spec = spec_from_items(rows)
        sig = _spec_signature(spec)
        groups.setdefault(sig, (spec, []))[1].append(dat)

    # -- stage 4: demux + partitioned load ---------------------------------
    # demux_to_parquet overwrites dynamically: a re-run replaces exactly
    # the surveys present in the input, never other surveys' partitions
    # (A22 drop-and-reload)
    unknown_frames = []
    for spec, dats in groups.values():
        result.tables.update(
            demux_to_parquet(
                spark, dats, spec, warehouse_dir, sink_format=sink_format
            )
        )
        unknown_frames.append(unknown_tags(spark, dats, spec))
    if unknown_frames:
        acc = unknown_frames[0]
        for f2 in unknown_frames[1:]:
            acc = acc.unionByName(f2)
        result.unknown_tag_counts = acc
    return result


# ---------------------------------------------------------------------------
# Stage 1 — survey-catalog update check (the step a real user starts with).
#
# Reference: 01_Check_For_Survey_Updates.ipynb —
#   - recent-updates x catalog inner join (cell 13, raw :1225),
#   - "our surveys" presence probe as a UNION of DISTINCT surveyid over
#     three record tables (cell 15, raw :1243-1250),
#   - "surveys we don't have" anti-join (cell 18, raw :1340),
#   - known-issue exclusion (cells 21-23),
#   - GPS branch: characteristic-contains filter + anti-joins (cells 25-34).
#
# Spark shape: presence tables are corpus-scale, so each probe is a
# DISTINCT projection of ONE column (map-side combined) and the catalog
# side of every join is a small dimension — Catalyst broadcasts it; the
# big tables are never shuffled wider than their distinct survey ids.
# ---------------------------------------------------------------------------


@dataclass
class UpdateCheckResult:
    """Stage-1 outputs, one DataFrame per notebook artifact."""

    our_surveys: DataFrame
    potential_recent_updates: DataFrame | None
    surveys_we_dont_have: DataFrame
    survey_data_to_look_for: DataFrame
    gps_data_to_look_for: DataFrame | None = None


def check_for_updates(
    catalog: DataFrame,
    presence_tables: list[DataFrame],
    *,
    catalog_key: str = "SurveyNum",
    presence_key: str = "surveyid",
    recent_updates: DataFrame | None = None,
    update_join_key: str = "SurveyId",
    known_issues: DataFrame | None = None,
    issue_key: str = "surveynum",
    gps_presence: DataFrame | None = None,
    gps_characteristic_col: str | None = None,
    gps_characteristic: str = "26",
    known_gps_issues: DataFrame | None = None,
) -> UpdateCheckResult:
    """Diff the survey-catalog listing against locally loaded data and emit
    the fetch/refresh lists (reference stage 1; see module block comment).

    ``presence_tables`` are the record tables whose rows prove a survey is
    loaded (reference: RECH1 / REC01 / MREC01). A survey is "ours" if any
    of them contains its id. ``known_issues`` rows (already filtered to
    real issues by the caller, as notebook cell 21 does) are excluded from
    the fetch list. The GPS branch activates when ``gps_presence`` and
    ``gps_characteristic_col`` are given: catalog rows whose characteristic
    list contains ``gps_characteristic`` but have no local GPS rows.
    """
    from pyspark.sql import functions as F

    probes = [
        t.select(F.col(presence_key).alias("surveyid")).distinct()
        for t in presence_tables
    ]
    ours = probes[0]
    for p in probes[1:]:
        ours = ours.unionByName(p)
    our_surveys = ours.distinct()

    potential = None
    if recent_updates is not None:
        potential = recent_updates.join(catalog, update_join_key, "inner")

    missing = catalog.join(
        our_surveys,
        catalog[catalog_key] == our_surveys["surveyid"],
        "left_anti",
    )
    to_fetch = missing
    if known_issues is not None:
        issues = known_issues.select(F.col(issue_key).alias("__issue_key"))
        to_fetch = missing.join(
            issues, missing[catalog_key] == issues["__issue_key"], "left_anti"
        )

    gps = None
    if gps_presence is not None and gps_characteristic_col is not None:
        # token-wise membership in the comma-separated characteristic
        # list — the reference's raw substring contains('26')
        # (01 nb raw :1988) would false-positive on ids like '126'/'260';
        # we keep its semantics for real GPS lists but match whole ids.
        # Whitespace may sit on EITHER side of each comma and before the
        # first token ('26 , 10', ' 26, 10'), so trim the list and split
        # on \s*,\s* — splitting on ',\s*' alone leaves trailing spaces
        # glued to tokens and silently drops GPS surveys on format drift
        available = catalog.filter(
            F.array_contains(
                F.split(F.trim(F.col(gps_characteristic_col)), r"\s*,\s*"),
                gps_characteristic,
            )
        )
        # joins are reference-QUALIFIED: catalog listings carry a
        # 'SurveyId' column, which Spark's case-insensitive resolver
        # would otherwise conflate with the probe's 'surveyid'
        gprobe = gps_presence.select(
            F.col(presence_key).alias("surveyid")
        ).distinct()
        gps = available.join(
            gprobe, available[catalog_key] == gprobe["surveyid"], "left_anti"
        )
        if known_gps_issues is not None:
            gissues = known_gps_issues.select(
                F.col(issue_key).alias("__issue_key")
            )
            gps = gps.join(
                gissues, gps[catalog_key] == gissues["__issue_key"], "left_anti"
            )
    return UpdateCheckResult(
        our_surveys=our_surveys,
        potential_recent_updates=potential,
        surveys_we_dont_have=missing,
        survey_data_to_look_for=to_fetch,
        gps_data_to_look_for=gps,
    )
