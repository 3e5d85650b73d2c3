"""Fixed-width demux scale probe (VERDICT r4 ask #2): measured scaling
evidence for the engine's raison-d'etre operator — the CSPro ``.DAT``
multi-table demultiplex (SURVEY.md §2.A A14-A17, reference
DAT_Parser.py:10-128) — run END TO END through ``run_pipeline`` (DCF parse
-> spec compile/group -> demux -> surveyid-partitioned parquet write).

Corpus: synthesized multi-survey, multi-record-type ``.DAT`` files sharing
one dictionary (the tests' fixtures_cspro schema: H00/H01/H4A records,
padded 15-char CASEID keys, interleaved + a sprinkling of unknown tags).
Three balanced tiers span 100x total lines (1e5 -> 1e7); a skewed tier
puts 100:1 of one tier's lines into a single survey.

Claims measured and appended to SCALING.md:
- balanced tiers: flat-or-rising krows/s across 100x (the scan + N
  codegen'd projections + partitioned write pipeline is linear);
- skew: the 100:1 survey costs ~the same wall time as the balanced corpus
  at equal total lines, because the demux plan has NO shuffle — input
  splits drive task parallelism regardless of surveyid distribution, and
  ``partitionBy`` writes straight from scan tasks (this is the
  design-level answer to write-skew: nothing to salt). The probe FAILS
  LOUDLY if skew costs >1.8x balanced, so the claim stays measured, not
  asserted.

Generation is idempotent (skips existing tiers); corpus lives in
<repo>/.scale_dat (gitignored).

Usage: python tools/demux_probe.py
"""

from __future__ import annotations

import os
import shutil
import sys
import time

_REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO_ROOT)

ROOT = os.path.join(_REPO_ROOT, ".scale_dat")

sys.path.insert(0, os.path.join(_REPO_ROOT, "tests"))
from fixtures_cspro import DCF_TEXT  # noqa: E402  (the pytest fixture dict)

# Balanced tiers: (name, total_lines, n_surveys). 4 lines per household
# (1 H00 + 2 H01 + 1 H4A); 1 unknown-tag line per 1000 households.
TIERS = [
    ("t1e5", 100_000, 8),
    ("t1e6", 1_000_000, 8),
    ("t1e7", 10_000_000, 8),
    ("t1e8", 100_000_000, 8),  # r6: one more decade (~2.6 GB of .DAT)
]
# Skewed tier: same total as t1e6, 2 surveys at ~100:1.
SKEW = ("skew1e6", 1_000_000, None)

_LINES_PER_HH = 4


def _write_survey(path: str, surveyid: int, n_households: int) -> int:
    """One survey's .DAT: interleaved H00/H01/H4A lines with the fixture's
    layout (tag at 16-18, padded CASEID at 1-15). Returns lines written."""
    n = 0
    with open(path, "w") as f:
        w = f.write
        for hh in range(n_households):
            caseid = f"{surveyid:>4}{hh:>11}"  # 15 chars, padding significant
            month = hh % 12 + 1
            w(f"{caseid}H00{month:>2}{hh % 9 + 1}\n")
            age1, age2 = hh % 95, (hh * 7) % 95
            w(f"{caseid}H01 1{age1:>3}{(hh * 13) % 9000000:>7}\n")
            w(f"{caseid}H01 2{age2:>3}{(hh * 17) % 9000000:>7}\n")
            w(f"{caseid}H4A 1{hh % 8}\n")
            n += 4
            if hh % 1000 == 999:  # unknown tag -> log-and-skip path
                w(f"{caseid}XXX junk\n")
                n += 1
    return n


def _gen_tier(name: str, total_lines: int, n_surveys: int | None) -> tuple[str, int]:
    """Generate staging dir for a tier; returns (dir, actual line count)."""
    d = os.path.join(ROOT, name)
    marker = os.path.join(d, ".complete")
    if os.path.exists(marker):
        with open(marker) as f:
            return d, int(f.read())
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d)
    n = 0
    if n_surveys is None:  # skew: 2 surveys at 100:1 households
        hh_total = total_lines // _LINES_PER_HH
        plan = [(901, hh_total * 100 // 101), (902, hh_total // 101)]
    else:
        hh_each = total_lines // _LINES_PER_HH // n_surveys
        plan = [(101 + i, hh_each) for i in range(n_surveys)]
    for surveyid, hhs in plan:
        filecode = f"{surveyid}.HHSURV"
        with open(os.path.join(d, f"{filecode}.dcf"), "w") as f:
            f.write(DCF_TEXT)
        n += _write_survey(os.path.join(d, f"{filecode}.dat"), surveyid, hhs)
    with open(marker, "w") as f:
        f.write(str(n))
    return d, n


# ---------------------------------------------------------------------------
# Wide-record tier (r6, VERDICT r5 ask #6): a second dictionary with
#   * WREC0 'W00' — a RECH0-like 172-char record (22 seven-char items), and
#   * WREC5 'W50' — a 520-item record that crosses the reference's >500
#     column JSON-table threshold (lib04:140-152), so demux_to_parquet's
#     pack path writes it as key columns + one map<string,string> payload.
# ---------------------------------------------------------------------------

_W0_ITEMS = 22  # 7 chars each: 19 + 22*7 - 1 = 172 (RECH0's width)
_W5_ITEMS = 520  # > MAX_FIRST_CLASS_COLUMNS=500 -> packed
_LINES_PER_HH_WIDE = 2
_W5_STATIC = ("0123456789" * 52)[: _W5_ITEMS - 7]


def _wide_dcf() -> str:
    parts = [
        "[Dictionary]",
        "Version=CSPro 7.0",
        "Label=Wide-record probe dictionary",
        "Name=WIDEDICT",
        "RecordTypeStart=16",
        "RecordTypeLen=3",
        "Positions=Relative",
        "ZeroFill=Yes",
        "DecimalChar=No",
        "",
        "[Level]",
        "Label=Household",
        "Name=HOUSEHOLD",
        "",
        "[IdItems]",
        "",
        "[Item]",
        "Label=Case Identification",
        "Name=CASEID",
        "Start=1",
        "Len=15",
        "",
        "[Record]",
        "Label=Wide basic record",
        "Name=WREC0",
        "RecordTypeValue='W00'",
    ]
    for i in range(_W0_ITEMS):
        parts += [
            "",
            "[Item]",
            f"Label=Wide field {i}",
            f"Name=WV{i:03d}",
            f"Start={19 + 7 * i}",
            "Len=7",
        ]
    parts += [
        "",
        "[Record]",
        "Label=Packed wide record",
        "Name=WREC5",
        "RecordTypeValue='W50'",
    ]
    for i in range(_W5_ITEMS):
        parts += [
            "",
            "[Item]",
            f"Label=Packed field {i}",
            f"Name=WP{i:03d}",
            f"Start={19 + i}",
            "Len=1",
        ]
    return "\n".join(parts) + "\n"


def _write_wide_survey(path: str, surveyid: int, n_households: int) -> int:
    n = 0
    with open(path, "w") as f:
        w = f.write
        for hh in range(n_households):
            caseid = f"{surveyid:>4}{hh:>11}"
            w0 = "".join(f"{(hh * (k + 3)) % 10**7:>7}" for k in range(_W0_ITEMS))
            w(f"{caseid}W00{w0}\n")
            w(f"{caseid}W50{hh % 10**7:07d}{_W5_STATIC}\n")
            n += 2
    return n


def _gen_wide_tier(name: str, total_lines: int, n_surveys: int) -> tuple[str, int]:
    d = os.path.join(ROOT, name)
    marker = os.path.join(d, ".complete")
    if os.path.exists(marker):
        with open(marker) as f:
            return d, int(f.read())
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d)
    n = 0
    hh_each = total_lines // _LINES_PER_HH_WIDE // n_surveys
    for i in range(n_surveys):
        surveyid = 501 + i
        filecode = f"{surveyid}.WIDE"
        with open(os.path.join(d, f"{filecode}.dcf"), "w") as f:
            f.write(_wide_dcf())
        n += _write_wide_survey(os.path.join(d, f"{filecode}.dat"), surveyid, hh_each)
    with open(marker, "w") as f:
        f.write(str(n))
    return d, n


def _run_wide_tier(spark, staging: str, warehouse: str) -> float:
    from pyspark.sql.types import MapType

    from dhs_to_database_spark.pipeline import run_pipeline

    shutil.rmtree(warehouse, ignore_errors=True)
    t0 = time.time()
    res = run_pipeline(spark, staging, warehouse)
    assert set(res.tables) == {"WREC0", "WREC5"}, res.tables
    dt = time.time() - t0
    # the >500-column record must land PACKED: keys first-class, payload
    # as one map<string,string> column (the reference's jsonb shape)
    packed = spark.read.parquet(res.tables["WREC5"])
    fields = {f.name: f.dataType for f in packed.schema.fields}
    assert isinstance(fields["data"], MapType), fields
    assert "CASEID" in fields and "surveyid" in fields, fields
    wide0 = spark.read.parquet(res.tables["WREC0"])
    assert len(wide0.columns) == _W0_ITEMS + 2, len(wide0.columns)  # unpacked
    return dt


def _run_tier(spark, staging: str, warehouse: str) -> float:
    from dhs_to_database_spark.pipeline import run_pipeline

    shutil.rmtree(warehouse, ignore_errors=True)
    t0 = time.time()
    res = run_pipeline(spark, staging, warehouse)
    assert set(res.tables) == {"RECH0", "RECH1", "RECH4A"}, res.tables
    res.unknown_tag_counts.write.format("noop").mode("overwrite").save()
    return time.time() - t0


def _run_tier_compute(spark, staging: str) -> float:
    """The tier's COMPUTE axis (r9, VERDICT r8 ask #2): the identical
    pipeline — DCF parse, spec group, cached scan, every record's demux
    projection — driven through the noop sink, so the multi-GB
    partitioned parquet write (the one disk-weather-dominated stage)
    is excluded and the linearity assert can stay tight."""
    from dhs_to_database_spark.pipeline import run_pipeline

    t0 = time.time()
    res = run_pipeline(spark, staging, "/unused-noop-wh", sink_format="noop")
    assert set(res.tables) == {"RECH0", "RECH1", "RECH4A"}, res.tables
    res.unknown_tag_counts.write.format("noop").mode("overwrite").save()
    return time.time() - t0


def main() -> None:
    from dhs_to_database_spark.session import get_spark

    os.makedirs(ROOT, exist_ok=True)
    spark = get_spark("demux-probe")
    rows = []
    timings: dict[str, tuple[int, float]] = {}
    comp_mbps: dict[str, float] = {}
    for name, total, n_surveys in TIERS + [SKEW]:
        staging, n_lines = _gen_tier(name, total, n_surveys)
        mb = sum(
            os.path.getsize(os.path.join(staging, f))
            for f in os.listdir(staging)
            if f.endswith(".dat")
        ) / 1e6
        wh = os.path.join(ROOT, f"wh_{name}")
        # compute axis first (noop sink), then the full write runs — the
        # write axis is reported as the DERIVED full - compute seconds,
        # unasserted (multi-GB write wall showed 2.7x same-code disk
        # weather in r8; see VERDICT r8 "what's wrong" #1)
        comp = min(_run_tier_compute(spark, staging) for _ in range(2))
        runs = [_run_tier(spark, staging, wh) for _ in range(2)]
        dt = min(runs)
        timings[name] = (n_lines, dt)
        comp_mbps[name] = mb / comp
        # derived write axis = total - compute; it also carries the
        # partitionBy per-task sort only the real write performs (the
        # noop sink needs no ordering), so it slightly overstates pure
        # I/O. Run-to-run variance can make the delta ~0 or negative on
        # fast tiers — report a dash rather than a nonsense MB/s.
        wr = dt - comp
        wr_cells = (
            f"{wr:.2f} | {mb / wr:,.0f}" if wr >= 0.05 else "— | —"
        )
        rows.append(
            f"| {name} | {n_lines:,} | {mb:,.0f} | {comp:.2f} |"
            f" {mb / comp:,.0f} | {wr_cells} | {dt:.2f} |"
            f" {n_lines / dt / 1000:,.0f} |"
        )
        print(rows[-1])
        shutil.rmtree(wh, ignore_errors=True)

    # skew claim: shuffle-free demux => 100:1 survey skew costs ~balanced
    n_b, t_b = timings["t1e6"]
    n_s, t_s = timings["skew1e6"]
    ratio = (t_s / n_s) / (t_b / n_b)
    verdict = f"skew/balanced per-line cost ratio = {ratio:.2f}"
    print(verdict)
    assert ratio < 1.8, (
        f"100:1 survey skew cost {ratio:.2f}x balanced — the demux write "
        "path is supposed to be shuffle-free and skew-immune"
    )

    # balanced-decade claim, COMPUTE axis (r9, VERDICT r8 ask #2 /
    # ADVICE r8): r8 asserted the full-pipeline MB/s at a 0.4 threshold
    # to absorb measured 2.7x write-side disk weather on the multi-GB
    # t1e8 parquet write — loose enough to shield a genuine ~2x
    # super-linear compute regression. Splitting the axes restores the
    # wide tiers' tight 0.65 flat-or-rising bar on the scan + demux
    # projection (noop sink — no disk write in the measured path); the
    # write axis is reported in the table, unasserted.
    bal_ratio = comp_mbps["t1e8"] / comp_mbps["t1e7"]
    bal_verdict = (
        f"t1e8/t1e7 COMPUTE MB/s ratio = {bal_ratio:.2f}"
        " (flat-or-rising expected)"
    )
    print(bal_verdict)
    assert bal_ratio > 0.65, (
        f"balanced demux COMPUTE throughput fell to {bal_ratio:.2f}x across "
        "the final 10x decade — the scan + demux projection pipeline is "
        "supposed to scale linearly (the write axis is excluded here, so "
        "disk weather cannot explain this)"
    )

    # wide-record / packed-table tiers (r6; r7 adds the 10x decade + MB/s —
    # wide lines are ~14x the balanced tiers', so MB/s is the comparable
    # throughput axis, VERDICT r6 ask #5)
    wide_rows = []
    wide_mbps: dict[str, float] = {}
    for name, total, n_surveys in [
        ("wide1e6", 1_000_000, 4),
        ("wide1e7", 10_000_000, 4),
    ]:
        staging, n_lines = _gen_wide_tier(name, total, n_surveys)
        mb = sum(
            os.path.getsize(os.path.join(staging, f))
            for f in os.listdir(staging)
            if f.endswith(".dat")
        ) / 1e6
        wh = os.path.join(ROOT, f"wh_{name}")
        runs = [_run_wide_tier(spark, staging, wh) for _ in range(2)]
        dt = min(runs)
        wide_mbps[name] = mb / dt
        wide_rows.append(
            f"| {name} | {n_lines:,} | {mb:,.0f} | {dt:.2f} |"
            f" {n_lines / dt / 1000:,.0f} | {mb / dt:,.0f} |"
        )
        print(wide_rows[-1])
        shutil.rmtree(wh, ignore_errors=True)
    wide_ratio = wide_mbps["wide1e7"] / wide_mbps["wide1e6"]
    wide_verdict = (
        f"wide1e7/wide1e6 MB/s ratio = {wide_ratio:.2f} (flat-or-rising expected)"
    )
    print(wide_verdict)
    assert wide_ratio > 0.65, (
        f"packed-path throughput fell to {wide_ratio:.2f}x across the 10x "
        "decade — the map-pack projection is supposed to scale linearly"
    )

    lines = [
        "\n## Fixed-width demux pipeline probe (`tools/demux_probe.py`)\n",
        "run_pipeline end-to-end (DCF parse -> spec group -> demux -> "
        "surveyid-partitioned parquet write) over synthesized multi-survey "
        "CSPro corpora (H00/H01/H4A records, 8 surveys; `skew1e6` = 2 "
        "surveys at 100:1 with the same total as `t1e6`). r9 splits each "
        "tier into a COMPUTE axis (identical pipeline through the noop "
        "sink: scan + demux projections, no disk write) and a derived "
        "WRITE axis (total - compute; includes the partitionBy per-task "
        "sort only the real write performs, so it slightly overstates "
        "pure I/O, and is dashed when the delta is within run variance), "
        "so write-side disk weather no longer dilutes the linearity "
        "evidence.\n",
        "| tier | lines | MB | compute s | compute MB/s | write s |"
        " write MB/s | total s | klines/s |",
        "|---|---|---|---|---|---|---|---|---|",
        *rows,
        f"\n{verdict} — the demux plan has no shuffle (input splits drive "
        "parallelism; partitionBy writes straight from scan tasks), so "
        "survey skew does not concentrate work; probe asserts ratio < 1.8.",
        f"\n{bal_verdict}; probe asserts COMPUTE ratio > 0.65 (r9: the "
        "r8 full-pipeline assert was calibrated to 0.4 to absorb 2.7x "
        "write-side disk variance, which could shield a ~2x compute "
        "regression — the split restores the tight bar on the axis that "
        "can regress; write MB/s is reported unasserted).",
        "\n### Wide-record / packed-table tiers (r6; 10x decade + MB/s r7)\n",
        "A second dictionary with a RECH0-like 172-char record (WREC0, 22 "
        "fields) and a 520-item record (WREC5) that crosses the reference's "
        ">500-column JSON-table threshold — demux writes WREC5 PACKED (keys "
        "first-class + one map<string,string> payload, the Spark-native "
        "jsonb; asserted on the written parquet). Same shuffle-free plan; "
        "lines are ~14x wider than the balanced tiers', so MB/s is the "
        "comparable throughput axis across sections.\n",
        "| tier | lines | MB | s | klines/s | MB/s |",
        "|---|---|---|---|---|---|",
        *wide_rows,
        f"\n{wide_verdict}; probe asserts ratio > 0.65.",
    ]
    with open(os.path.join(_REPO_ROOT, "SCALING.md"), "a") as f:
        f.write("\n".join(lines) + "\n")


if __name__ == "__main__":
    main()
