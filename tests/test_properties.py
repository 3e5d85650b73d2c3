"""Property-based tests (hypothesis) for the reference's core invariants
(SURVEY.md §5): fixed-width demux round-trip with the no-strip key rule, and
DCF value-range expansion strategies."""

from __future__ import annotations

import json
import random
import string

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from pyspark.sql import functions as F

from dhs_to_database_spark.plans.schema_evolution import pack_wide_table
from dhs_to_database_spark.sources.cspro_dcf import parse_dcf_text
from dhs_to_database_spark.sources.fixed_width import (
    DatSpec,
    FieldSpec,
    RecordSpec,
    demux_dat,
    demux_to_parquet,
    packed_record_names,
    project_record,
    read_tagged_lines,
)

# ---------------------------------------------------------------------------
# Fixed-width round-trip: render random rows into .DAT lines, demux with
# Spark, and every field must come back exactly — stripped for normal
# fields, padding-preserved for CASEID/HHID.
# ---------------------------------------------------------------------------

_VAL_CHARS = string.ascii_uppercase + string.digits + " "


@st.composite
def dat_case(draw):
    n_records = draw(st.integers(1, 3))
    tags = draw(
        st.lists(
            st.text(string.ascii_uppercase + string.digits, min_size=3, max_size=3),
            min_size=n_records,
            max_size=n_records,
            unique=True,
        )
    )
    records = {}
    rows = []
    for ri, tag in enumerate(tags):
        n_fields = draw(st.integers(1, 4))
        widths = draw(st.lists(st.integers(1, 6), min_size=n_fields, max_size=n_fields))
        names = [f"F{ri}_{i}" for i in range(n_fields)]
        if draw(st.booleans()):
            names[0] = "CASEID"  # exercise the no-strip key rule
        start = 4  # tag occupies cols 1-3
        fields = []
        for name, w in zip(names, widths):
            fields.append(FieldSpec(name, start, w))
            start += w
        records[tag] = RecordSpec(f"REC{ri}", tag, tuple(fields))
        for _ in range(draw(st.integers(0, 3))):
            vals = [
                draw(st.text(_VAL_CHARS, min_size=0, max_size=f.length))
                for f in fields
            ]
            rows.append((tag, vals))
    return DatSpec(rt_start=1, rt_len=3, records=records), rows


@given(dat_case())
@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_fixed_width_roundtrip(spark, tmp_path_factory, case):
    spec, rows = case
    path = tmp_path_factory.mktemp("dat") / "777.PROP.DAT"
    lines = []
    for tag, vals in rows:
        line = tag
        for f, v in zip(spec.records[tag].fields, vals):
            line += v.ljust(f.length)
        lines.append(line)
    path.write_text("\n".join(lines) + ("\n" if lines else ""))

    out = demux_dat(spark, str(path), spec)
    by_rec: dict[str, list] = {}
    for tag, vals in rows:
        by_rec.setdefault(spec.records[tag].record_name, []).append((tag, vals))
    for tag, rec in spec.records.items():
        got = [r.asDict() for r in out[rec.record_name].collect()]
        want_rows = by_rec.get(rec.record_name, [])
        assert len(got) == len(want_rows)
        # constant column count (reference invariant DAT_Parser.py:107-110)
        for g in got:
            assert set(g) == {"surveyid", *[f.name for f in rec.fields]}
            assert g["surveyid"] == "777"
        # pinned NULL rule: non-key fields that trim to '' load as NULL
        # (reference COPY null='', lib04:432-434); keys keep padding
        nullsafe = lambda t: tuple((x is None, x or "") for x in t)  # noqa: E731
        want = sorted(
            (
                tuple(
                    v.ljust(f.length)
                    if f.name in ("CASEID", "HHID")
                    else (v.ljust(f.length).strip() or None)
                    for f, v in zip(rec.fields, vals)
                )
                for _, vals in want_rows
            ),
            key=nullsafe,
        )
        got_sorted = sorted(
            (tuple(g[f.name] for f in rec.fields) for g in got), key=nullsafe
        )
        assert got_sorted == want


# ---------------------------------------------------------------------------
# Packed-vs-columnar parity: a record past the >500 payload-column rule is
# written map-packed by demux_to_parquet's one-expression projection. Its
# key columns and ``data`` map (through to_json, so key order counts) must
# equal pack_wide_table(project_record(..)), the DataFrame-level pack of the
# columnar projection, and each value must be the trimmed CHARACTER slice
# of the line. Lines carry blank fields, stop short of the record, and hold
# multi-byte UTF-8 characters that shift byte positions off char positions.
# ---------------------------------------------------------------------------

_PACKED_CHARS = "   7Aé日"


@st.composite
def packed_case(draw):
    rng = random.Random(draw(st.integers(0, 2**32 - 1)))
    n_payload = draw(st.integers(501, 504))
    fields = [FieldSpec("CASEID", 1, 4), FieldSpec("HVIDX", 8, 2)]
    start = 10
    for i in range(n_payload):
        width = rng.randint(1, 3)
        fields.append(FieldSpec(f"P{i:03d}", start, width))
        start += width
    lines = []
    for row in range(draw(st.integers(1, 4))):
        body = "".join(rng.choice(_PACKED_CHARS) for _ in range(start - 8))
        cut = draw(st.integers(0, len(body)))  # fields past the end of a short line
        lines.append(f"{row:>4}W50{body[:cut]}")
    rec = RecordSpec("WIDE", "W50", tuple(fields))
    return DatSpec(rt_start=5, rt_len=3, records={"W50": rec}), lines


@given(packed_case())
@settings(
    max_examples=4,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_packed_demux_matches_pack_of_columnar(spark, tmp_path_factory, case):
    spec, lines = case
    rec = spec.records["W50"]
    assert packed_record_names(spec) == {"WIDE"}
    d = tmp_path_factory.mktemp("packed")
    path = d / "778.PACK.DAT"
    path.write_text("\n".join(lines) + "\n", encoding="utf-8")

    out = demux_to_parquet(spark, str(path), spec, str(d / "wh"))
    got = spark.read.parquet(out["WIDE"])
    oracle = pack_wide_table(project_record(read_tagged_lines(spark, str(path), spec), rec))
    assert oracle.columns == ["surveyid", "CASEID", "HVIDX", "data"]
    assert got.columns == ["CASEID", "HVIDX", "data", "surveyid"]  # partition col last

    def rows(df):
        return sorted(
            df.select("CASEID", "HVIDX", "surveyid", F.to_json("data").alias("data")).collect()
        )

    got_rows = rows(got)
    assert got_rows == rows(oracle)
    payload = [f for f in rec.fields if f.name not in ("CASEID", "HVIDX")]
    for line, r in zip(lines, got_rows):  # CASEID is the row number, so sorted = line order
        want = [(f.name, line[f.start - 1 : f.start - 1 + f.length].strip(" ")) for f in payload]
        assert list(json.loads(r["data"]).items()) == want


# ---------------------------------------------------------------------------
# DCF range expansion: for Value=a:b, "All" yields one ExpandedRange row per
# value iff the range fits the cap, else RangeMin/RangeMax endpoint rows;
# "None" always yields endpoints.
# ---------------------------------------------------------------------------

_DCF_TEMPLATE = """\
[Dictionary]
Version=CSPro 7.0
Label=Prop test
Name=PROPDICT
RecordTypeStart=1
RecordTypeLen=3
ZeroFill=Yes

[Level]
Label=L
Name=LEV

[Record]
Label=R
Name=REC0
RecordTypeValue='R00'

[Item]
Label=Value under test
Name=VPROP
Start=4
Len=9

[ValueSet]
Label=Value under test
Name=VPROP_VS
Value={a}:{b}
"""


@given(
    a=st.integers(-50, 50),
    span=st.integers(1, 60),
    limit=st.integers(2, 40),
)
@settings(max_examples=50, deadline=None)
def test_dcf_range_expansion(a, span, limit):
    b = a + span
    res = parse_dcf_text(
        "PROP", _DCF_TEMPLATE.format(a=a, b=b), expand_ranges="All", range_expansion_limit=limit
    )
    vrows = [v for v in res.values if v["Name"] == "VPROP"]
    size = b - a + 1
    if size <= limit:
        assert [v["Value"] for v in vrows] == [str(x) for x in range(a, b + 1)]
        assert {v["ValueType"] for v in vrows} == {"ExpandedRange"}
    else:
        assert [(v["Value"], v["ValueType"]) for v in vrows] == [
            (str(float(a)), "RangeMin"),
            (str(float(b)), "RangeMax"),
        ]

    res_none = parse_dcf_text(
        "PROP", _DCF_TEMPLATE.format(a=a, b=b), expand_ranges="None", range_expansion_limit=limit
    )
    vrows_none = [v for v in res_none.values if v["Name"] == "VPROP"]
    assert [(v["Value"], v["ValueType"]) for v in vrows_none] == [
        (str(float(a)), "RangeMin"),
        (str(float(b)), "RangeMax"),
    ]


# ---------------------------------------------------------------------------
# Connected components: both tiers (driver union-find / distributed
# large-small-star) must match a reference DFS labelling on arbitrary
# random graphs — chains, cliques, stars, singleton-free soups.
# ---------------------------------------------------------------------------


@given(
    st.lists(
        st.tuples(st.integers(0, 30), st.integers(0, 30)),
        min_size=1,
        max_size=60,
    )
)
@settings(max_examples=15, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_connected_components_matches_dfs(spark, edges):
    from dhs_to_database_spark.operators.clustering import connected_components

    adj: dict[int, set[int]] = {}
    for a, b in edges:
        if a == b:
            continue
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    if not adj:
        return  # all self-loops: empty result on both paths, nothing to rank
    expect = {}
    seen: set[int] = set()
    for start in sorted(adj):
        if start in seen:
            continue
        stack, comp = [start], []
        seen.add(start)
        while stack:
            n = stack.pop()
            comp.append(n)
            for m in adj[n]:
                if m not in seen:
                    seen.add(m)
                    stack.append(m)
        root = min(comp)
        for n in comp:
            expect[n] = root

    df = spark.createDataFrame(list(edges), "src bigint, dst bigint")
    for thresh in (10**6, 0):  # driver tier, then distributed tier
        got = {
            r["node"]: r["component"]
            for r in connected_components(df, driver_threshold=thresh).collect()
        }
        assert got == expect, thresh


# ---------------------------------------------------------------------------
# BPE encode == sequential training replay (r12): the bpe_encode_calibration
# oracle reads per-word token counts off the replayed training state
# (v{N} in _bpe_cal_ctes), while the Spark side runs bpe_encode_word's
# best-rank-first loop. The two are equal because an exhausted pair can
# never be re-created by later merges (new adjacencies always involve the
# just-created symbol, whose pairs carry higher ranks) — this property
# test pins that equivalence over adversarially small alphabets, where
# pair collisions and re-merge opportunities are densest.
# ---------------------------------------------------------------------------


@given(
    st.dictionaries(
        st.text("abc", min_size=1, max_size=6),
        st.integers(1, 5),
        min_size=1,
        max_size=8,
    ),
    st.integers(1, 10),
)
@settings(max_examples=80, deadline=None)
def test_bpe_encode_matches_sequential_training_replay(word_counts, n_merges):
    from dhs_to_database_spark.operators.bpe import (
        _EOW,
        _bpe_train_driver_scored,
        _merge_pair,
        bpe_encode_word,
    )

    rows = sorted(word_counts.items())
    merges = [(a, b) for a, b, _ in _bpe_train_driver_scored(rows, n_merges)]
    ranks = {m: i for i, m in enumerate(merges)}
    for w, _ in rows:
        syms = list(w) + [_EOW]
        for a, b in merges:
            syms = _merge_pair(syms, a, b)
        assert bpe_encode_word(w, ranks) == syms, (w, merges)
