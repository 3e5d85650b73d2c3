"""Smoke tests for the benchmark itself: tiny inputs (sf0.001, a
40-household corpus), one steady pass.

    python3 -m pytest perfbench/tests -q

Each benchmark run is a subprocess started from the repository root, as
the benchmark expects.
"""

from __future__ import annotations

import filecmp
import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import gen_cspro  # noqa: E402
import gen_tables  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)


def _run(workload: str, trace: int, record: str) -> dict:
    cmd = [
        sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7",
        "--seconds", "1", "--trace", str(trace), "--smoke", "--record", record,
    ]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert p.returncode == 0, p.stderr[-3000:]
    return json.loads(p.stdout.strip().splitlines()[-1])


def _same_tree(a: str, b: str) -> bool:
    cmp = filecmp.dircmp(a, b)
    if cmp.left_only or cmp.right_only or cmp.diff_files or cmp.funny_files:
        return False
    _, mismatch, errors = filecmp.cmpfiles(a, b, cmp.common_files, shallow=False)
    return not mismatch and not errors and all(
        _same_tree(os.path.join(a, d), os.path.join(b, d)) for d in cmp.common_dirs
    )


def test_corpus_generator_is_deterministic(tmp_path):
    t1 = gen_cspro.generate(str(tmp_path / "a"), seed=3, households=30)
    gen_cspro.generate(str(tmp_path / "b"), seed=3, households=30)
    gen_cspro.generate(str(tmp_path / "c"), seed=4, households=30)
    assert _same_tree(str(tmp_path / "a"), str(tmp_path / "b"))
    assert not _same_tree(str(tmp_path / "a"), str(tmp_path / "c"))
    # the corpus exercises spec grouping, packing and unknown tags
    assert {s["dictionary"] for s in t1["surveys"]} == {"HHA", "HHB", "WIDE"}
    assert set(t1["rows"]) == {"RECH0", "RECH1", "RECH4A", "WREC5"}
    assert sum(sum(v.values()) for v in t1["unknown_tags"].values()) > 0


def test_table_generator_is_deterministic(tmp_path):
    gen_tables.generate(str(tmp_path / "a"), seed=3, sf=0.001)
    gen_tables.generate(str(tmp_path / "b"), seed=3, sf=0.001)
    gen_tables.generate(str(tmp_path / "c"), seed=4, sf=0.001)
    assert _same_tree(str(tmp_path / "a"), str(tmp_path / "b"))
    assert not filecmp.cmp(tmp_path / "a" / "lineitem.parquet", tmp_path / "c" / "lineitem.parquet", shallow=False)


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_every_end_to_end_metric_prints_with_its_unit(workload, tmp_path):
    out = _run(workload, 0, str(tmp_path / "record.json"))
    assert out["correct"] and out["failed"] == 0 and out["attempted"] >= 1
    want = {m["name"]: m["unit"] for m in SPEC["end_to_end"]}
    assert {k: v["unit"] for k, v in out["metrics"].items()} == want
    assert all(v["value"] > 0 for v in out["metrics"].values())


def test_traced_record_holds_every_per_layer_metric(tmp_path):
    record = str(tmp_path / "record.json")
    out = _run("survey_query", 1, record)
    assert out["correct"]
    want = {m["name"]: m["unit"] for m in SPEC["per_layer"]}
    assert {k: v["unit"] for k, v in out["metrics"].items()} == want
    with open(record) as f:
        rec = json.load(f)
    assert set(rec["layers"]) == set(want)
    assert rec["spans"] and "trace_overhead" in rec
    # the layers this workload touches report something
    for name in (
        "relational.execute_s",
        "metadata.py4j_calls",
        "dedup.py4j_calls",
        "similarity.construct_s",
        "text_analysis.tasks",
        "clustering.construct_s",
        "clustering.py4j_calls",
        "clustering.tasks",
        "streaming.batches",
        "streaming.state_rows",
        "spark.tasks",
        "process.peak_rss_mb",
    ):
        assert rec["layers"][name] > 0, name
