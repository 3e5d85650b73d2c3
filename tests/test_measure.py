"""Smoke test for ``tools/measure.py``: a batch and a streaming query, one
cold and one steady pass, in a subprocess of their own; an unknown query
name is refused."""

from __future__ import annotations

import json
import os
import subprocess
import sys

from conftest import SF_DIR

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
METRICS = {
    "construct_s",
    "execute_s",
    "py4j_calls",
    "eager_jobs",
    "jobs",
    "tasks",
    "executor_run_s",
    "executor_cpu_s",
    "shuffle_write_mb",
    "spill_mb",
}


def _measure(*args: str) -> subprocess.CompletedProcess:
    cmd = [sys.executable, os.path.join(ROOT, "tools", "measure.py"), *args]
    return subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)


def test_measure_smoke():
    queries = ("sort_limit", "stateful_session_paths")
    out = _measure("--sf", SF_DIR, "--runs", "1", *queries)
    assert out.returncode == 0, out.stderr[-3000:]
    path = out.stdout.strip().splitlines()[-1]
    try:
        with open(path) as f:
            record = json.load(f)
    finally:
        os.remove(path)
    assert list(record["queries"]) == list(queries)
    for q, r in record["queries"].items():
        assert set(r) == METRICS | {"stream_batches", "conf_changed", "tmp_left"}, q
        for k in METRICS:
            assert set(r[k]) == {"cold", "steady_min", "steady_median"}, (q, k)
        assert r["jobs"]["cold"] > 0 and r["jobs"]["steady_min"] > 0, q
    batches = record["queries"]["stateful_session_paths"]["stream_batches"]
    assert len(batches) >= 1
    assert set(batches[0]) == {"pass", "phase", "batch", "duration_ms", "state_rows"}
    assert record["queries"]["sort_limit"]["stream_batches"] == []

    bad = _measure("no_such_query")
    assert bad.returncode != 0 and "no_such_query" in bad.stderr
