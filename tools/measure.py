"""Per-query triage on perfbench's instruments.

    python tools/measure.py QUERY... [--sf DIR] [--runs N]

One session set up as perfbench does it (all ten tables warmed), then a
cold pass (0) and ``--runs`` steady passes over the named queries. Each
query's construction and its noop write are one traced phase each, so
py4j calls and eager jobs (construct phase only), executor totals (both
phases, from the event log) and streaming batches land on the query and
pass they belong to. The JSON record (per metric: cold, steady min and
median; the streaming batches; the conf keys changed and temp entries
left) goes to ``.measure/`` and its path is printed last. The scratch
directory is deleted at exit.
"""

from __future__ import annotations

import argparse
import atexit
import os
import shutil
import statistics
import sys
import tempfile
import time
from datetime import datetime

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path[:0] = [ROOT, os.path.join(ROOT, "perfbench")]

import harness  # noqa: E402
from tracing import Tracer  # noqa: E402


def pass_totals(c: dict, e: dict) -> dict:
    """One query pass: its construct span ``c`` and execute span ``e``."""
    return {
        "construct_s": c["end"] - c["start"],
        "execute_s": e["end"] - e["start"],
        "py4j_calls": c["py4j_calls"],
        "eager_jobs": c["jobs"],
        "jobs": c["jobs"] + e["jobs"],
        "tasks": c["tasks"] + e["tasks"],
        "executor_run_s": (c["run_ms"] + e["run_ms"]) / 1e3,
        "executor_cpu_s": (c["cpu_ns"] + e["cpu_ns"]) / 1e9,
        "shuffle_write_mb": (c["shuffle_write"] + e["shuffle_write"]) / 1e6,
        "spill_mb": (c["spill"] + e["spill"]) / 1e6,
    }


def main(argv=None) -> int:
    import __spark_entry__ as entry
    from dhs_to_database_spark.sources.tables import DEFAULT_SF_DIR, TABLE_NAMES

    ap = argparse.ArgumentParser(description="cold/steady per-query measurement")
    ap.add_argument("queries", nargs="+", metavar="QUERY")
    ap.add_argument("--sf", default=DEFAULT_SF_DIR, help="scale-factor directory")
    ap.add_argument("--runs", type=int, default=3, help="steady passes after the cold one")
    args = ap.parse_args(argv)
    unknown = sorted(set(args.queries) - set(entry.queries()))
    if unknown or args.runs < 1:
        ap.error(f"unknown queries {unknown}" if unknown else "--runs must be >= 1")

    work = tempfile.mkdtemp(prefix="measure-")
    atexit.register(shutil.rmtree, work, True)  # runs after pyspark's exit hooks
    event_log = os.path.join(work, "eventlog")
    harness.configure_env(ROOT, work, event_log)
    spark, _, _ = harness.one_setup(TABLE_NAMES, args.sf)
    tracer = Tracer(event_log)
    qs = entry.queries()
    hygiene = {q: {"conf_changed": set(), "tmp_left": set()} for q in args.queries}
    try:
        tracer.install(spark)
        for pass_idx in range(args.runs + 1):
            for q in args.queries:
                module = qs[q].__module__.rsplit(".", 1)[-1]
                conf0, tmp0 = harness.conf_snapshot(spark), harness.tmp_entries()
                with tracer.phase(spark, q, module, "construct", pass_idx):
                    df = qs[q](spark, args.sf)
                with tracer.phase(spark, q, module, "execute", pass_idx):
                    df.write.format("noop").mode("overwrite").save()
                hygiene[q]["conf_changed"].update(harness.conf_diff(conf0, harness.conf_snapshot(spark)))
                hygiene[q]["tmp_left"].update(harness.tmp_entries() - tmp0)
        tracer.unwrap(spark)
    finally:
        harness.teardown(spark)
    tracer.parse_event_log()  # after stop, which flushes the event log

    phases = [s for s in tracer.spans if "phase" in s]
    span = {(s["op"], s["pass_idx"], s["phase"]): s for s in phases}
    record = {"sf": args.sf, "runs": args.runs, "queries": {}}
    for q in args.queries:
        passes = [pass_totals(span[q, i, "construct"], span[q, i, "execute"]) for i in range(args.runs + 1)]
        steady = passes[1:]
        record["queries"][q] = {
            k: {
                "cold": passes[0][k],
                "steady_min": min(p[k] for p in steady),
                "steady_median": statistics.median(p[k] for p in steady),
            }
            for k in passes[0]
        } | {"stream_batches": [], **{k: sorted(v) for k, v in hygiene[q].items()}}
    for p in tracer.stream_progress:
        t = datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00")).timestamp()
        s = tracer._phase_at(t * 1000, phases)
        if s is not None:
            batch = {"pass": s["pass_idx"], "phase": s["phase"], "batch": p["batch"]}
            batch.update(duration_ms=p["duration_ms"], state_rows=p["state_rows"])
            record["queries"][s["op"]]["stream_batches"].append(batch)

    path = os.path.join(ROOT, ".measure", time.strftime("%Y%m%dT%H%M%S") + f"-{os.getpid()}.json")
    harness.write_json(path, record)
    for q, r in record["queries"].items():
        print(q, {k: round(r[k]["steady_median"], 3) for k in ("construct_s", "execute_s", "jobs", "py4j_calls")})
    print(path)
    return 0


if __name__ == "__main__":
    sys.exit(main())
