"""Repository benchmark: one workload, one process, one JSON result line.

    python3 perfbench/run.py --workload {dhs_ingest,survey_query}
        --seed N --seconds S --trace {0,1} [--smoke] [--record PATH]

Run it from the repository root. It generates its inputs from the seed
(cached under ``perfbench/.work/inputs``), sets the engine up, runs a cold
pass and then steady passes for about ``--seconds`` seconds, checks every
output, and prints as its last stdout line

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``setup_s`` is this process's one cold set-up: from process start until
the engine is ready, input generation excluded.

With ``--trace 0`` the metrics are the end-to-end ones; with ``--trace 1``
the run is instrumented (see ``tracing.py``) and the metrics are the
per-layer ones. Each run also writes a record with run metadata, the
output-check failures and, when traced, every span, to
``perfbench/.work/records`` (or ``--record``). ``--smoke`` shrinks the
inputs (sf0.001, a 40-household corpus) and runs one steady pass.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import atexit  # noqa: E402
import glob  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = ("dhs_ingest", "survey_query")
END_TO_END = {
    "setup_s": "s",
    "cold_pass_s": "s",
    "steady_pass_s": "s",
    "ingest_mb_per_s": "MB/s",
}
# (full run, smoke run)
SF = (0.01, 0.001)
HOUSEHOLDS = (1100, 40)
KEEP_INPUTS = 8
KEEP_RECORDS = 60


def parse_args(argv):
    ap = argparse.ArgumentParser(description="perfbench: the repository benchmark")
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true")
    ap.add_argument("--record", default=None)
    return ap.parse_args(argv)


def _prune(pattern: str, keep: int) -> None:
    paths = sorted(glob.glob(pattern), key=os.path.getmtime)
    for p in paths[:-keep] if keep else paths:
        shutil.rmtree(p, ignore_errors=True) if os.path.isdir(p) else os.remove(p)


def make_inputs(work: str, workload: str, seed: int, smoke: bool) -> str:
    """Generate (or reuse) this seed's inputs in a child process. The cache
    key carries a digest of the generator, so an edited generator never
    serves inputs made by an older one."""
    root = os.path.join(work, "inputs")
    if workload == "dhs_ingest":
        gen, size = "gen_cspro.py", ["--households", str(HOUSEHOLDS[smoke])]
    else:
        gen, size = "gen_tables.py", ["--sf", str(SF[smoke])]
    with open(os.path.join(HERE, gen), "rb") as f:
        digest = hashlib.sha1(f.read()).hexdigest()[:10]
    name = f"{gen[4:-3]}-{size[1]}-{digest}-seed{seed}"
    cmd = [sys.executable, os.path.join(HERE, gen), "--seed", str(seed), *size]
    dest = os.path.join(root, name)
    if not os.path.isdir(dest):
        partial = f"{dest}.partial-{os.getpid()}"
        shutil.rmtree(partial, ignore_errors=True)
        subprocess.run(cmd + [partial], check=True, stdout=subprocess.DEVNULL)
        os.replace(partial, dest)
        _prune(os.path.join(root, f"{gen[4:-3]}-*"), KEEP_INPUTS)
    os.utime(dest)
    return dest


def end_to_end(out, setup_s: float) -> dict[str, float]:
    # a run whose ops all failed still reports (with correct = false)
    steady = statistics.median(out.steady_s) or 1e-9
    return {
        "setup_s": setup_s,
        "cold_pass_s": out.cold_s,
        "steady_pass_s": steady,
        "ingest_mb_per_s": out.input_mb / steady,
    }


def op_latency(ops: list[float]) -> dict:
    """Steady op latencies, recorded but not gated: a run has too few of
    them (one query pass, or a few reloads) for a median or a p90 with
    ten samples beyond it."""
    ops = ops or [0.0]
    return {
        "samples": len(ops),
        "p50_s": statistics.median(ops),
        "p90_s": statistics.quantiles(ops, n=10, method="inclusive")[8] if len(ops) > 1 else ops[0],
    }


def traced_layers(tracer, out, setup: dict, n_steady: int) -> dict[str, float]:
    from tracing import LAYER_METRICS

    layers = {name: 0.0 for name in LAYER_METRICS}
    layers["session.get_spark_s"] = setup["get_spark"]
    layers["registry.import_s"] = setup["registry"]
    layers["tables.warm_s"] = setup["warm"]
    layers.update(out.layers)
    total = tracer.parse_event_log()
    layers.update(tracer.module_metrics(list(range(1, n_steady + 1))))
    layers.update(tracer.load_layers())
    layers.update(tracer.stream_layers(list(range(1, n_steady + 1))))
    layers["spark.jobs"] = total["jobs"]
    layers["spark.tasks"] = total["tasks"]
    layers["spark.executor_cpu_s"] = total["cpu_ns"] / 1e9
    layers["spark.gc_s"] = total["gc_ms"] / 1e3
    layers["spark.shuffle_write_mb"] = total["shuffle_write"] / 1e6
    layers["spark.spill_mb"] = total["spill"] / 1e6
    return layers


def overhead(records: str, workload: str, seed: int, traced: dict) -> dict:
    """Traced-minus-untraced end-to-end values, as a share of untraced,
    against the newest untraced record of this workload (same seed first)."""
    same = os.path.join(records, f"{workload}-seed{seed}-trace0.json")
    cands = [same] if os.path.exists(same) else sorted(
        glob.glob(os.path.join(records, f"{workload}-seed*-trace0.json")), key=os.path.getmtime
    )[-1:]
    if not cands:
        return {"note": "no untraced record of this workload yet"}
    with open(cands[0]) as f:
        base = json.load(f)["end_to_end"]
    return {
        "against": os.path.basename(cands[0]),
        **{k: (traced[k] - base[k]) / base[k] for k in traced if base.get(k)},
    }


def main(argv=None) -> int:
    args = parse_args(argv)
    root = os.getcwd()
    if not (
        os.path.isfile(os.path.join(root, "__spark_entry__.py"))
        and os.path.isdir(os.path.join(root, "dhs_to_database_spark"))
    ):
        print("perfbench: run from the repository root (engine package not found)", file=sys.stderr)
        return 2
    sys.path.insert(0, HERE)
    import harness

    work = os.path.join(HERE, ".work")
    run_dir = os.path.join(work, f"run-{os.getpid()}")
    records = os.path.join(work, "records")
    # registered first, so it runs after the package's own exit hooks
    atexit.register(shutil.rmtree, run_dir, True)
    event_log = os.path.join(run_dir, "eventlog") if args.trace else None
    harness.configure_env(root, run_dir, event_log)

    t_gen = time.perf_counter()
    inputs = make_inputs(work, args.workload, args.seed, args.smoke)
    gen_s = time.perf_counter() - t_gen
    truth = None
    if args.workload == "dhs_ingest":
        with open(os.path.join(inputs, "truth.json")) as f:
            truth = json.load(f)

    import workloads as wl
    from tracing import NullTracer, Tracer, unit_of

    tables = () if truth else wl.QUERY_TABLES
    spark, entry, parts = harness.one_setup(tables, None if truth else inputs)
    setup = {"total": time.perf_counter() - T_PROCESS - gen_s, **parts, "input_gen_s": gen_s}
    try:
        tracer = Tracer(event_log) if args.trace else NullTracer()
        if args.trace:
            tracer.install(spark)
            if args.workload == "dhs_ingest":
                tracer.wrap_pipeline()
        tmp0 = harness.tmp_entries()
        ctx = wl.Ctx(
            spark=spark,
            entry=entry,
            tracer=tracer,
            seed=args.seed,
            seconds=0.0 if args.smoke else args.seconds,
            min_steady=1 if args.smoke else wl.MIN_STEADY[args.workload],
            inputs=inputs,
            work=run_dir,
            truth=truth,
        )
        if truth:
            out = wl.run_ingest(ctx)
        else:
            out = wl.run_queries(ctx, wl.SURVEY_QUERY_OPS + wl.CURATION_OPS, tables)
        rss = harness.peak_rss_mb(spark)
        leaked = sorted(harness.tmp_entries() - tmp0)
        e2e = end_to_end(out, setup["total"])
        if args.trace:
            tracer.unwrap(spark)
        meta = harness.metadata(
            spark,
            args,
            {
                "inputs": os.path.relpath(inputs, root),
                "input_mb": out.input_mb,
                "dat_lines": truth["dat_lines"] if truth else None,
                "calib_range_sum_sec": harness.calibrate(spark),
            },
        )
    finally:
        harness.teardown(spark)
    if args.trace:  # after stop, which flushes the event log
        out.layers["session.tmp_dirs_leaked"] = len(leaked)
        out.layers["process.peak_rss_mb"] = rss
        layers = traced_layers(tracer, out, setup, len(out.steady_s))
        if truth:
            out.detail["packed_share_of_load_time"] = layers["fixed_width.demux_packed_s"] / e2e["steady_pass_s"]

    failed_frac = out.failed / max(out.attempted, 1)
    record = {
        "metadata": meta,
        "setup": setup,
        "end_to_end": e2e,
        "peak_rss_mb": rss,
        "ops_failed_frac": failed_frac,
        "attempted": out.attempted,
        "failures": out.failures,
        "steady_passes_s": out.steady_s,
        "op_latency": op_latency(out.op_s),
        "per_op_s": out.per_op,
        "check_s": out.check_s,
        "wall_s": time.perf_counter() - T_PROCESS,
        "tmp_entries_leaked": leaked,
        "detail": out.detail,
    }
    os.makedirs(records, exist_ok=True)
    path = args.record or os.path.join(records, f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
    if args.trace:
        record["trace_overhead"] = overhead(records, args.workload, args.seed, e2e)
        record.update(layers=layers, spans=tracer.spans)
    harness.write_json(path, record)
    _prune(os.path.join(records, "*.json"), KEEP_RECORDS)

    for failure in out.failures:
        print(f"perfbench: FAILED {failure}")
    print(
        f"perfbench: {args.workload} seed={args.seed} steady_passes={len(out.steady_s)}"
        f" op_samples={len(out.op_s)} ops_failed_frac={failed_frac:.4f}"
        f" tmp_entries_leaked={len(leaked)} record={os.path.relpath(path, root)}"
    )
    if args.trace:
        print("perfbench: trace overhead " + json.dumps(record["trace_overhead"]))
        metrics = {k: {"value": v, "unit": unit_of(k)} for k, v in layers.items()}
    else:
        metrics = {k: {"value": v, "unit": END_TO_END[k]} for k, v in e2e.items()}
    print(
        json.dumps(
            {
                "correct": out.failed == 0,
                "attempted": out.attempted,
                "failed": out.failed,
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    try:
        sys.exit(main())
    except Exception:
        traceback.print_exc()
        sys.exit(1)
