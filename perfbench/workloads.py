"""The two workloads. Each is a closed loop with one client thread: a
cold pass, then steady passes while the run's seconds last (at least
``MIN_STEADY`` of them).

- ``dhs_ingest``: a pass is a full load of the CSPro corpus through
  ``run_pipeline`` into an empty warehouse. After the cold one, single
  narrow surveys are reloaded into its populated warehouse (dynamic
  partition overwrite); an op is one reload.
- ``survey_query``: a pass runs the execution-bound relational and metadata
  queries and the construction-bound curation cells below, each through the
  noop sink. An op is one query.

``--seed`` drives the generated inputs, the op order of every steady pass
and the surveys reloaded. The cold pass runs the ops in the fixed order
below: its cost includes the warm-up that whichever op comes first pays,
so a seeded order would make it vary with the seed.
"""

from __future__ import annotations

import os
import random
import shutil
import statistics
import time
from dataclasses import dataclass, field

from checks import Oracle, check_footers, check_ingest
from harness import tmp_entries

SURVEY_QUERY_OPS = (
    "flagship_cross_level",
    "rowid_join",
    "range_join_decode",
    "top1_per_group",
    "agg_having",
    "rollup_agg",
    "survey_update_check",
)
# dedup, text, similarity, clustering and streaming cells whose time is
# driver construction
CURATION_OPS = (
    "minhash_near_dup",
    "tfidf_topk",
    "embedding_centroids",
    "near_dup_clusters",
    "streaming_window_counts",
    "stateful_session_paths",
)
# ops that read through dedup's session-scoped artifact cache
ARTIFACT_OPS = frozenset({"minhash_near_dup", "near_dup_clusters"})
QUERY_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "documents",
    "embeddings",
    "events",
)
# single narrow-survey reloads after the cold full load
RELOADS = 2
# steady passes a run makes even when one outlasts its seconds
MIN_STEADY = {"dhs_ingest": 2, "survey_query": 1}


@dataclass
class Ctx:
    spark: object
    entry: object
    tracer: object
    seed: int
    seconds: float
    min_steady: int
    inputs: str  # sf dir (parquet workloads) or corpus dir (dhs_ingest)
    work: str
    truth: dict | None = None


@dataclass
class Outcome:
    cold_s: float = 0.0
    steady_s: list[float] = field(default_factory=list)
    op_s: list[float] = field(default_factory=list)  # steady-pass op latencies
    per_op: dict = field(default_factory=dict)  # op -> latency of every pass
    check_s: float = 0.0  # wall time of the (untimed) output checks
    input_mb: float = 0.0
    attempted: int = 0
    failures: list[str] = field(default_factory=list)
    layers: dict = field(default_factory=dict)
    detail: dict = field(default_factory=dict)

    @property
    def failed(self) -> int:
        return len(self.failures)


def passes(ctx: Ctx, one_pass) -> tuple[float, list[float]]:
    """Cold pass 0, then steady passes while ``ctx.seconds`` last, and at
    least ``ctx.min_steady`` of them."""
    cold = one_pass(0)
    steady: list[float] = []
    t0 = time.perf_counter()
    while len(steady) < ctx.min_steady or time.perf_counter() - t0 < ctx.seconds:
        steady.append(one_pass(len(steady) + 1))
    return cold, steady


def _dedup_dirs() -> set[str]:
    return {e for e in tmp_entries() if e.startswith("dedup_")}


# ---------------------------------------------------------------------------
# survey_query
# ---------------------------------------------------------------------------


def run_queries(ctx: Ctx, ops: tuple[str, ...], tables: tuple[str, ...]) -> Outcome:
    from harness import conf_diff, conf_snapshot

    spark, tracer = ctx.spark, ctx.tracer
    qs, oracles = ctx.entry.queries(), ctx.entry.oracle_sql()
    rng = random.Random(ctx.seed)
    out = Outcome()
    out.input_mb = sum(os.path.getsize(f"{ctx.inputs}/{t}.parquet") for t in tables) / 1e6
    last_df: dict[str, object] = {}
    rows: dict[str, list[int]] = {op: [] for op in ops if op not in oracles}
    builds_per_pass: list[int] = []
    conf_changes: list[str] = []

    def one_pass(pass_idx: int) -> float:
        order = list(ops)
        if pass_idx > 0:
            rng.shuffle(order)
        total = 0.0
        dedup_before = _dedup_dirs()
        for op in order:
            fn = qs[op]
            module = fn.__module__.rsplit(".", 1)[-1]
            conf0 = conf_snapshot(spark) if tracer.enabled else None
            out.attempted += 1
            try:
                t0 = time.perf_counter()
                with tracer.phase(spark, op, module, "construct", pass_idx):
                    df = fn(spark, ctx.inputs)
                with tracer.phase(spark, op, module, "execute", pass_idx):
                    df.write.format("noop").mode("overwrite").save()
                dt = time.perf_counter() - t0
            except Exception as e:  # an exception is a failed op, never a skip
                out.failures.append(f"{op} pass {pass_idx}: {type(e).__name__}: {str(e)[:300]}")
                continue
            total += dt
            out.per_op.setdefault(op, []).append(dt)
            if pass_idx > 0:
                out.op_s.append(dt)
            last_df[op] = df
            if op in rows:  # untimed: rows-only ops must be non-empty and stable
                n = df.count()
                if n == 0 or (rows[op] and n != rows[op][0]):
                    out.failures.append(f"{op} pass {pass_idx}: {n} rows (first pass {rows[op][:1]})")
                rows[op].append(n)
            if conf0 is not None:
                conf_changes.extend(f"{op}:{k}" for k in conf_diff(conf0, conf_snapshot(spark)))
        builds_per_pass.append(len(_dedup_dirs() - dedup_before))
        return total

    out.cold_s, out.steady_s = passes(ctx, one_pass)
    t_check = time.perf_counter()
    oracle = Oracle(ctx.inputs)
    try:
        for op in ops:
            if op in oracles and op in last_df:
                try:
                    problem = oracle.compare(oracles[op], last_df[op])
                except Exception as e:
                    problem = f"{type(e).__name__}: {str(e)[:300]}"
                if problem:
                    out.failures.append(f"{op} oracle: {problem}")
    finally:
        oracle.close()

    out.check_s = time.perf_counter() - t_check
    calls = len(ARTIFACT_OPS & set(ops)) * (1 + len(out.steady_s))
    builds = sum(builds_per_pass)
    out.detail = {
        "ops": list(ops),
        "rows_only_counts": rows,
        "artifact_builds_per_pass": builds_per_pass,
        "conf_changes": conf_changes,
    }
    out.layers = {
        "dedup.artifact_builds": builds,
        "dedup.artifact_hit_ratio": (1 - builds / calls) if calls else 0.0,
        "session.conf_changes": len(conf_changes),
    }
    return out


# ---------------------------------------------------------------------------
# dhs_ingest
# ---------------------------------------------------------------------------


def _du_mb(path: str) -> float:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _dirs, files in os.walk(path) for f in files
    ) / 1e6


def run_ingest(ctx: Ctx) -> Outcome:
    from dhs_to_database_spark import pipeline

    from harness import conf_diff, conf_snapshot

    spark, tracer, truth = ctx.spark, ctx.tracer, ctx.truth
    narrow = [s["surveyid"] for s in truth["surveys"] if s["dictionary"] != "WIDE"]
    rng = random.Random(ctx.seed)
    out = Outcome(input_mb=truth["dat_bytes"] / 1e6)
    wh_root = os.path.join(ctx.work, "warehouses")
    conf_changes: list[str] = []

    def load(staging: str, warehouse: str, kind: str, pass_idx: int, **kw):
        conf0 = conf_snapshot(spark) if tracer.enabled else None
        with tracer.span("perfbench.load", kind=kind, pass_idx=pass_idx):
            t0 = time.perf_counter()
            res = pipeline.run_pipeline(spark, staging, warehouse, **kw)
            dt = time.perf_counter() - t0
        if conf0 is not None:
            conf_changes.extend(f"{kind}:{k}" for k in conf_diff(conf0, conf_snapshot(spark)))
        return dt, res

    def reload(sid: str, warehouse: str) -> None:
        out.attempted += 1
        try:
            dt, _ = load(os.path.join(ctx.inputs, sid), warehouse, "reload", 0)
        except Exception as e:
            out.failures.append(f"reload {sid}: {type(e).__name__}: {str(e)[:300]}")
            return
        out.per_op.setdefault(f"reload {sid}", []).append(dt)
        out.op_s.append(dt)

    def check(warehouse: str, result, through_spark: bool) -> None:
        t_check = time.perf_counter()
        try:
            if through_spark:
                problems = check_ingest(spark, warehouse, result, truth, tracer)
            else:
                problems = check_footers(warehouse, truth)
        except Exception as e:
            problems = [f"{type(e).__name__}: {str(e)[:300]}"]
        out.failures.extend(f"ingest check {os.path.basename(warehouse)}: {p}" for p in problems)
        out.check_s += time.perf_counter() - t_check

    def full_load(pass_idx: int) -> float:
        """One full load into an empty warehouse. After the cold one, the
        reloads go into its warehouse and the Spark-side check reads it;
        that untimed check also lets the JIT settle before the steady
        loads, each of which is checked from its footers."""
        warehouse = os.path.join(wh_root, f"w{pass_idx}")
        out.attempted += 1
        try:
            full_s, result = load(ctx.inputs, warehouse, "full", pass_idx)
        except Exception as e:
            out.failures.append(f"full load pass {pass_idx}: {type(e).__name__}: {str(e)[:300]}")
            shutil.rmtree(warehouse, ignore_errors=True)
            return 0.0
        if pass_idx == 0:
            for sid in rng.sample(narrow, RELOADS):
                reload(sid, warehouse)
            layers["fixed_width.output_mb"] = _du_mb(warehouse)
        check(warehouse, result, through_spark=pass_idx == 0)
        shutil.rmtree(warehouse, ignore_errors=True)
        return full_s

    layers: dict[str, float] = {}
    out.cold_s, out.steady_s = passes(ctx, full_load)
    layers["session.conf_changes"] = len(conf_changes)
    if tracer.enabled:
        compute_s, _ = load(ctx.inputs, os.path.join(wh_root, "noop"), "compute", -1, sink_format="noop")
        layers["fixed_width.compute_s"] = compute_s
        layers["fixed_width.write_s"] = statistics.median(out.steady_s) - compute_s
    shutil.rmtree(wh_root, ignore_errors=True)
    layers["fixed_width.lines"] = truth["dat_lines"]
    layers["fixed_width.input_mb"] = out.input_mb
    out.layers = layers
    out.detail = {
        "surveys": len(truth["surveys"]),
        "reloads": RELOADS,
        "packed_share_of_bytes": truth["packed_bytes"] / truth["dat_bytes"],
        "conf_changes": conf_changes,
    }
    return out
