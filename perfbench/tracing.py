"""The traced run: times each layer from outside the package.

- Public layer functions are wrapped where the pipeline calls them
  (``pipeline.parse_dcf_files`` and friends, ``run_pipeline``,
  ``read_evolved``); every query callable is one construct span and its
  noop write one execute span.
- py4j round trips are counted by wrapping ``GatewayClient.send_command``.
- Every benchmark call runs under ``setJobGroup(op, phase)``; the Spark
  event log is parsed once at the end and each job, stage and task is
  attributed to its (op, phase), falling back to the span whose time window
  holds the job's submission (streaming micro-batches run on other threads).
- Streaming progress comes from a ``StreamingQueryListener``.
- Spans (name, start, end, parent, op) stay in memory and are written out
  with the per-layer metrics at the end.

The untraced run uses ``NullTracer``, whose hooks do nothing.
"""

from __future__ import annotations

import contextlib
import json
import os
import time

MODULES = ("relational", "metadata", "dedup", "similarity", "text_analysis", "clustering")
MODULE_METRICS = (
    "construct_s",
    "execute_s",
    "py4j_calls",
    "eager_jobs",
    "tasks",
    "executor_run_s",
    "executor_cpu_s",
    "shuffle_write_mb",
    "spill_mb",
)
LAYER_METRICS = (
    "session.get_spark_s",
    "registry.import_s",
    "tables.warm_s",
    "cspro_dcf.parse_s",
    "cspro_dcf.dictionaries",
    "cspro_dcf.items",
    "fixed_width.spec_s",
    "fixed_width.demux_narrow_s",
    "fixed_width.demux_packed_s",
    "fixed_width.unknown_tags_s",
    "fixed_width.lines",
    "fixed_width.input_mb",
    "fixed_width.output_mb",
    "fixed_width.compute_s",
    "fixed_width.write_s",
    "pipeline.self_s",
    "schema_evolution.read_evolved_s",
    "schema_evolution.reconcile_s",
    *(f"{m}.{k}" for m in MODULES for k in MODULE_METRICS),
    "dedup.artifact_builds",
    "dedup.artifact_hit_ratio",
    "streaming.batches",
    "streaming.batch_s",
    "streaming.state_rows",
    "spark.jobs",
    "spark.tasks",
    "spark.executor_cpu_s",
    "spark.gc_s",
    "spark.shuffle_write_mb",
    "spark.spill_mb",
    "session.conf_changes",
    "session.tmp_dirs_leaked",
    "process.peak_rss_mb",
)
UNITS = {"_s": "s", "_mb": "MB", "_ratio": "ratio"}


def unit_of(name: str) -> str:
    for suffix, unit in UNITS.items():
        if name.endswith(suffix):
            return unit
    return "count"


class NullTracer:
    enabled = False

    def span(self, name: str, op: str | None = None, **attrs):
        return contextlib.nullcontext({})

    def phase(self, spark, op: str, module: str, phase: str, pass_idx: int):
        return contextlib.nullcontext({})


class Tracer:
    enabled = True

    def __init__(self, event_log_dir: str):
        self.event_log_dir = event_log_dir
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self.py4j_calls = 0
        self.stream_progress: list[dict] = []
        self._restore: list[tuple] = []

    # -- spans ---------------------------------------------------------------
    @contextlib.contextmanager
    def span(self, name: str, op: str | None = None, **attrs):
        s = {
            "id": len(self.spans),
            "name": name,
            "op": op,
            "parent": self._stack[-1]["id"] if self._stack else None,
            "start": time.time(),
            **attrs,
        }
        self.spans.append(s)
        self._stack.append(s)
        try:
            yield s
        finally:
            s["end"] = time.time()
            self._stack.pop()

    @contextlib.contextmanager
    def phase(self, spark, op: str, module: str, phase: str, pass_idx: int):
        """One op phase: job group set, py4j calls counted."""
        sc = spark.sparkContext
        sc.setJobGroup(op, f"{phase}:{pass_idx}")
        calls0 = self.py4j_calls
        try:
            with self.span(f"{module}.{phase}", op=op, module=module, phase=phase, pass_idx=pass_idx) as s:
                yield s
        finally:
            s["py4j_calls"] = self.py4j_calls - calls0
            sc.setJobGroup("perfbench", "idle")

    # -- instrumentation -----------------------------------------------------
    def wrap(self, owner, attr: str, span_name: str, on_result=None) -> None:
        """Replace ``owner.attr`` with a spanned wrapper (undone by ``unwrap``)."""
        original = getattr(owner, attr)
        tracer = self

        def wrapper(*args, **kwargs):
            with tracer.span(span_name) as s:
                out = original(*args, **kwargs)
                if on_result is not None:
                    on_result(s, args, kwargs, out)
                return out

        setattr(owner, attr, wrapper)
        self._restore.append((owner, attr, original))

    def install(self, spark) -> None:
        from py4j.java_gateway import GatewayClient
        from pyspark.sql.streaming import StreamingQueryListener

        tracer = self
        send = GatewayClient.send_command

        def counting_send(client, *args, **kwargs):
            tracer.py4j_calls += 1
            return send(client, *args, **kwargs)

        GatewayClient.send_command = counting_send
        self._restore.append((GatewayClient, "send_command", send))

        class Progress(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                tracer.stream_progress.append(
                    {
                        "batch": p.batchId,
                        "timestamp": p.timestamp,
                        "duration_ms": dict(p.durationMs).get("triggerExecution", 0),
                        "state_rows": sum(s.numRowsTotal for s in p.stateOperators),
                    }
                )

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self._listener = Progress()
        spark.streams.addListener(self._listener)

    def wrap_pipeline(self) -> None:
        """Span the layer functions at their call sites in ``pipeline``."""
        from dhs_to_database_spark import pipeline
        from dhs_to_database_spark.sources.fixed_width import packed_record_names

        tracer = self

        def on_parse(s, args, kwargs, out):
            paths = args[1] if len(args) > 1 else kwargs["path"]
            s["dictionaries"] = len(paths) if isinstance(paths, list) else 1
            items = out[0]
            collect = items.collect

            def timed_collect():  # the parse itself runs in this first action
                with tracer.span("cspro_dcf.collect_items") as c:
                    rows = collect()
                    c["items"] = len(rows)
                    return rows

            items.collect = timed_collect

        def on_demux(s, args, kwargs, out):
            s["packed"] = bool(packed_record_names(args[2]))

        self.wrap(pipeline, "run_pipeline", "pipeline.run_pipeline")
        self.wrap(pipeline, "parse_dcf_files", "cspro_dcf.parse_dcf_files", on_parse)
        self.wrap(pipeline, "spec_from_items", "fixed_width.spec_from_items")
        self.wrap(pipeline, "demux_to_parquet", "fixed_width.demux_to_parquet", on_demux)
        self.wrap(pipeline, "unknown_tags", "fixed_width.unknown_tags")

    def unwrap(self, spark) -> None:
        for owner, attr, original in reversed(self._restore):
            setattr(owner, attr, original)
        self._restore.clear()
        spark.streams.removeListener(self._listener)

    # -- event log -----------------------------------------------------------
    def _event_lines(self):
        for dirpath, _dirs, files in os.walk(self.event_log_dir):
            for fn in sorted(files):
                if fn.startswith("appstatus_"):
                    continue
                with open(os.path.join(dirpath, fn)) as f:
                    yield from f

    def _phase_at(self, t_ms: float, phases: list[dict]) -> dict | None:
        for s in phases:
            if s["start"] * 1000 <= t_ms <= s["end"] * 1000:
                return s
        return None

    def parse_event_log(self) -> dict:
        """Add executor totals to every phase span; return whole-run totals."""
        phases = [s for s in self.spans if "phase" in s and "end" in s]
        by_key = {}
        for s in phases:
            by_key[(s["op"], f"{s['phase']}:{s['pass_idx']}")] = s
            s.update(jobs=0, tasks=0, run_ms=0.0, cpu_ns=0.0, shuffle_write=0, spill=0)
        stage_span: dict[int, dict] = {}
        total = dict(jobs=0, tasks=0, cpu_ns=0.0, gc_ms=0.0, shuffle_write=0, spill=0)
        for line in self._event_lines():
            if '"Event":"SparkListenerJobStart"' in line:
                ev = json.loads(line)
                total["jobs"] += 1
                props = ev.get("Properties") or {}
                key = (props.get("spark.jobGroup.id"), props.get("spark.job.description"))
                s = by_key.get(key) or self._phase_at(ev.get("Submission Time", 0), phases)
                if s is not None:
                    s["jobs"] += 1
                    for sid in ev.get("Stage IDs", []):
                        stage_span.setdefault(sid, s)
            elif '"Event":"SparkListenerTaskEnd"' in line:
                ev = json.loads(line)
                m = ev.get("Task Metrics") or {}
                shuffle_write = (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                total["tasks"] += 1
                total["cpu_ns"] += m.get("Executor CPU Time", 0)
                total["gc_ms"] += m.get("JVM GC Time", 0)
                total["shuffle_write"] += shuffle_write
                total["spill"] += m.get("Disk Bytes Spilled", 0)
                s = stage_span.get(ev.get("Stage ID"))
                if s is not None:
                    s["tasks"] += 1
                    s["run_ms"] += m.get("Executor Run Time", 0)
                    s["cpu_ns"] += m.get("Executor CPU Time", 0)
                    s["shuffle_write"] += shuffle_write
                    s["spill"] += m.get("Disk Bytes Spilled", 0)
        return total

    # -- report --------------------------------------------------------------
    def module_metrics(self, steady_passes: list[int]) -> dict[str, float]:
        """Per operator module, per steady pass: span times, py4j calls,
        eager jobs and executor totals of its phases."""
        out = {f"{m}.{k}": 0.0 for m in MODULES for k in MODULE_METRICS}
        n = max(len(steady_passes), 1)
        steady = set(steady_passes)
        for s in self.spans:
            m = s.get("module")
            if m not in MODULES or s.get("pass_idx") not in steady or "jobs" not in s:
                continue
            out[f"{m}.{s['phase']}_s"] += (s["end"] - s["start"]) / n
            out[f"{m}.tasks"] += s["tasks"] / n
            out[f"{m}.executor_run_s"] += s["run_ms"] / 1e3 / n
            out[f"{m}.executor_cpu_s"] += s["cpu_ns"] / 1e9 / n
            out[f"{m}.shuffle_write_mb"] += s["shuffle_write"] / 1e6 / n
            out[f"{m}.spill_mb"] += s["spill"] / 1e6 / n
            if s["phase"] == "construct":
                out[f"{m}.py4j_calls"] += s["py4j_calls"] / n
                out[f"{m}.eager_jobs"] += s["jobs"] / n
        return out

    def _under(self, root: dict) -> list[dict]:
        ids, out = {root["id"]}, []
        for s in self.spans[root["id"] + 1 :]:
            if s["parent"] in ids:
                ids.add(s["id"])
                out.append(s)
        return out

    def load_layers(self) -> dict[str, float]:
        """``dhs_ingest`` layers, per steady full load (pass >= 1)."""
        loads = [
            s
            for s in self.spans
            if s["name"] == "perfbench.load" and s["kind"] == "full" and s["pass_idx"] > 0
        ]
        if not loads:
            return {}
        n = len(loads)
        acc: dict[str, float] = {}

        def add(key: str, value: float) -> None:
            acc[key] = acc.get(key, 0.0) + value / n

        for load in loads:
            for s in self._under(load):
                d = s["end"] - s["start"]
                name = s["name"]
                if name in ("cspro_dcf.parse_dcf_files", "cspro_dcf.collect_items"):
                    add("cspro_dcf.parse_s", d)
                    add("cspro_dcf.dictionaries", s.get("dictionaries", 0))
                    add("cspro_dcf.items", s.get("items", 0))
                elif name == "fixed_width.spec_from_items":
                    add("fixed_width.spec_s", d)
                elif name == "fixed_width.demux_to_parquet":
                    add("fixed_width.demux_packed_s" if s["packed"] else "fixed_width.demux_narrow_s", d)
                elif name == "fixed_width.unknown_tags":
                    add("fixed_width.unknown_tags_s", d)
            pipe = [s for s in self._under(load) if s["name"] == "pipeline.run_pipeline"]
            for s in pipe:
                kids = sum(c["end"] - c["start"] for c in self.spans if c["parent"] == s["id"])
                add("pipeline.self_s", s["end"] - s["start"] - kids)

        def total(name: str) -> float:
            return sum(s["end"] - s["start"] for s in self.spans if s["name"] == name)

        acc["fixed_width.unknown_tags_s"] = acc.get("fixed_width.unknown_tags_s", 0.0) + total(
            "fixed_width.unknown_tags_collect"
        )
        acc["schema_evolution.read_evolved_s"] = total("schema_evolution.read_evolved")
        acc["schema_evolution.reconcile_s"] = total("schema_evolution.reconcile")
        return acc

    def stream_layers(self, steady_passes: list[int]) -> dict[str, float]:
        """Streaming micro-batches per steady pass, attributed to the op
        phase whose span holds each batch's trigger time."""
        from datetime import datetime

        phases = [s for s in self.spans if "phase" in s and "end" in s]
        steady = set(steady_passes)
        n = max(len(steady_passes), 1)
        out = {"streaming.batches": 0.0, "streaming.batch_s": 0.0, "streaming.state_rows": 0.0}
        for p in self.stream_progress:
            t = datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00")).timestamp()
            s = self._phase_at(t * 1000, phases)
            if s is None or s["pass_idx"] not in steady:
                continue
            out["streaming.batches"] += 1 / n
            out["streaming.batch_s"] += p["duration_ms"] / 1e3 / n
            out["streaming.state_rows"] += p["state_rows"] / n
        return out
