"""Process-level plumbing shared by the workloads: environment, the
timed set-up, peak RSS, session hygiene, run metadata and teardown.

Everything the benchmark writes lands under ``perfbench/.work`` in the
checkout it runs from: generated inputs (cached per seed), Spark's local
and temp directories, warehouses, event logs and the per-run records.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import tempfile
import time


def configure_env(root: str, work: str, event_log_dir: str | None) -> None:
    """Point every writer at the checkout and make the package importable
    by the driver and by Spark's Python workers. Must run before pyspark
    starts its JVM."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None  # re-read TMPDIR
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH", "")) if p
    )
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    # the JVM's heap settings stay the program's own (session.get_spark)
    java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    conf = [f'--driver-java-options "{java_opts}"']
    if event_log_dir:
        os.makedirs(event_log_dir, exist_ok=True)
        conf += [
            "--conf spark.eventLog.enabled=true",
            "--conf spark.eventLog.compress=false",
            f"--conf spark.eventLog.dir=file://{event_log_dir}",
        ]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(conf) + " pyspark-shell"
    if root not in sys.path:
        sys.path.insert(0, root)


def one_setup(tables: tuple[str, ...], sf_dir: str | None):
    """get_spark + registry import + warming the workload's input tables,
    in a process that has not imported the engine yet. Returns (spark,
    registry module, component times)."""
    t0 = time.perf_counter()
    from dhs_to_database_spark.session import get_spark

    spark = get_spark("perfbench")
    t1 = time.perf_counter()
    import __spark_entry__ as entry

    entry.queries()
    t2 = time.perf_counter()
    if tables:
        from dhs_to_database_spark.sources.tables import load_table

        for name in tables:
            load_table(spark, sf_dir, name).count()
    t3 = time.perf_counter()
    return spark, entry, {"get_spark": t1 - t0, "registry": t2 - t1, "warm": t3 - t2}


def jvm_pid(spark) -> int | None:
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    return getattr(proc, "pid", None)


def _vm_hwm_kb(pid: int | str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb(spark) -> float:
    """VmHWM of this Python driver plus the JVM it launched."""
    kb = _vm_hwm_kb("self")
    pid = jvm_pid(spark)
    if pid:
        kb += _vm_hwm_kb(pid)
    return kb / 1024.0


def conf_snapshot(spark) -> dict[str, str]:
    return dict(spark.conf.getAll)


def conf_diff(before: dict[str, str], after: dict[str, str]) -> list[str]:
    keys = set(before) | set(after)
    return sorted(k for k in keys if before.get(k) != after.get(k))


# native libraries the JVM unpacks and Spark's own session directories: not
# the engine's, so not counted as leaks
JVM_TMP_PREFIXES = ("snappy-", "liblz4-java-", "libzstd-jni-", "artifacts-", "spark-")


def tmp_entries() -> set[str]:
    return {
        e for e in os.listdir(tempfile.gettempdir()) if not e.startswith(JVM_TMP_PREFIXES)
    }


def calibrate(spark) -> float:
    """The code-independent box-speed probe bench.py reports
    (``range(200M).sum`` through the noop sink)."""
    t0 = time.perf_counter()
    spark.range(200_000_000).selectExpr("sum(id)").write.format("noop").mode(
        "overwrite"
    ).save()
    return time.perf_counter() - t0


def _cmd(args: list[str]) -> str:
    try:
        out = subprocess.run(args, capture_output=True, text=True, timeout=10)
        return out.stdout.strip() or "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def metadata(spark, args, extra: dict) -> dict:
    return {
        "git_head": _cmd(["git", "rev-parse", "HEAD"]),
        "nproc": len(os.sched_getaffinity(0)),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "spark_version": spark.version,
        "java_version": spark.sparkContext._jvm.System.getProperty("java.version"),
        "python_version": sys.version.split()[0],
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        **extra,
    }


def teardown(spark) -> None:
    """Stop Spark and wait for the JVM (and its Python workers) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def write_json(path: str, obj) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        json.dump(obj, f, indent=1, sort_keys=True, default=str)
