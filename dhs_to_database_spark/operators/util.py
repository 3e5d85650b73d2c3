"""Small shared helpers for operator modules."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType, _parse_datatype_string


def local_rows_df(spark: SparkSession, rows, schema) -> DataFrame:
    """A DataFrame for bounded driver-side rows (reports, panels, literal
    spines), built WITHOUT the pickled-RDD path.

    ``createDataFrame(list)`` parallelizes the rows into
    ``defaultParallelism`` pickled slices, and *every* job that touches
    the frame — the noop sink, a broadcast build, a downstream union —
    pays one Python-worker round-trip per slice just to deserialize a
    handful of driver rows (32 locally, hundreds on a cluster; the r14
    coalesce(1) attempt made it worse by serializing those rounds into
    one task, ~0.25 s x slices of pure wait). Going through pandas +
    Arrow instead converts the rows ONCE on the driver and lands them as
    a JVM ``LocalRelation``: `LocalTableScan` in the plan, zero
    scheduled tasks for broadcast builds, no Python workers at any
    scale. Measured (guide §1.4, noop sink, min-of-4): 8-row report
    frame 0.60 s -> 0.10 s, 512-row spine 0.96 s -> 0.14 s per
    consuming job.

    The declared ``schema`` (DDL string or StructType) is passed through
    unchanged, so column types and nullability are exactly what
    ``createDataFrame`` produced before. Rows may be tuples or Row
    objects; ``dtype=object`` keeps Nones as NULLs (no NaN coercion)
    and defers all typing to the declared schema. Callers without a
    typed schema (bare column-name lists) keep the classic inference
    path.
    """
    if isinstance(schema, str):
        st = _parse_datatype_string(schema)
    elif isinstance(schema, StructType):
        st = schema
    else:
        return spark.createDataFrame(rows, schema)
    import pandas as pd

    pdf = pd.DataFrame(
        [tuple(r) for r in rows], columns=st.names, dtype=object
    )
    return spark.createDataFrame(pdf, schema=st)


_SPREAD_BYTES_PER_TASK = 64 * 1024  # text-kernel CPU ~1-2 us/byte -> ~0.1 s tasks
_SPREAD_SKIP_BYTES = 1 << 30  # inputs past 1 GB are already scan-parallel


def spread_narrow_cpu(df: DataFrame, bytes_per_task: int = _SPREAD_BYTES_PER_TASK) -> DataFrame:
    """Round-robin-spread a SMALL input that feeds a CPU-heavy narrow
    kernel (tokenize/shingle/hash explodes burn ~1-2 us per input byte —
    three orders of magnitude above normal columnar scan cost).

    Rationale (guide §2.5 input skew): a table that fits in one parquet
    row group scans as ONE task, so every downstream narrow projection
    serializes on one core no matter how many are free. Shuffling a few
    hundred KB of raw text is ~free next to the kernel CPU it
    parallelizes. The gate is size-derived, not core-count-derived: the
    partition count targets ``bytes_per_task`` (saturating at
    defaultParallelism), and inputs past ``_SPREAD_SKIP_BYTES`` return
    unchanged — a corpus-scale table is already scan-parallel and
    re-shuffling its payload would be pure waste (so at 100 TB this is
    structurally a no-op, and the plan carries no extra Exchange).
    An input the optimizer has no size estimate for (e.g. a DataFrame
    over an RDD) reports ``spark.sql.defaultSizeInBytes`` — Long.MaxValue
    unless configured — which is past the gate, so it too returns
    unchanged. Deterministic: round-robin repartition local-sorts its input first
    (SPARK-23207), and every consumer of this helper is value-independent
    of row placement (enforced by the layout/config invariance gates)."""
    est = int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    if est > _SPREAD_SKIP_BYTES:
        return df
    spark = df.sparkSession
    n = max(1, min(spark.sparkContext.defaultParallelism, est // bytes_per_task + 1))
    if n <= 1:
        return df
    return df.repartition(n)


def eager_checkpoints(*dfs: DataFrame) -> list[DataFrame]:
    """``localCheckpoint(eager=True)`` several INDEPENDENT DataFrames with
    their materialization jobs submitted concurrently (guide §2.6: actions
    are only sequential because driver code awaits them sequentially; the
    FIFO scheduler back-fills one job's task tail with the next job's
    tasks). Wall time for k independent checkpoints drops from sum(t_i)
    toward max(t_i) — on a cluster the same overlap hides each job's
    straggler tail behind the next job's ramp-up.

    ONLY pass frames with no data dependency on each other (a dependent
    frame would race its input's materialization). Each checkpoint is the
    same call it replaces, so values, plans, and block lifetimes are
    unchanged; ``inheritable_thread_target`` propagates the caller's
    JVM-thread-locals (job description/group) to the worker threads so
    bench/UI labeling is preserved under pinned-thread mode."""
    if len(dfs) == 1:
        return [dfs[0].localCheckpoint(eager=True)]
    from concurrent.futures import ThreadPoolExecutor

    from pyspark import inheritable_thread_target

    def _ck(d: DataFrame) -> DataFrame:
        return d.localCheckpoint(eager=True)

    with ThreadPoolExecutor(max_workers=len(dfs)) as pool:
        futs = [pool.submit(inheritable_thread_target(_ck), d) for d in dfs]
        return [f.result() for f in futs]
