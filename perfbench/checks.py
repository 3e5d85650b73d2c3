"""Output checks. None of them is timed; each failing check marks an op
failed, and ``ops_failed_frac`` counts it.

- Oracle-backed queries: the Spark result must match the query's
  ``oracle_sql()`` run by DuckDB on the same parquet files (row count,
  column names and an order-insensitive value hash; columns sorted by name,
  floats and nulls normalized as the engine's oracle gate does).
- Rows-only queries: non-empty, with the same row count on every pass.
- ``dhs_ingest``: per-survey row counts (``rowcount_reconcile_per_survey``)
  and unknown-tag counts equal the generator's truth, and packed tables
  carry the ``data`` map. That check runs through Spark once per run; every
  other full load is checked from its parquet footers (rows per record and
  survey against the truth, and the ``data`` map), which runs no Spark job.
"""

from __future__ import annotations

import hashlib
import math
import os

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def _cell(v) -> str:
    if v is None:
        return "<null>"
    if isinstance(v, float):
        if math.isnan(v):
            return "<null>"
        if v == int(v) and abs(v) < 1e15:
            if v == 0.0 and math.copysign(1.0, v) < 0.0:
                return "-0"
            return str(int(v))
        return repr(v)
    if isinstance(v, bool):
        return str(v)
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if hasattr(v, "tolist"):  # numpy scalars and arrays
        v = v.tolist()
        return str(v) if isinstance(v, list) else _cell(v)
    return str(v)


def frame_hash(pdf) -> str:
    cols = sorted(pdf.columns)
    rows = sorted(
        "\x1f".join(_cell(v) for v in rec)
        for rec in pdf[cols].itertuples(index=False, name=None)
    )
    return hashlib.sha256("\x1e".join(rows).encode()).hexdigest()[:16]


class Oracle:
    """DuckDB views over the workload's parquet inputs."""

    def __init__(self, sf_dir: str):
        import duckdb

        self.con = duckdb.connect()
        for t in TABLES:
            self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    def compare(self, sql: str, df) -> str | None:
        """None when ``df`` (a Spark DataFrame) matches ``sql``; else why not."""
        spark_pdf = df.toPandas()
        duck_pdf = self.con.execute(sql).fetchdf()
        if len(spark_pdf) != len(duck_pdf):
            return f"rows {len(spark_pdf)} vs oracle {len(duck_pdf)}"
        if sorted(spark_pdf.columns) != sorted(duck_pdf.columns):
            return f"columns {sorted(spark_pdf.columns)} vs oracle {sorted(duck_pdf.columns)}"
        if frame_hash(spark_pdf) != frame_hash(duck_pdf):
            return "value hash differs from oracle"
        return None

    def close(self) -> None:
        self.con.close()


def check_ingest(spark, warehouse: str, result, truth: dict, tracer) -> list[str]:
    """Problems with a loaded warehouse against the corpus truth; the
    read-back, the reconcile and the unknown-tag count are traced spans."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import MapType

    from dhs_to_database_spark.plans.schema_evolution import (
        read_evolved,
        rowcount_reconcile_per_survey,
    )

    problems = []
    # one reconcile over every record table, keyed "<record>:<surveyid>"
    loaded, expected = None, []
    for record, per_survey in sorted(truth["rows"].items()):
        with tracer.span("schema_evolution.read_evolved"):
            table = read_evolved(spark, f"{warehouse}/{record}")
        if record in truth["packed_records"]:
            field = table.schema["data"] if "data" in table.columns else None
            if field is None or not isinstance(field.dataType, MapType):
                problems.append(f"{record}: packed table has no data map")
        keyed = table.select(F.concat_ws(":", F.lit(record), "surveyid").alias("surveyid"))
        loaded = keyed if loaded is None else loaded.unionByName(keyed)
        expected += [(f"{record}:{sid}", n) for sid, n in per_survey.items()]
    want_rows = spark.createDataFrame(sorted(expected), "surveyid string, n long").select(
        "surveyid", F.explode(F.sequence(F.lit(1), F.col("n"))).alias("row")
    )
    with tracer.span("schema_evolution.reconcile"):
        got = {
            r["surveyid"]: (r["loaded_rows"], r["expected_rows"], r["status"])
            for r in rowcount_reconcile_per_survey(loaded, want_rows).collect()
        }
    bad = {k: v for k, v in got.items() if v[2] != "match"}
    if bad or set(got) != {k for k, _ in expected}:
        problems.append(f"row counts off: {bad or sorted(got)}")
    with tracer.span("fixed_width.unknown_tags_collect"):
        unknown = {
            (r["surveyid"], r["record_type"]): r["n_lines"]
            for r in result.unknown_tag_counts.collect()
        }
    want = {
        (sid, tag): n
        for sid, tags in truth["unknown_tags"].items()
        for tag, n in tags.items()
    }
    if unknown != want:
        problems.append(f"unknown-tag counts {sorted(unknown.items())} vs {sorted(want.items())}")
    return problems


def check_footers(warehouse: str, truth: dict) -> list[str]:
    """Problems with a loaded warehouse, read from its parquet footers: the
    rows per (record, survey) partition must equal the generator's truth,
    and packed records must carry a ``data`` map."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    problems = []
    for record, per_survey in sorted(truth["rows"].items()):
        got: dict[str, int] = {}
        has_map = False
        root = os.path.join(warehouse, record)
        for part in os.listdir(root) if os.path.isdir(root) else []:
            if not part.startswith("surveyid="):
                continue
            for name in os.listdir(os.path.join(root, part)):
                if not name.endswith(".parquet"):
                    continue
                meta = pq.ParquetFile(os.path.join(root, part, name))
                sid = part.split("=", 1)[1]
                got[sid] = got.get(sid, 0) + meta.metadata.num_rows
                schema = meta.schema_arrow
                has_map |= "data" in schema.names and pa.types.is_map(schema.field("data").type)
        if got != per_survey:
            problems.append(f"{record}: rows per survey {sorted(got.items())} vs {sorted(per_survey.items())}")
        if record in truth["packed_records"] and not has_map:
            problems.append(f"{record}: packed table has no data map")
    return problems
