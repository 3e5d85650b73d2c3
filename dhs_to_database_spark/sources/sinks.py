"""Sinks — SURVEY.md §2.A A29/B4: bulk load paths.

The reference bulk-loads via psycopg2 ``COPY FROM`` (lib04:386-506,
lib03:235-270). Spark-native equivalents, in preference order:

1. Partitioned parquet (``write_partitioned``): the engine's canonical
   storage — partition pruning on ``surveyid``, schema evolution via
   mergeSchema, idempotent per-partition overwrite (A22).
2. JDBC (``write_jdbc``): honors BASELINE.json's "DataFrame parsing + JDBC
   writes". Executors write batches in parallel — the distributed version
   of COPY FROM. Round-tripped in tests against embedded Apache Derby
   (``org.apache.derby.jdbc.EmbeddedDriver``, shipped in Spark's own
   jars), so the real codepath — dialect type mapping, batched inserts,
   parallel writers — is exercised without any external database.
3. CSV spec files (``write_spec_csvs``): the reference's
   FlatRecordSpec/FlatValuesSpec/RelationshipsSpec outputs (A13,
   DCF_Parser.py:496-534).
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def write_partitioned(
    df: DataFrame,
    dest: str,
    partition_cols: tuple[str, ...] = ("surveyid",),
    mode: str = "overwrite",
) -> None:
    (
        df.write.mode(mode)
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(*partition_cols)
        .parquet(dest)
    )


def jdbc_options(
    url: str,
    table: str,
    batch_size: int = 10_000,
    num_partitions: int | None = None,
    **extra: str,
) -> dict[str, str]:
    """COPY-FROM-grade JDBC write options: batched inserts
    (``batchsize``), bounded writer parallelism (``numPartitions``) so the
    target DB isn't overwhelmed by 1000 executors connecting at once."""
    opts = {"url": url, "dbtable": table, "batchsize": str(batch_size), **extra}
    if num_partitions:
        opts["numPartitions"] = str(num_partitions)
    return opts


def write_jdbc(df: DataFrame, mode: str = "append", **options: str) -> int:
    """Append/overwrite to a JDBC table (requires a driver jar).

    ``numPartitions`` is the write-side THROTTLE: each writer partition
    opens one connection, so at 1000 executors an unthrottled write is a
    1000-connection storm on the target DB. Spark's JDBC writer coalesces
    to ``numPartitions`` internally (JdbcUtils.saveTable); we apply the
    same coalesce explicitly so the bound is part of OUR plan and
    assertable — the returned value is the number of writer partitions
    actually used (== connections opened), which tests pin.
    """
    n = options.get("numPartitions")
    if n is not None and int(n) < df.rdd.getNumPartitions():
        df = df.coalesce(int(n))
    df.write.format("jdbc").options(**options).mode(mode).save()
    return df.rdd.getNumPartitions()


def jsonify_complex_columns(df: DataFrame) -> tuple[DataFrame, dict[str, str]]:
    """JDBC-safe projection of complex columns — the MapType -> jsonb
    mapping of the reference's packed tables (lib04:446-506: rare columns
    are packed into a PostgreSQL ``jsonb`` column).

    JDBC dialects have no map/array/struct types, so every complex column
    is serialized to JSON text with ``to_json`` (JVM-side, no UDF).
    Returns ``(converted_df, {col_name: original_spark_ddl})`` — the ddl
    map is what ``from_json`` needs to restore the column on read-back.

    Target-specific column typing goes through Spark's standard
    ``createTableColumnTypes`` option:

    - **PostgreSQL** (production): pass
      ``createTableColumnTypes="packed_values JSONB"`` and add
      ``stringtype=unspecified`` to the JDBC URL so the driver lets the
      server cast the JSON text to ``jsonb`` on insert — the exact shape
      of the reference's packed tables. (Not testable in this sandbox:
      no PostgreSQL server; the wire behavior is documented here and the
      serialization side is Derby-round-tripped.)
    - **Derby** (tests): default StringType mapping (CLOB) stores the
      JSON text; ``from_json`` restores the map losslessly.
    """
    from pyspark.sql import functions as F
    from pyspark.sql.types import ArrayType, MapType, StructType

    converted: dict[str, str] = {}
    out = df
    for field in df.schema.fields:
        if isinstance(field.dataType, (MapType, ArrayType, StructType)):
            converted[field.name] = field.dataType.simpleString()
            out = out.withColumn(field.name, F.to_json(field.name))
    return out, converted


def write_spec_csvs(items: DataFrame, values: DataFrame, relations: DataFrame, out_dir: str) -> None:
    """Spec CSV sink (A13): one folder per spec table, headered CSV."""
    items.write.mode("overwrite").option("header", True).csv(f"{out_dir}/FlatRecordSpec")
    values.write.mode("overwrite").option("header", True).csv(f"{out_dir}/FlatValuesSpec")
    relations.write.mode("overwrite").option("header", True).csv(f"{out_dir}/RelationshipsSpec")


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_cols: list[str],
    n_buckets: int = 16,
    sort_cols: list[str] | None = None,
) -> None:
    """Bucketed managed table: pre-shuffles ONCE at write time so that
    every later equi-join or aggregation on ``bucket_cols`` between
    co-bucketed tables runs with NO exchange (SortMergeJoin reads the
    buckets directly). This is the Spark analogue of the reference's
    per-join-key B-tree indexes (lib04_Update_Table_Data.py:203-271):
    pay the organization cost at load, win it back on every query.
    """
    writer = df.write.mode("overwrite").format("parquet").bucketBy(
        n_buckets, *bucket_cols
    )
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    writer.saveAsTable(table)


def write_columnar(
    df: DataFrame,
    dest: str,
    fmt: str = "parquet",
    partition_cols: tuple[str, ...] = (),
    mode: str = "overwrite",
    **options: str,
) -> None:
    """Format-parameterized columnar sink (``parquet`` or ``orc``) with
    optional hive partitioning. ORC is the interchange format for
    Hive/Trino-resident warehouses; both formats keep column pruning,
    min/max skipping, and predicate pushdown, so the engine's scan-side
    guarantees (PLANS.md pushdown column) are format-independent."""
    if fmt not in ("parquet", "orc"):
        raise ValueError(f"unsupported columnar format {fmt!r}")
    w = df.write.mode(mode).options(**options)
    if partition_cols:
        w = w.partitionBy(*partition_cols)
    w.format(fmt).save(dest)


def read_columnar(spark, src: str, fmt: str = "parquet") -> DataFrame:
    if fmt not in ("parquet", "orc"):
        raise ValueError(f"unsupported columnar format {fmt!r}")
    return spark.read.format(fmt).load(src)
