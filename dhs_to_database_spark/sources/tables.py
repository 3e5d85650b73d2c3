"""Loaders for the driver-provided parquet corpus (TESTDATA.md).

Tables: region nation customer supplier part orders lineitem events
documents embeddings — one parquet file per table under a scale-factor dir.

These correspond to the reference's query surface stand-ins (SURVEY.md §5):
the TPC-H-ish star schema plays the role of the multi-level survey joins
(README.md:88-129 in the reference), ``documents``/``embeddings``/``events``
back the §2.D extension operators.
"""

from __future__ import annotations

import os
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructType, TimestampNTZType

TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Small dimensions that should always be broadcast in joins.
BROADCAST_TABLES = {"region", "nation", "supplier"}

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def read_events(
    spark: SparkSession,
    path: str,
    load: Callable[[StructType], DataFrame] | None = None,
) -> DataFrame:
    """The events table at ``path`` with ``ts`` as the session-UTC
    microsecond TimestampType (event-time watermarks need it, and the
    DuckDB oracle sees the same values).

    The corpus has shipped ``ts`` as TIMESTAMP(NANOS), which Spark maps
    only to a nanos-epoch long via the legacy conf set here, and as
    TIMESTAMP(MICROS, isAdjustedToUTC=false), which surfaces as
    TimestampNTZ. ``load(schema)`` replaces the batch read with another
    reader over the same files (the streaming source passes its own); the
    footer schema always comes from a batch read.
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    batch = spark.read.parquet(path)
    df = batch if load is None else load(batch.schema)
    ts_type = batch.schema["ts"].dataType
    if isinstance(ts_type, LongType):
        # integer division — ts/1000 via double would lose ulps at 1e18
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
    elif isinstance(ts_type, TimestampNTZType):
        # value-preserving under the UTC session timezone (session.py)
        df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLE_NAMES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLE_NAMES}")
    if name == "events":
        return read_events(spark, f"{sf_dir}/{name}.parquet")
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every table as a temp view so ``spark.sql`` can be used."""
    for name in TABLE_NAMES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
