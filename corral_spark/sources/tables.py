"""Parquet table catalog for the driver-generated testdata.

Tables (TESTDATA.md): TPC-H-ish star schema + events/documents/
embeddings. One parquet file per table under ``{sf_dir}/{name}.parquet``.

Columnar parquet scans give predicate pushdown + column pruning for
free — the reference's row-at-a-time string model (reference
mapreduce.go:36-40, job.go:77-96) has neither; its "pushdown" is the
user writing the filter inside Map (reference amplab1.go:24-26).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

TABLES = (
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

#: Fixed-cardinality dimension tables (5 and 25 rows at every SF):
#: the only tables it is scale-safe to unconditionally broadcast.
#: customer/supplier/part grow linearly with SF — broadcasting those
#: is a runtime size decision (autoBroadcastJoinThreshold + AQE), not
#: a static declaration.
DIM_TABLES = frozenset({"region", "nation"})


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


#: Session confs that change what parquet schema inference returns for
#: the same file; part of the schema-cache key.
_INFERENCE_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
)

_schemas: dict[tuple, StructType] = {}


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` without a schema-inference job on
    repeat reads of the same single-file table.

    Inference reads the footer in a Spark job (~0.08 s per call on a
    4-core local session). A regular file's inferred schema is cached
    under its real path, inode, size and mtime plus the session confs
    that steer inference, and later reads pass it to
    ``spark.read.schema``. A file rewritten in place gets a new key.
    Directories are inferred on every read: a file inside can change
    without touching the directory's own stat."""
    if not os.path.isfile(path):
        return spark.read.parquet(path)
    st = os.stat(path)
    key = (
        os.path.realpath(path),
        st.st_ino,
        st.st_size,
        st.st_mtime_ns,
        tuple(spark.conf.get(k) for k in _INFERENCE_CONFS),
    )
    schema = _schemas.get(key)
    if schema is None:
        df = spark.read.parquet(path)
        _schemas[key] = df.schema
        return df
    return spark.read.schema(schema).parquet(path)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; known: {TABLES}")
    if name == "events":
        # The caller's session may be a vanilla one (the correctness
        # driver builds its own); set the runtime conf here so the
        # nanos timestamp scan works regardless of session origin.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = read_parquet(spark, table_path(sf_dir, name))
    if name == "events":
        # EVENT-TIME WALL-CLOCK CONTRACT (TZ-sensitivity probe,
        # SCALE.md): ``ts`` is TIMESTAMP_NTZ — a naive wall
        # clock — from load to render, so every window alignment,
        # truncation, and strftime-style rendering is HOST-TIMEZONE-
        # INDEPENDENT and matches what any wall-clock engine (incl.
        # the DuckDB oracle) computes. The driver's vanilla session
        # inherits the host TZ; instant-typed event time made hour
        # windows align to UTC epoch hours (= :45 local under a
        # +05:45 host) — the registry's only environment-sensitive
        # rows before this contract.
        from pyspark.sql import functions as F
        from pyspark.sql.types import LongType, TimestampNTZType

        dt = df.schema["ts"].dataType
        if isinstance(dt, LongType):
            # TIMESTAMP(NANOS) scanned as nanos-since-epoch
            # (nanosAsLong). Truncate to micros with integer DIV
            # (double division loses precision above 2^53 ns) and
            # build the NTZ wall clock TZ-INDEPENDENTLY via
            # timestampadd on an NTZ epoch base — timestamp_micros()
            # would produce an instant whose wall clock depends on
            # the session timezone.
            df = df.withColumn(
                "ts",
                F.expr(
                    "timestampadd(MICROSECOND, ts DIV 1000,"
                    " TIMESTAMP_NTZ '1970-01-01 00:00:00')"
                ),
            )
        elif isinstance(dt, TimestampNTZType):
            pass  # already the contract type
        else:
            # Instant-typed scan (isAdjustedToUTC parquet): take the
            # UTC wall clock — deterministic regardless of host TZ.
            df = df.withColumn(
                "ts",
                F.expr(
                    "CAST(convert_timezone('UTC', ts) AS TIMESTAMP_NTZ)"
                ),
            )
    return df


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in TABLES}


def register_temp_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every table as a temp view for spark.sql(...) access."""
    for name in TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
