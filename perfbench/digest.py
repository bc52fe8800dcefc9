"""Order-independent one-row digest of a DataFrame's full contents.

``digest`` is the timed action of every registry query: it hashes
every output column of every row (with a null flag per column, so a
value moving between columns or turning NULL changes the hash), then
reduces to ``(columns, row count, exact decimal sum of row hashes)``.
Computing it forces the whole plan, and it is independent of row
order and partitioning.

``oracle_digest`` computes the same digest over the rows the query's
DuckDB oracle returns, loaded into Spark as a local relation with the
query's own schema, so a match means the query's rows equal the
oracle's rows (up to a 64-bit hash collision). Before the cast it
compares the int/float kind of every column, as the repo's oracle gate
does (``tests/oracle.dtype_kind_mismatch``): an int 5 and a float 5.0
are different results there, so they must not match here either.
"""

from __future__ import annotations

import os

import duckdb
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema


def digest(df: DataFrame) -> tuple:
    cols = sorted(df.columns)
    parts = [x for c in cols for x in (F.col(c).isNull(), F.col(c))]
    row = (
        df.select(F.xxhash64(*parts).alias("h"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("h").cast("decimal(38,0)")).alias("s"),
        )
        .collect()[0]
    )
    return tuple(cols), int(row["n"]), int(row["s"] or 0)


def oracle_table(sf_dir: str, sql: str) -> pa.Table:
    """Run ``sql`` in DuckDB over views of the parquet tables in
    ``sf_dir``; return the result as an Arrow table."""
    con = duckdb.connect()
    try:
        for f in sorted(os.listdir(sf_dir)):
            if f.endswith(".parquet"):
                path = os.path.join(sf_dir, f).replace("'", "''")
                con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM read_parquet('{path}')")
        return con.execute(sql).arrow()
    finally:
        con.close()


def _oracle_kind(col: pa.ChunkedArray) -> str | None:
    """int/float kind of an oracle column as the gate reads it
    (DuckDB ``fetchdf``: DECIMAL and HUGEINT become float64, and an
    integer column with NULLs becomes float64)."""
    t = col.type
    if pa.types.is_integer(t):
        return "float" if col.null_count else "int"
    if pa.types.is_floating(t) or pa.types.is_decimal(t):
        return "float"
    return None


def _spark_kind(dt: T.DataType, has_nulls: bool) -> str | None:
    """int/float kind of a Spark column as the gate reads it
    (``toPandas``: DECIMAL stays an object column, and an integer
    column with NULLs becomes float64)."""
    if isinstance(dt, T.IntegralType):
        return "float" if has_nulls else "int"
    if isinstance(dt, (T.FloatType, T.DoubleType)):
        return "float"
    return None


def oracle_digest(
    spark: SparkSession, sf_dir: str, sql: str, schema: T.StructType
) -> tuple:
    """Digest of the oracle's rows, cast to the query's own schema (a
    column set, int/float kind or type the cast rejects yields a
    non-matching digest). A Spark column matching the oracle's has the
    oracle's NULLs, so the oracle column stands in for its NULL count."""
    tbl = oracle_table(sf_dir, sql)
    pos = {n.lower(): i for i, n in enumerate(tbl.column_names)}
    names = [f.name for f in schema.fields]
    if sorted(pos) != sorted(n.lower() for n in names):
        return ("columns", tuple(sorted(pos)))
    tbl = tbl.select([pos[n.lower()] for n in names]).rename_columns(names)
    for f, col in zip(schema.fields, tbl.columns):
        o, s = _oracle_kind(col), _spark_kind(f.dataType, col.null_count > 0)
        if o and s and o != s:
            return ("kind", f.name, s, o)
    try:
        tbl = tbl.cast(to_arrow_schema(schema))
    except (pa.ArrowInvalid, pa.ArrowNotImplementedError) as e:
        return ("types", str(e))
    return digest(spark.createDataFrame(tbl))
