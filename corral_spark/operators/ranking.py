"""Distributed exact global ranking (total-order row numbers at
scale) and exact equal-frequency binning on top of it.

Spark's ``row_number() OVER (ORDER BY ...)`` with no PARTITION BY
collapses the whole table into ONE window task — correct, and dead at
100 TB. The scalable construction is the classic two-pass rank:

  1. range-partition by the order key (repartitionByRange: one
     sampling pass for boundaries + one exchange — partition i's rows
     all precede partition i+1's),
  2. count rows per partition (a partitions-sized aggregate,
     collected driver-side — bounded by the partition count, same
     contract as the CDC sink's bucket list),
  3. row_number WITHIN each partition (no further shuffle — the
     window partitions by spark_partition_id over data already
     clustered by it) plus the partition's cumulative offset looked
     up from a literal array.

The resulting rank is fully deterministic whenever the order columns
form a UNIQUE key (callers append a tiebreak id): range boundaries
only decide WHERE a row sits, never its global rank, since offsets
are exact counts and the within-partition order is total.

No reference analog (bcongdon/corral has no ranking surface); the
oracle replays rank-derived results with native window functions —
an independent formulation, so a gate match validates the two-pass
construction against the spec.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def global_row_number(
    df: DataFrame,
    order_cols: list[str],
    rank_col: str = "rank",
    num_partitions: int | None = None,
) -> DataFrame:
    """Append ``rank_col``: the exact 1-based global row number under
    ORDER BY ``order_cols`` — distributed (no single-task global
    window). ``order_cols`` MUST be a unique key of ``df`` (append a
    tiebreak column if needed); uniqueness is what makes the rank
    deterministic and run-stable.

    NULL placement is Spark's ASC default — **NULLS FIRST** — and it
    is consistent across both passes by construction: NULL order keys
    sort into the lowest range partition (repartitionByRange uses the
    same ascending null ordering) and the within-partition window
    ranks them first. Oracles replaying a rank derived from this
    function must therefore say ``ORDER BY ... NULLS FIRST`` (DuckDB
    ASC defaults to NULLS LAST — the NULL-campaign class-1
    divergence).
    """
    from corral_spark.materialize import materialize

    n_part = num_partitions or df.sparkSession.sparkContext.defaultParallelism
    # MATERIALIZED before anything reads it: the size pass and the
    # rank pass must see the SAME physical partitioning. Without the
    # barrier each pass re-executes repartitionByRange, whose sampled
    # boundaries are not guaranteed identical across jobs (AQE can
    # even change the upstream layout between them) — offsets then
    # belong to different partitions than the ranks and the result is
    # silently wrong (caught at sf0.1: an 11th NTILE bucket).
    ranged = materialize(
        df.repartitionByRange(n_part, *order_cols).withColumn(
            "__pid", F.spark_partition_id()
        ),
        eager=True,
    )
    # Partition sizes: a partitions-sized aggregate; the collect is
    # bounded by num_partitions (driver-side by design, like
    # zonemap_report — an O(partitions) control structure, not data).
    sizes = {
        r["__pid"]: r["n"]
        for r in ranged.groupBy("__pid")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    offsets = []
    acc = 0
    for pid in range(max(sizes) + 1 if sizes else 0):
        offsets.append(acc)
        acc += sizes.get(pid, 0)
    if not offsets:
        return df.withColumn(rank_col, F.lit(1).cast("long")).limit(0)
    lut = F.array(*[F.lit(o) for o in offsets])
    w = Window.partitionBy("__pid").orderBy(*order_cols)
    return (
        ranged.withColumn(
            rank_col,
            (
                F.row_number().over(w).cast("long")
                + F.element_at(lut, F.col("__pid") + 1).cast("long")
            ),
        )
        .drop("__pid")
    )


def ntile_bucket(rank: Column, n_rows: int, k: int) -> Column:
    """SQL-standard NTILE(k) bucket for a 1-based ``rank`` over
    ``n_rows`` total rows, as a plain expression: the first
    n_rows % k buckets get ceil(n/k) rows, the rest floor(n/k) —
    bit-identical to the window function, but computable from the
    distributed rank without a global window."""
    if k <= 0:
        raise ValueError("k must be positive")
    n_big = n_rows % k
    size_big = n_rows // k + 1
    size_small = max(n_rows // k, 1)
    big_span = n_big * size_big

    def _idiv(a: Column, b: int) -> Column:
        # EXACT integer division as (a - a % b) / b: a % b is exact on
        # longs and the remaining quotient is an integer, so the one
        # double division is correctly rounded to it exactly
        # (quotients here are bucket indexes < 2^53 — safe at any
        # table size that fits in a BIGINT row count). A plain
        # (a / b) float-divide-then-truncate rounds UP across bucket
        # boundaries once buckets exceed ~2^52 / rank ulps — wrong
        # buckets precisely at 100 TB row counts.
        return ((a - a % F.lit(b)) / F.lit(b)).cast("long")

    a_big = rank - 1
    a_small = rank - 1 - F.lit(big_span)
    return (
        F.when(
            (rank < 1) | (rank > F.lit(n_rows)),
            # Invariant breach (a rank outside [1, n] means the
            # caller's rank construction lost rows or double-counted
            # — e.g. a partitioning misalignment): fail loudly
            # in-plan rather than emit a phantom bucket.
            F.raise_error(
                F.concat(
                    F.lit("ntile_bucket: rank out of [1, "),
                    F.lit(str(n_rows)),
                    F.lit("]: "),
                    rank.cast("string"),
                )
            ).cast("long"),
        )
        .when(rank <= F.lit(big_span), _idiv(a_big, size_big))
        .otherwise(F.lit(n_big) + _idiv(a_small, size_small))
        + F.lit(1)
    ).cast("int")


def with_exclusive_prefix_sum(
    df: DataFrame,
    order_cols: list[str],
    value_col: str,
    out_col: str,
    num_partitions: int | None = None,
) -> DataFrame:
    """Append ``out_col``: the EXCLUSIVE prefix sum of ``value_col``
    (as BIGINT) under ORDER BY ``order_cols`` — distributed (no
    single-task global window). A prefix sum is an associative scan,
    so it runs as the same two-pass construction as
    ``global_row_number``: range partition (materialized once — the
    cross-job boundary rule), per-partition totals prefix-combined
    driver-side (partitions-sized control data), then each row adds
    its partition's within-partition running sum to the
    prior-partitions offset. ``order_cols`` MUST be a unique key of
    ``df`` for the result to be deterministic.

    ``value_col`` MUST be an integral type, or a scale-0 decimal
    with precision <= 18 — both accumulate in BIGINT exactly; a
    per-row cast of a fractional type would truncate each value
    before summing (review advice). Pre-scale fractional
    weights to integers (e.g. cents) before calling.
    """
    from pyspark.sql.types import (
        ByteType,
        DecimalType,
        IntegerType,
        LongType,
        ShortType,
    )

    from corral_spark.materialize import materialize

    vt = df.schema[value_col].dataType
    # Scale-0 decimals are exact integers and accumulate in BIGINT
    # without truncation (review advice): accept them when they
    # provably fit a long (precision <= 18), via the same
    # cast("long") both sum sites already apply.
    dec_ok = (
        isinstance(vt, DecimalType) and vt.scale == 0 and vt.precision <= 18
    )
    if not (
        isinstance(vt, (ByteType, ShortType, IntegerType, LongType))
        or dec_ok
    ):
        raise TypeError(
            f"with_exclusive_prefix_sum: value_col {value_col!r} has "
            f"non-integral type {vt.simpleString()}; exact BIGINT "
            "accumulation requires an integral column (or a scale-0 "
            "decimal with precision <= 18) — pre-scale fractional "
            "weights (e.g. to cents) before calling"
        )

    n_part = num_partitions or df.sparkSession.sparkContext.defaultParallelism
    ranged = materialize(
        df.repartitionByRange(n_part, *order_cols).withColumn(
            "__pid", F.spark_partition_id()
        ),
        eager=True,
    )
    totals = {
        r["__pid"]: r["s"]
        for r in ranged.groupBy("__pid")
        .agg(F.sum(F.col(value_col).cast("long")).alias("s"))
        .collect()
    }
    if not totals:
        return df.withColumn(out_col, F.lit(0).cast("long")).limit(0)
    offsets = []
    acc = 0
    for pid in range(max(totals) + 1):
        offsets.append(acc)
        acc += totals.get(pid) or 0
    lut = F.array(*[F.lit(o) for o in offsets])
    w = Window.partitionBy("__pid").orderBy(*order_cols).rowsBetween(
        Window.unboundedPreceding, -1
    )
    local = F.coalesce(
        F.sum(F.col(value_col).cast("long")).over(w), F.lit(0)
    )
    return ranged.withColumn(
        out_col,
        (local + F.element_at(lut, F.col("__pid") + 1)).cast("long"),
    ).drop("__pid")
