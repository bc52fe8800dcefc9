"""Skyline (Pareto-frontier) operator.

The skyline of a set under (minimize x, maximize y) is every row not
DOMINATED by another — no other row is at-least-as-good on both
dimensions and strictly better on one. The textbook formulation is a
quadratic NOT EXISTS self-join (a theta/nested-loop join that dies at
scale); the 2-D case collapses to a SORT + RUNNING MAX: after
ordering by x ascending, a row is on the skyline iff its y strictly
exceeds every strictly-cheaper row's y (running max over the prefix)
and no same-x row has a larger y. That makes the whole operator one
aggregation over the DISTINCT x values, a DISTRIBUTED prefix max over
them, and one equi-join back — no cartesian anywhere (plan-pinned),
which is what lets it run on a 100 TB fact table where the NOT EXISTS
plan cannot.

The running max itself is distributed: a prefix max is an associative
scan, so it runs as the classic two-pass — range-partition the
distinct x values, take each partition's max, prefix-combine the
(partitions-sized) maxima driver-side, and give every row
greatest(its partition's local running max, everything-before-my-
partition) — no single-task global window even when the distinct-x
domain is billions (same construction, and the same cross-job
materialize barrier, as ranking.global_row_number).

No reference analog (bcongdon/corral is a MapReduce framework with no
analytic operator surface); extends SURVEY §2.3's native-gap family.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from corral_spark.materialize import materialize


def skyline_min_max(
    df: DataFrame, min_col: str, max_col: str
) -> DataFrame:
    """Rows on the Pareto frontier under (minimize ``min_col``,
    maximize ``max_col``). Ties kept: two rows with identical (x, y)
    do not dominate each other, so both survive.

    Both dimension columns must be non-NULL: a row with a NULL
    dimension raises in-plan (review advice — the equi-join back
    would silently drop it while the NOT-EXISTS spec keeps it).

    Derivation (2-D sort-based skyline): row p survives iff
      (a) p.y == max(y | x == p.x)   — no same-price row strictly
          taller, and
      (b) p.y >  max(y | x <  p.x)   — no strictly-cheaper row at
          least as tall (that row would dominate p).
    (a)+(b) computed as a per-x max plus a distributed prefix max
    over the ordered distinct-x frame, then one equi-join back on
    (x, y).
    """
    y = F.col(max_col)
    # NULL dimensions RAISE in-plan (house rule for exact operators):
    # the (x, y) equi-join back would silently drop NULL-keyed rows,
    # while the NOT-EXISTS spec keeps them (every dominance
    # comparison against NULL is not-true) — a silent divergence.
    # The guard is the group key itself, so Catalyst cannot prune it
    # and it evaluates for every input row.
    x_checked = F.when(
        F.col(min_col).isNull() | y.isNull(),
        F.raise_error(
            F.lit(
                f"skyline_min_max: NULL in dimension column "
                f"({min_col!r}, {max_col!r}); filter or impute "
                "NULL-dimension rows before calling — NULL never "
                "participates in the frontier equi-join"
            )
        ).cast(df.schema[min_col].dataType),
    ).otherwise(F.col(min_col))
    per_x = df.groupBy(x_checked.alias(min_col)).agg(
        F.max(y).alias("__ymax")
    )
    spark = df.sparkSession
    n_part = spark.sparkContext.defaultParallelism
    # MATERIALIZED before anything reads it: the partition-maxima
    # pass and the final filter must observe the SAME physical range
    # partitioning (repartitionByRange re-samples boundaries per
    # job — the global_row_number lesson, SCALE.md).
    ranged = materialize(
        per_x.repartitionByRange(n_part, min_col).withColumn(
            "__pid", F.spark_partition_id()
        ),
        eager=True,
    )
    # Partition maxima: a partitions-sized collect (control data, not
    # rows); prefix-combine driver-side so partition i sees the max
    # of everything in partitions < i.
    pmax = {
        r["__pid"]: r["m"]
        for r in ranged.groupBy("__pid")
        .agg(F.max("__ymax").alias("m"))
        .collect()
    }
    if not pmax:
        return df.limit(0)
    y_type = per_x.schema["__ymax"].dataType
    prefix = []
    best = None
    for pid in range(max(pmax) + 1):
        prefix.append(best)
        cur = pmax.get(pid)
        if cur is not None and (best is None or cur > best):
            best = cur
    lut = F.array(
        *[F.lit(p).cast(y_type) for p in prefix]
    )
    w = Window.partitionBy("__pid").orderBy(min_col).rowsBetween(
        Window.unboundedPreceding, -1
    )
    local_prev = F.max("__ymax").over(w)
    global_prev = F.element_at(lut, F.col("__pid") + 1)
    prev = F.greatest(
        F.coalesce(local_prev, global_prev),
        F.coalesce(global_prev, local_prev),
    )
    frontier_x = ranged.withColumn("__prev", prev).filter(
        F.col("__prev").isNull() | (F.col("__ymax") > F.col("__prev"))
    )
    # Equi-join back on (x, ymax): exactly the surviving rows, dup
    # (x, y) rows included. Values compare on the engine's own
    # storage representation (no arithmetic), so the join is exact
    # even for double-typed dimensions. The frontier is broadcast —
    # it is at most one row per distinct skyline x.
    return df.join(
        F.broadcast(
            frontier_x.select(
                min_col, F.col("__ymax").alias(max_col)
            )
        ),
        [min_col, max_col],
    )
