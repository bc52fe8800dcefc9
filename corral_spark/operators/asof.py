"""As-of (point-in-time) join — an operator Spark lacks natively
(SURVEY §2.3 join-variant gaps; no reference analog).

``asof_join`` matches each left row with the most recent right row at
or before it (per key), via the union-and-window technique:

    union(tag left/right) -> one shuffle on the key
    -> sort by (ts, right-before-left) within partitions
    -> last(right_payload, ignorenulls) running window
    -> keep left rows

One shuffle + one sort, no range explosion, no per-key Python — this
is the 100 TB-scalable shape (a broadcast range join or merge_asof in
applyInPandas both degrade: the former quadratically, the latter by
materializing each key group in pandas).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    by: str,
    right_cols: list[str] | None = None,
    suffix: str = "_right",
) -> DataFrame:
    """For each left row, attach the latest right row with
    ``right.on <= left.on`` and equal ``by`` key (backward as-of).

    Right payload columns come back suffixed; left rows with no prior
    right row keep nulls (left-outer as-of).

    NULL semantics are JOIN semantics, not window semantics: a right
    row with a NULL ``by`` key or NULL ``on`` timestamp matches
    nothing and is dropped at ingress. Without the filter the
    union-window implementation silently groups NULL keys together
    (partitionBy treats NULL as a value), so a NULL-keyed left row
    would "match" a NULL-keyed right row — diverging from the
    correlated-subquery spec every SQL engine implements (found by
    the NULL-injection campaign). Left rows always pass through:
    NULL-keyed or NULL-ts left rows simply match nothing.
    """
    right = right.filter(F.col(by).isNotNull() & F.col(on).isNotNull())
    right_cols = right_cols or [c for c in right.columns if c not in (on, by)]
    payload = F.struct(F.col(on).alias(on), *[F.col(c) for c in right_cols])

    rrow_type = right.select(payload.alias("p")).schema["p"].dataType
    lrow_type = left.select(F.struct(*left.columns).alias("l")).schema["l"].dataType

    l_tag = left.select(
        F.col(by),
        F.col(on).alias("__ts"),
        F.lit(1).alias("__is_left"),
        F.struct(*[F.col(c) for c in left.columns]).alias("__lrow"),
        F.lit(None).cast(rrow_type).alias("__rrow"),
    )
    r_tag = right.select(
        F.col(by),
        F.col(on).alias("__ts"),
        F.lit(0).alias("__is_left"),
        F.lit(None).cast(lrow_type).alias("__lrow"),
        payload.alias("__rrow"),
    )

    # Right rows sort before left rows at equal timestamps, so an
    # exactly-simultaneous right row matches (<= semantics). The
    # xxhash64 tiebreaker makes the pick among right rows that share
    # (by, ts) deterministic run-to-run (struct ordering would also
    # work but requires every payload type to be orderable).
    w = (
        Window.partitionBy(by)
        .orderBy(
            F.col("__ts").asc(),
            F.col("__is_left").asc(),
            F.xxhash64(F.col("__rrow")).asc(),
        )
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    matched = (
        l_tag.unionByName(r_tag)
        .withColumn("__match", F.last("__rrow", ignorenulls=True).over(w))
        .filter(F.col("__is_left") == 1)
    )
    out_cols = [F.col(f"__lrow.{c}").alias(c) for c in left.columns]
    out_cols += [
        F.col(f"__match.{c}").alias(f"{c}{suffix}") for c in [on, *right_cols]
    ]
    return matched.select(*out_cols)
