"""Time-series bucketing, gap filling, and carry-forward interpolation
(hypertable-rollup-style operators; gap coverage per SURVEY §2.3 — the
reference's only time handling is string-prefix grouping in
examples amplab3.go:46-52).

Scale notes: ``time_bucket`` is a pure projection (codegen'd, no
shuffle). ``gapfill_locf`` shuffles once on the series key to build
the dense bucket spine (sequence+explode — spine size is
keys x buckets, generated, never read), then one window per key
ordered by bucket for the carry-forward; both stages partition by the
series key, so the shuffle is reused and skew follows the key
distribution, not the data volume.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def time_bucket(col: Column | str, width_seconds: int) -> Column:
    """Truncate an epoch-seconds column to its bucket start.

    floor division, not cast-truncation: casting truncates toward
    zero, which would collapse pre-1970 values in (-width, 0) into
    bucket 0 and shift every other negative epoch one bucket high.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.floor(c.cast("bigint") / width_seconds).cast(
        "bigint"
    ) * width_seconds


def event_micros(df: DataFrame, col: str) -> Column:
    """Exact integer microsecond position of an event-time column
    under BOTH halves of the event-time contract (SCALE.md):
    TIMESTAMP_NTZ (the batch wall clock) via
    timestampdiff against the NTZ epoch — pure wall arithmetic,
    host-TZ-independent; TIMESTAMP (streaming instants) via
    unix_micros. Callers must only rely on DIFFERENCES and ORDERING
    of these values (frame bounds, interval deltas, sort keys),
    which are identical under either mapping — the absolute origin
    differs between the two halves by the wall-vs-instant offset."""
    from pyspark.sql.types import TimestampNTZType

    if isinstance(df.schema[col].dataType, TimestampNTZType):
        return F.expr(
            "timestampdiff(MICROSECOND,"
            f" TIMESTAMP_NTZ '1970-01-01 00:00:00', {col})"
        )
    return F.unix_micros(F.col(col))


def gapfill_locf(
    observed: DataFrame,
    key_col: str,
    bucket_col: str,
    value_cols: list[str],
    bucket_width: int,
    lo: int | None = None,
    hi: int | None = None,
    max_buckets: int = 10_000_000,
) -> DataFrame:
    """Densify a per-key bucket series and fill missing buckets with
    the last observed value (LOCF).

    ``observed`` has one row per (key, bucket) with ``value_cols``
    measured; buckets are epoch-seconds bucket starts. The spine spans
    [lo, hi] (defaults: global min/max of ``bucket_col``) for EVERY
    key, so downstream consumers see aligned dense series. Buckets
    before a key's first observation stay NULL (nothing to carry).

    Output: (key, bucket, *value_cols) dense, one row per key x bucket.
    """
    if lo is None or hi is None:
        bounds = observed.agg(
            F.min(bucket_col).alias("lo"), F.max(bucket_col).alias("hi")
        ).first()
        if bounds["lo"] is None:
            # No observations at all: an empty dense series (there is
            # no spine to generate), with the input's schema projected.
            return observed.select(key_col, bucket_col, *value_cols).limit(0)
        lo = int(bounds["lo"]) if lo is None else lo
        hi = int(bounds["hi"]) if hi is None else hi

    # Loud spine-size guard (extreme-value campaign): ONE corrupt
    # bucket value (a year-2199 timestamp in a 1-week series) makes
    # the dense spine explode to billions of rows PER KEY — at
    # 100 TB that is an outage, not a result. Raising beats silently
    # materializing it; callers with genuinely huge domains pass
    # max_buckets explicitly (the skyline/sampler loud-contract
    # pattern).
    n_buckets = (hi - lo) // bucket_width + 1
    if n_buckets > max_buckets:
        raise ValueError(
            f"gapfill_locf: spine spans {n_buckets} buckets "
            f"(> max_buckets={max_buckets}) — bucket range "
            f"[{lo}, {hi}] looks corrupt; filter the bucket domain "
            "or raise max_buckets explicitly"
        )

    keys = observed.select(key_col).distinct()
    spine = keys.select(
        key_col,
        F.explode(
            F.sequence(F.lit(lo), F.lit(hi), F.lit(bucket_width))
        ).alias(bucket_col),
    )
    dense = spine.join(observed, on=[key_col, bucket_col], how="left")
    w = (
        Window.partitionBy(key_col)
        .orderBy(bucket_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    filled = dense.select(
        key_col,
        bucket_col,
        *[
            F.last(F.col(v), ignorenulls=True).over(w).alias(v)
            for v in value_cols
        ],
    )
    return filled


def rolling_range_agg(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    window_seconds: int,
) -> DataFrame:
    """Per-row trailing-window aggregates: for every event, the count
    and sum of ``value_col`` over the same key's events in the
    preceding ``window_seconds`` (inclusive of the current row and of
    equal-timestamp peers — RANGE frame semantics, so the result is
    set-determined even when timestamps tie).

    One shuffle, partitioned by the series key and ordered by event
    time in **microseconds** (``unix_micros`` — exact integers, so the
    frame boundary is bit-identical across engines; a fractional
    epoch-seconds ordering would anchor frames on a float). At scale
    the state per key is bounded by the window span, and skew follows
    the key distribution — the same profile as any sessionization
    window.

    Output: input columns plus ``n_win`` and ``sum_win`` (sum rounded
    to 2dp per the registry's float convention).

    The window sum runs in exact DECIMAL (functions.det.dec), not raw
    doubles: at extreme magnitudes (one 1e15 value among cents — the
    extreme-value campaign's planted case) a double accumulation is
    order-dependent in its last bits, and window frames re-add values
    in engine-specific orders. The decimal sum is order-free; both
    engines then perform the identical single double rounding.
    """
    from corral_spark.functions.det import dec

    us = event_micros(df, ts_col)
    w = (
        Window.partitionBy(key_col)
        .orderBy(us)
        .rangeBetween(-window_seconds * 1_000_000, 0)
    )
    return df.select(
        "*",
        F.count(F.lit(1)).over(w).alias("n_win"),
        F.round(F.sum(dec(value_col)).over(w).cast("double"), 2).alias(
            "sum_win"
        ),
    )


def ewma_by_key(
    df: DataFrame,
    key_cols: tuple,
    order_cols: tuple,
    value_col: str,
    alpha: float,
) -> DataFrame:
    """Exponentially-weighted moving average per key: the left fold
    ewma_1 = x_1, ewma_t = alpha * x_t + (1 - alpha) * ewma_{t-1}
    over values ordered by ``order_cols``. Returns (key_cols..., n,
    ewma) with the full-sequence terminal EWMA — the standard
    last-state smoothing for per-entity metrics (latency trend, spend
    velocity).

    A recurrence is inherently sequential per key — there is no
    partial-agg form — so the per-key sequence is gathered with ONE
    sort_array(collect_list(struct(order, value))) per key: state is
    bounded by events-per-key (document the bound at the call site;
    for unbounded keys use windowed aggregation instead). The fold
    itself is array_aggregate over the collected array — JVM
    whole-stage codegen, no Python.

    Determinism contract: ``order_cols`` must be a per-key unique
    ordering (ties would make sort_array order — and thus the fold —
    ambiguous). Each step is (alpha * x) + ((1-alpha) * acc) in that
    association, identical IEEE doubles in any engine, so a DuckDB
    list_reduce replays the terminal EWMA bit-exactly."""
    order_struct = F.struct(
        *[F.col(c) for c in order_cols], F.col(value_col).alias("__v")
    )
    # Stage the sorted value array as a column before the fold: the
    # fold references it three times (slice, size, init), and an
    # expression-tree reference would re-sort the array per use.
    agged = df.groupBy(*key_cols).agg(
        F.count(F.lit(1)).alias("n"),
        F.transform(
            F.sort_array(F.collect_list(order_struct)),
            lambda s: s["__v"].cast("double"),
        ).alias("__vals"),
    )
    vals = F.col("__vals")
    ewma = F.aggregate(
        F.slice(vals, 2, F.greatest(F.size(vals) - 1, F.lit(0))),
        F.element_at(vals, 1),
        lambda acc, x: F.lit(float(alpha)) * x
        + F.lit(1.0 - float(alpha)) * acc,
    )
    return agged.select(*key_cols, "n", ewma.alias("ewma"))


def scd2_intervals(
    df: DataFrame,
    key_cols: tuple,
    ts_col: str,
    attr_cols: tuple,
    order_cols: tuple = (),
    collapse_unchanged: bool = True,
) -> DataFrame:
    """Build a slowly-changing-dimension (SCD type 2) history from a
    change-event stream: per key, each surviving event opens a
    version valid over [ts, next surviving event's ts), the last
    version staying open (valid_to NULL, is_current true). With
    ``collapse_unchanged`` (the standard form), events whose
    ``attr_cols`` all null-safe-equal the previous event's collapse
    away first, so versions describe STATE CHANGES, not event
    arrivals.

    Determinism: rows order by (ts_col, *order_cols) per key — pass
    a tiebreaker (an event id) whenever timestamps can collide, or
    the lag/lead pair is ambiguous. One shuffle on the key; the two
    window passes (change detection, then lead over survivors) sort
    within the same partitioning. Output: key_cols + attr_cols +
    (valid_from, valid_to, is_current)."""
    from pyspark.sql.window import Window

    ordering = [F.col(ts_col)] + [F.col(c) for c in order_cols]
    w = Window.partitionBy(*key_cols).orderBy(*ordering)
    out = df
    if collapse_unchanged:
        keep = F.lit(False)
        for a in attr_cols:
            keep = keep | ~F.col(a).eqNullSafe(F.lag(a).over(w))
        keep = keep | (F.row_number().over(w) == 1)
        out = out.withColumn("__keep", keep).filter("__keep").drop("__keep")
    w2 = Window.partitionBy(*key_cols).orderBy(*ordering)
    return out.select(
        *key_cols,
        *attr_cols,
        F.col(ts_col).alias("valid_from"),
        F.lead(ts_col).over(w2).alias("valid_to"),
        F.lead(ts_col).over(w2).isNull().alias("is_current"),
    )


def scd2_lookup(
    facts: DataFrame,
    dim: DataFrame,
    key_cols: tuple,
    fact_ts_col: str,
    how: str = "left",
) -> DataFrame:
    """Time-travel join: attach to each fact row the dimension version
    valid AT the fact's timestamp (valid_from <= ts < valid_to, open
    versions unbounded). The join is an EQUI-join on the key with the
    interval test as a residual condition — versions-per-key is a
    small constant, so the pair blow-up is bounded and no nested loop
    appears at any scale. Facts with no valid version keep NULL
    dimension columns under ``how='left'`` (early facts before the
    first change event — report them, don't drop them). The joined
    frame keeps BOTH sides' key columns; select them through the
    original ``facts``/``dim`` references (or rename beforehand) when
    the key itself is needed downstream."""
    cond = None
    for k in key_cols:
        c = facts[k] == dim[k]
        cond = c if cond is None else cond & c
    cond = (
        cond
        & (dim["valid_from"] <= facts[fact_ts_col])
        & (dim["valid_to"].isNull() | (facts[fact_ts_col] < dim["valid_to"]))
    )
    return facts.join(dim, cond, how)
