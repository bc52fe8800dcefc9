"""Analytics queries over the TPC-H tables and the ``events`` stream:
table profiling and constraint checks, event interval joins, funnels
and sequences, time series (rolling frames, EWMA, SCD2 time travel,
seasonal anomalies), robust statistics and regression, incremental
view maintenance, clustered layout, and the graph / market-basket /
skyline families. The reference has none of these (bcongdon/corral is
a MapReduce framework with no sketch, graph, layout or IVM surface);
they extend SURVEY §2.3/§2.4's engine families. Every row is integer /
count algebra, exact decimal sums, or left-associated IEEE double
steps that DuckDB replays bit-exactly.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from corral_spark.functions.det import dec
from corral_spark.operators.graph import bfs_hops, pagerank_fixed_point
from corral_spark.operators.layout import zorder_key, zorder_key_sql
from corral_spark.operators.merge import apply_agg_delta, refresh_affected_groups
from corral_spark.operators.quality import mad_outlier_report
from corral_spark.operators.skyline import skyline_min_max
from corral_spark.operators.timeseries import rolling_range_agg
from corral_spark.queries.registry import register
from corral_spark.sources.tables import load_table


# ---------------------------------------------------------------------------
# Table profiling and constraint checks
# ---------------------------------------------------------------------------


@register(
    "dq_report",
    oracle="""
    SELECT 'lineitem_orphans' AS check_name,
           (SELECT COUNT(*) FROM lineitem
            WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_orderkey = l_orderkey)) AS n_bad
    UNION ALL
    SELECT 'orders_null_custkey',
           (SELECT COUNT(*) FROM orders WHERE o_custkey IS NULL)
    UNION ALL
    SELECT 'duplicate_orderkeys',
           (SELECT COUNT(*) FROM (SELECT o_orderkey FROM orders
                                  GROUP BY o_orderkey HAVING COUNT(*) > 1))
    UNION ALL
    SELECT 'customer_orphans',
           (SELECT COUNT(*) FROM orders
            WHERE NOT EXISTS (SELECT 1 FROM customer WHERE c_custkey = o_custkey))
    ORDER BY check_name
    """,
    tags=("quality", "extension"),
)
def dq_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Constraint report across tables: referential integrity (orphan
    lineitems/orders), null keys, duplicate primary keys — one row per
    check (operators.quality). The ingestion gate every 100 TB
    pipeline runs before training."""
    from corral_spark.operators.quality import duplicate_key_report, orphan_report

    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")

    checks = [
        ("lineitem_orphans", orphan_report(li, orders, "l_orderkey", "o_orderkey")),
        ("orders_null_custkey", orders.filter(F.col("o_custkey").isNull())),
        ("duplicate_orderkeys", duplicate_key_report(orders, ["o_orderkey"])),
        ("customer_orphans", orphan_report(orders, customer, "o_custkey", "c_custkey")),
    ]
    parts = [
        df.agg(F.count(F.lit(1)).alias("n_bad")).select(
            F.lit(name).alias("check_name"), "n_bad"
        )
        for name, df in checks
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionAll(p)
    return out.orderBy("check_name")


def _profile_oracle() -> str:
    """Per-column UNION ALL profile over orders, mirroring
    operators.quality.profile_table's type-aware stringification."""
    parts = []
    for col, fmt in (
        ("o_orderkey", "CAST({a} AS VARCHAR)"),
        ("o_custkey", "CAST({a} AS VARCHAR)"),
        ("o_orderstatus", "CAST({a} AS VARCHAR)"),
        ("o_totalprice", "CAST(CAST({a} AS DECIMAL(18,2)) AS VARCHAR)"),
        ("o_orderdate", "strftime({a}, '%Y-%m-%d %H:%M:%S')"),
        ("o_orderpriority", "CAST({a} AS VARCHAR)"),
    ):
        parts.append(
            f'SELECT \'{col}\' AS "column", COUNT(*) AS n_rows,'
            f" COUNT(*) - COUNT({col}) AS n_nulls,"
            f" CAST(COUNT(DISTINCT {col}) AS BIGINT) AS n_distinct,"
            f" {fmt.format(a=f'MIN({col})')} AS min_value,"
            f" {fmt.format(a=f'MAX({col})')} AS max_value"
            f" FROM orders"
        )
    return " UNION ALL ".join(parts) + ' ORDER BY "column"'


@register(
    "profile_orders",
    oracle=_profile_oracle(),
    tags=("quality", "profiling", "extension"),
)
def profile_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column profiler (operators.quality.profile_table): nulls,
    exact distinct count, and canonical-text min/max for every orders
    column in ONE aggregation pass — the first query a user runs
    against an unknown data drop. The oracle restates it as one
    UNION ALL branch per column; matching proves the type-aware
    stringification (decimal money, fixed-format timestamps) is
    cross-engine canonical."""
    from corral_spark.operators.quality import profile_table

    return profile_table(load_table(spark, sf_dir, "orders")).orderBy("column")


# ---------------------------------------------------------------------------
# Event joins, funnels and sequences
# ---------------------------------------------------------------------------


@register(
    "click_purchase_within_1h",
    oracle="""
    SELECT c.event_id AS click_id, p.event_id AS purchase_id,
           c.user_id,
           epoch_us(p.ts) - epoch_us(c.ts) AS delta_us
    FROM events c JOIN events p
      ON c.user_id = p.user_id
     AND c.event_type = 'click' AND p.event_type = 'purchase'
     AND p.ts >= c.ts AND p.ts < c.ts + INTERVAL 1 HOUR
    ORDER BY click_id, purchase_id
    """,
    tags=("interval-join", "events", "streaming", "gap"),
)
def click_purchase_within_1h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event interval self-join: every purchase within one hour after
    a click by the same user — the batch form of a stream-stream
    interval join (streaming.ops has the watermarked streaming form).
    The equi key (user_id) carries the shuffle; the time bound is a
    post-join filter, so this is one hash join, not a range scan.
    Delta emitted in integer micros (no timestamp affinity)."""
    from corral_spark.operators.timeseries import event_micros

    ev = load_table(spark, sf_dir, "events")
    ts_us = event_micros(ev, "ts")
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        "user_id",
        ts_us.alias("click_us"),
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        ts_us.alias("purchase_us"),
    )
    hour_us = 3600 * 1_000_000
    return (
        clicks.join(purchases, on="user_id")
        .filter(
            (F.col("purchase_us") >= F.col("click_us"))
            & (F.col("purchase_us") < F.col("click_us") + hour_us)
        )
        .select(
            "click_id",
            "purchase_id",
            "user_id",
            (F.col("purchase_us") - F.col("click_us")).alias("delta_us"),
        )
        .orderBy("click_id", "purchase_id")
    )


@register(
    "click_purchase_leftouter",
    oracle="""
    SELECT c.event_id AS click_id, p.event_id AS purchase_id,
           c.user_id,
           epoch_us(p.ts) - epoch_us(c.ts) AS delta_us
    FROM events c LEFT JOIN events p
      ON c.user_id = p.user_id
     AND p.event_type = 'purchase'
     AND p.ts >= c.ts AND p.ts < c.ts + INTERVAL 1 HOUR
    WHERE c.event_type = 'click'
    ORDER BY click_id, purchase_id
    """,
    tags=("interval-join", "outer-join", "events", "streaming", "gap"),
)
def click_purchase_leftouter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-outer interval join: every click, with its within-1h
    purchases OR one null-padded row if none — the EXACT batch form of
    the streaming outer join: this query calls
    streaming.ops.interval_join_stream(how='left_outer') on batch
    frames, so the oracle gates the one implementation the streaming
    path runs (where outer rows are emitted once the watermark proves
    no match can arrive).  The purchase-side time predicates live in
    the join condition, not a post-filter — pushing them below the
    outer join would silently turn it inner (a bug class an earlier
    review caught).  One hash join on the user_id equi key."""
    from corral_spark.streaming.ops import interval_join_stream

    ev = load_table(spark, sf_dir, "events")
    return interval_join_stream(
        ev.filter(F.col("event_type") == "click"),
        ev.filter(F.col("event_type") == "purchase"),
        within="1 hour",
        how="left_outer",
    ).orderBy("click_id", "purchase_id")


@register(
    "event_funnel_stages",
    oracle="""
    WITH v AS (
      SELECT user_id, MIN(ts) AS t1 FROM events
      WHERE event_type = 'view' GROUP BY user_id
    ),
    c AS (
      SELECT e.user_id, MIN(e.ts) AS t2
      FROM events e JOIN v ON e.user_id = v.user_id
      WHERE e.event_type = 'click' AND e.ts > v.t1
      GROUP BY e.user_id
    ),
    p AS (
      SELECT e.user_id, MIN(e.ts) AS t3
      FROM events e JOIN c ON e.user_id = c.user_id
      WHERE e.event_type = 'purchase' AND e.ts > c.t2
      GROUP BY e.user_id
    )
    SELECT 1 AS stage, 'view' AS step, COUNT(*) AS users FROM v
    UNION ALL
    SELECT 2 AS stage, 'click_after_view' AS step, COUNT(*) AS users FROM c
    UNION ALL
    SELECT 3 AS stage, 'purchase_after_click' AS step, COUNT(*) AS users FROM p
    ORDER BY stage
    """,
    tags=("events", "extension"),
)
def event_funnel_stages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered conversion funnel over the event stream: users who
    viewed, then clicked strictly after their first view, then
    purchased strictly after that first qualifying click — the
    min-timestamp stage-chaining form (each stage is one equi-join on
    user_id + partial-aggregated MIN, so the plan is three bounded
    shuffles on the same key, no window over the full stream). The
    micros-truncated timestamps compare identically in both engines,
    so stage populations are exact."""
    ev = load_table(spark, sf_dir, "events")
    v = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    c = (
        ev.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(F.col("ts") > F.col("t1"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(F.col("ts") > F.col("t2"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"))
    )
    stage = [
        v.agg(F.count(F.lit(1)).alias("users")).select(
            F.lit(1).alias("stage"), F.lit("view").alias("step"), "users"
        ),
        c.agg(F.count(F.lit(1)).alias("users")).select(
            F.lit(2).alias("stage"),
            F.lit("click_after_view").alias("step"),
            "users",
        ),
        p.agg(F.count(F.lit(1)).alias("users")).select(
            F.lit(3).alias("stage"),
            F.lit("purchase_after_click").alias("step"),
            "users",
        ),
    ]
    return stage[0].unionByName(stage[1]).unionByName(stage[2]).orderBy(
        "stage"
    )


@register(
    "event_transition_matrix",
    oracle="""
    WITH seq AS (
      SELECT event_type AS cur_event,
             lead(event_type) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
             ) AS next_event
      FROM events
      WHERE ts IS NOT NULL
    ),
    c AS (
      SELECT cur_event, next_event, COUNT(*) AS n
      FROM seq WHERE next_event IS NOT NULL
      GROUP BY cur_event, next_event
    )
    SELECT cur_event, next_event, n,
           CAST(n AS DOUBLE)
             / SUM(n) OVER (PARTITION BY cur_event) AS p
    FROM c
    ORDER BY cur_event, next_event
    """,
    tags=("sequence", "extension"),
)
def event_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over each user's
    time-ordered event stream: exact pair counts via one lead()
    window per user (ties broken by event_id — deterministic on both
    engines) and P(next | cur) as one UNROUNDED division over exact
    BIGINTs. The user-journey analysis primitive: which step follows
    which, at what probability. Cost shape: one shuffle on user_id
    for the lag window (sessions are user-local), one grouped count,
    one cur_event-partitioned sum — no joins, nothing driver-side."""
    # A non-timestamped event cannot be sequenced (same rule as the
    # event-time windows, NULL-campaign class 2) — filtered on
    # both sides so the lead() ordering never sees NULL ts.
    ev = load_table(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        F.col("event_type").alias("cur_event"),
        F.lead("event_type").over(w).alias("next_event"),
    ).filter(F.col("next_event").isNotNull())
    counts = seq.groupBy("cur_event", "next_event").agg(
        F.count(F.lit(1)).alias("n")
    )
    wt = Window.partitionBy("cur_event")
    return counts.select(
        "cur_event",
        "next_event",
        "n",
        (F.col("n").cast("double") / F.sum("n").over(wt)).alias("p"),
    ).orderBy("cur_event", "next_event")


# ---------------------------------------------------------------------------
# Time series
# ---------------------------------------------------------------------------


@register(
    "user_rolling_1h",
    oracle="""
    SELECT event_id, user_id,
           CAST(COUNT(*) OVER w AS BIGINT) AS n_win,
           round(CAST(SUM(TRY_CAST(value AS DECIMAL(12,2))) OVER w
                      AS DOUBLE), 2) AS sum_win
    FROM events
    WINDOW w AS (
      PARTITION BY user_id ORDER BY epoch_us(ts)
      RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
    ORDER BY event_id
    """,
    tags=("timeseries", "window", "events", "gap"),
)
def user_rolling_1h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing 1-hour per-user rollup (operators.timeseries.
    rolling_range_agg): for every event, the count and value-sum of
    that user's events in the preceding hour — RANGE frame over exact
    epoch-microseconds, so tied timestamps aggregate as peers and the
    result is set-determined."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts", "value"
    )
    return (
        rolling_range_agg(ev, "user_id", "ts", "value", 3600)
        .select("event_id", "user_id", "n_win", "sum_win")
        .orderBy("event_id")
    )


@register(
    "user_value_ewma",
    oracle="""
    WITH seq AS (
      SELECT user_id,
             list(CAST(value AS DOUBLE) ORDER BY ts, event_id) AS vs,
             COUNT(*) AS n
      FROM events WHERE value IS NOT NULL AND ts IS NOT NULL
      GROUP BY user_id
    )
    SELECT user_id, n,
           list_reduce(vs, (acc, x) ->
                 CAST(0.2 AS DOUBLE) * x + CAST(0.8 AS DOUBLE) * acc)
           AS ewma
    FROM seq ORDER BY user_id
    """,
    tags=("timeseries", "extension"),
)
def user_value_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Terminal EWMA (alpha=0.2) of each user's event values in
    (ts, event_id) order (timeseries.ewma_by_key): the sequential
    recurrence ewma_t = 0.2*x_t + 0.8*ewma_{t-1} folded JVM-side over
    one sort_array(collect_list(...)) per user — state bounded by
    events-per-user (~10 here; the docstring's per-key bound). Every
    fold step is the same (alpha*x) + ((1-alpha)*acc) IEEE
    association DuckDB's list_reduce computes, so the terminal value
    matches bit-exactly — and SHIPS UNROUNDED: the former
    ROUND(ewma, 6) was pure display sugar, and rounding an identical
    double is itself a divergence source once |ewma| is large enough
    that 6 dp exceeds the double's ULP (Spark BigDecimal HALF_UP vs
    DuckDB's multiply-round path disagreed on 7 extreme-twin values
    at |x|~1e13 while the RAW terminals were bit-identical on every
    key — the standing float rule's exact failure mode, SCALE.md)."""
    from corral_spark.operators.timeseries import ewma_by_key

    # ts IS NOT NULL: an EWMA step needs a position in the sequence —
    # the event-time convention (NULL-campaign class 2; without it
    # DuckDB's list(... ORDER BY ts) and Spark's sort_array disagree
    # on where a NULL-ts value folds in).
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull() & F.col("ts").isNotNull()
    )
    out = ewma_by_key(ev, ("user_id",), ("ts", "event_id"), "value", 0.2)
    return out.select("user_id", "n", "ewma").orderBy("user_id")


@register(
    "purchase_by_tier_scd2",
    oracle="""
    WITH sign AS (
      SELECT user_id, ts, event_id,
             CAST(FLOOR(value) AS BIGINT) % 3 AS tier
      FROM events WHERE event_type = 'signup' AND ts IS NOT NULL
    ),
    marked AS (
      SELECT *, (ROW_NUMBER() OVER w = 1
                 OR tier IS DISTINCT FROM LAG(tier) OVER w) AS keep
      FROM sign WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    dim AS (
      SELECT user_id, tier, ts AS valid_from, LEAD(ts) OVER w2 AS valid_to
      FROM (SELECT * FROM marked WHERE keep)
      WINDOW w2 AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    purch AS (
      SELECT user_id, ts, CAST(ROUND(value * 100, 0) AS BIGINT) AS cents
      FROM events WHERE event_type = 'purchase'
    ),
    j AS (
      SELECT d.tier, p.cents
      FROM purch p LEFT JOIN dim d
        ON d.user_id = p.user_id AND d.valid_from <= p.ts
       AND (d.valid_to IS NULL OR p.ts < d.valid_to)
    )
    SELECT tier, COUNT(*) AS n_purchases,
           CAST(SUM(cents) AS BIGINT) AS sum_cents
    FROM j GROUP BY tier ORDER BY tier NULLS FIRST
    """,
    tags=("temporal", "extension"),
)
def purchase_by_tier_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension (type 2) time travel
    (timeseries.scd2_intervals + scd2_lookup): signup events define a
    user's tier history (consecutive same-tier events collapse away,
    so versions are STATE CHANGES); each purchase then joins to the
    tier version valid AT ITS OWN TIMESTAMP — the as-was reporting
    semantics a warehouse needs (purchases before any signup keep a
    NULL tier rather than vanishing). The lookup is an equi-join on
    user_id with the interval test residual, versions-per-user a
    small constant. Window replay + interval join make the oracle
    exact."""
    from corral_spark.operators.timeseries import (
        scd2_intervals,
        scd2_lookup,
    )

    # A signup without a timestamp cannot OPEN a version (the
    # event-time convention, NULL-campaign class 5): under
    # Spark's NULLS FIRST it would become a phantom first version
    # with NULL valid_from, under DuckDB's NULLS LAST a phantom open
    # one — both wrong, and differently. NULL-ts purchases need no
    # filter: the interval test is NULL for them on both engines, so
    # they surface in the NULL-tier bucket like pre-signup purchases.
    ev = load_table(spark, sf_dir, "events")
    signups = ev.filter(
        (F.col("event_type") == "signup") & F.col("ts").isNotNull()
    ).select(
        "user_id",
        "ts",
        "event_id",
        (F.floor(F.col("value")).cast("long") % 3).alias("tier"),
    )
    dim = scd2_intervals(
        signups, ("user_id",), "ts", ("tier",), order_cols=("event_id",)
    ).drop("is_current")
    purch = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        "ts",
        F.round(F.col("value") * 100, 0).cast("long").alias("cents"),
    )
    j = scd2_lookup(purch, dim, ("user_id",), "ts")
    return (
        j.groupBy("tier")
        .agg(
            F.count(F.lit(1)).alias("n_purchases"),
            F.sum("cents").alias("sum_cents"),
        )
        .orderBy(F.col("tier").asc_nulls_first())
    )


@register(
    "event_hourly_anomalies",
    oracle="""
    WITH h AS (
      SELECT event_type, hour(ts) AS hr, value,
             CAST(SUM(TRY_CAST(value AS DECIMAL(12,2))) OVER (
                    PARTITION BY event_type, hour(ts)) AS DOUBLE)
               / COUNT(*) OVER (PARTITION BY event_type, hour(ts))
               AS avg_v
      FROM events
    )
    SELECT event_type, hr, COUNT(*) AS n_events,
           MIN(avg_v) AS avg_value,
           CAST(SUM(CASE WHEN value > 3 * avg_v THEN 1 ELSE 0 END)
                AS BIGINT) AS n_anomalies,
           CAST(SUM(CASE WHEN value > 3 * avg_v THEN 1 ELSE 0 END)
                AS DOUBLE) / COUNT(*) AS anomaly_rate
    FROM h
    GROUP BY event_type, hr
    ORDER BY event_type, hr
    """,
    tags=("quality", "timeseries", "extension"),
)
def event_hourly_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonality-aware anomaly screen: each event's value compared
    against ITS OWN (event_type, hour-of-day) baseline — the screen
    that doesn't flag nightly batch spikes as anomalies the way a
    global threshold does. The baseline is the exact decimal-sum
    average (functions.det pattern: one identical double division on
    both engines), the flag is value > 3x baseline (exact comparison
    of bit-identical doubles), and the report is per-cell counts and
    an unrounded single-division rate (exact quantities in, so the
    quotient is bit-identical cross-engine without rounding). One
    window shuffle on the (type, hour) cell, one
    grouped rollup — the whole screen is two exchanges regardless of
    input size, and the cell cardinality (types x 24) bounds every
    window partition."""
    ev = load_table(spark, sf_dir, "events")
    cell = ev.withColumn("hr", F.hour("ts"))
    w = Window.partitionBy("event_type", "hr")
    avg_v = F.sum(dec("value")).over(w).cast("double") / F.count(
        F.lit(1)
    ).over(w)
    # The flag mirrors the oracle's CASE ... ELSE 0: a NULL comparison
    # (NULL value, or a cell whose baseline is undefined because EVERY
    # value failed the money-domain cast) contributes 0, not NULL —
    # otherwise a fully-corrupted (type, hour) cell reports
    # n_anomalies NULL where the recompute spec says 0 (layered-
    # corruption find 2: a bare `.cast("int")` keeps the
    # three-valued NULL and SUM over an all-NULL cell is NULL).
    flagged = cell.withColumn("avg_v", avg_v).withColumn(
        "is_anom",
        F.when(F.col("value") > 3 * F.col("avg_v"), F.lit(1)).otherwise(
            F.lit(0)
        ),
    )
    return (
        flagged.groupBy("event_type", "hr")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("avg_v").alias("avg_value"),
            F.sum("is_anom").cast("bigint").alias("n_anomalies"),
            (F.sum("is_anom").cast("double") / F.count(F.lit(1))).alias(
                "anomaly_rate"
            ),
        )
        .orderBy("event_type", "hr")
    )


# ---------------------------------------------------------------------------
# Statistics and ranking
# ---------------------------------------------------------------------------


@register(
    "price_outliers_mad",
    oracle="""
    WITH base AS (
      SELECT l_returnflag AS flag,
             CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT) AS c
      FROM lineitem WHERE l_extendedprice IS NOT NULL
    ),
    med AS (
      SELECT flag, quantile_cont(c, 0.5) AS med_cents FROM base GROUP BY flag
    ),
    dev AS (
      SELECT b.flag, ABS(b.c - m.med_cents) AS d, m.med_cents
      FROM base b JOIN med m ON b.flag = m.flag
    ),
    mad AS (
      SELECT flag, quantile_cont(d, 0.5) AS mad_cents FROM dev GROUP BY flag
    )
    SELECT d.flag AS l_returnflag,
           MIN(d.med_cents) AS med_cents,
           MIN(a.mad_cents) AS mad_cents,
           COUNT(*) AS n,
           CAST(SUM(CASE WHEN d.d > 4.4478 * a.mad_cents
                         THEN 1 ELSE 0 END) AS BIGINT) AS outliers,
           ROUND(CAST(SUM(CASE WHEN d.d > 4.4478 * a.mad_cents
                              THEN 1 ELSE 0 END) AS DOUBLE)
                 / COUNT(*), 4) AS outlier_share
    FROM dev d JOIN mad a ON d.flag = a.flag
    GROUP BY d.flag ORDER BY l_returnflag
    """,
    tags=("quality", "extension"),
)
def price_outliers_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier report per return flag
    (quality.mad_outlier_report): median and MAD of l_extendedprice in
    integer cents, plus how many rows sit beyond median +/- 3
    sigma-equivalents (4.4478 * MAD) — the screen whose cutoffs the
    outliers themselves cannot drag, unlike mean/stddev. Cents
    scaling makes every interpolated median an exact multiple of 0.5
    in IEEE double, so the DuckDB oracle replays the whole report
    bit-exactly."""
    li = load_table(spark, sf_dir, "lineitem")
    return mad_outlier_report(
        li, "l_extendedprice", ("l_returnflag",)
    ).orderBy("l_returnflag")


@register(
    "qty_discount_linreg",
    oracle="""
    WITH s AS (
      -- Moments surfaced as exact-sum -> DOUBLE (one rounding of the
      -- same exact integer on both engines: DuckDB sums BIGINT into
      -- HUGEINT, Spark into DECIMAL(38,0)); every downstream cross
      -- term then runs in identical IEEE double arithmetic. BIGINT
      -- outputs overflowed at extreme-but-in-domain 2^31-scale
      -- features (r14 extreme campaign).
      SELECT l_returnflag,
             COUNT(*) AS n,
             CAST(SUM(x) AS DOUBLE) AS sx,
             CAST(SUM(y) AS DOUBLE) AS sy,
             CAST(SUM(x * x) AS DOUBLE) AS sxx,
             CAST(SUM(y * y) AS DOUBLE) AS syy,
             CAST(SUM(x * y) AS DOUBLE) AS sxy
      FROM (
        SELECT l_returnflag,
               CAST(ROUND(l_quantity, 0) AS BIGINT) AS x,
               CAST(ROUND(l_discount * 100, 0) AS BIGINT) AS y
        FROM lineitem
      )
      -- regression domain (r14 extreme campaign): a row enters the
      -- moments only with BOTH features present and |x|,|y| < 2^31,
      -- so every product fits BIGINT exactly on both engines
      WHERE x IS NOT NULL AND y IS NOT NULL
        AND ABS(x) < 2147483648 AND ABS(y) < 2147483648
      GROUP BY l_returnflag
    )
    SELECT l_returnflag, n, sx, sy, sxx, syy, sxy,
           ROUND((CAST(n AS DOUBLE) * sxy - sx * sy)
                 / (CAST(n AS DOUBLE) * sxx - sx * sx), 6) AS slope,
           ROUND((sy - ((CAST(n AS DOUBLE) * sxy - sx * sy)
                        / (CAST(n AS DOUBLE) * sxx - sx * sx)) * sx)
                 / CAST(n AS DOUBLE), 6) AS intercept,
           ROUND((CAST(n AS DOUBLE) * sxy - sx * sy)
                 / SQRT((CAST(n AS DOUBLE) * sxx - sx * sx)
                        * (CAST(n AS DOUBLE) * syy - sy * sy)), 6) AS corr
    FROM s ORDER BY l_returnflag
    """,
    tags=("stats", "extension"),
)
def qty_discount_linreg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed OLS + Pearson correlation of (quantity, discount)
    per return flag from MERGEABLE exact sufficient statistics: one
    partial-aggregated pass collects six integers per group (n, Sx,
    Sy, Sxx, Syy, Sxy — integer units make every sum exact and
    order-independent, unlike a raw double corr()/covar_samp() whose
    accumulation order varies run to run), then slope, intercept, and
    corr are a handful of identical IEEE operations both engines
    replay. The stats merge by addition, so a 100 TB regression is
    per-partition sums + one combine — the same composability
    contract as the histogram and HLL sketches. Domain + overflow
    contract: rows enter the moments only with both features
    present and |x|,|y| < 2^31 (so each product fits BIGINT
    exactly); the sums themselves accumulate in DECIMAL(38,0)/
    HUGEINT and surface as DOUBLE — exact to 2^53, one identical
    rounding beyond it on both engines — so no row count or feature
    magnitude inside the domain can overflow the statistics."""
    li = load_table(spark, sf_dir, "lineitem")
    base = li.select(
        "l_returnflag",
        F.round(F.col("l_quantity"), 0).cast("long").alias("x"),
        F.round(F.col("l_discount") * 100, 0).cast("long").alias("y"),
    ).filter(
        # The declared regression domain (extreme-value campaign): both
        # features present, |x|,|y| < 2^31 so x*x/x*y/y*y fit BIGINT
        # exactly — an out-of-domain corrupt row must not overflow
        # the moments (ANSI raise) or silently wrap (legacy).
        F.col("x").isNotNull()
        & F.col("y").isNotNull()
        & (F.abs("x") < F.lit(2_147_483_648))
        & (F.abs("y") < F.lit(2_147_483_648))
    )
    # Moments accumulate in DECIMAL(38,0) (each product fits BIGINT by
    # the domain filter; the SUM of products does not at extreme-but-
    # in-domain 2^31-scale features — extreme-value campaign) and
    # surface as DOUBLE: one rounding of the same exact integer on
    # both engines (DuckDB sums BIGINT into HUGEINT). All cross terms
    # below are then identical IEEE double expressions both engines
    # replay bit-for-bit.
    def _dsum(expr):
        return F.sum(expr.cast("decimal(38,0)")).cast("double")

    s = base.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        _dsum(F.col("x")).alias("sx"),
        _dsum(F.col("y")).alias("sy"),
        _dsum(F.col("x") * F.col("x")).alias("sxx"),
        _dsum(F.col("y") * F.col("y")).alias("syy"),
        _dsum(F.col("x") * F.col("y")).alias("sxy"),
    )
    nd = F.col("n").cast("double")
    num = nd * F.col("sxy") - F.col("sx") * F.col("sy")
    denx = nd * F.col("sxx") - F.col("sx") * F.col("sx")
    deny = nd * F.col("syy") - F.col("sy") * F.col("sy")
    slope = num / denx
    return s.select(
        "l_returnflag",
        "n",
        "sx",
        "sy",
        "sxx",
        "syy",
        "sxy",
        F.round(slope, 6).alias("slope"),
        F.round((F.col("sy") - slope * F.col("sx")) / nd, 6).alias(
            "intercept"
        ),
        F.round(num / F.sqrt(denx * deny), 6).alias("corr"),
    ).orderBy("l_returnflag")


@register(
    "part_price_bins",
    oracle="""
    WITH r AS (
      SELECT p_retailprice,
             NTILE(10) OVER (ORDER BY p_retailprice NULLS FIRST,
                             p_partkey) AS bin
      FROM part
    )
    SELECT bin, COUNT(*) AS n_parts,
           MIN(p_retailprice) AS price_lo,
           MAX(p_retailprice) AS price_hi
    FROM r GROUP BY bin ORDER BY bin
    """,
    tags=("ranking", "extension"),
)
def part_price_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact equal-frequency decile binning of p_retailprice — the ML
    feature-prep primitive — built on DISTRIBUTED exact ranking
    (operators.ranking.global_row_number: range partition + exact
    per-partition offsets + within-partition row_number) plus the
    closed-form NTILE bucket rule (ranking.ntile_bucket, exact
    integer division). A native NTILE window with no PARTITION BY
    collapses the table into one task — correct and dead at 100 TB;
    the two-pass rank keeps every stage distributed, and the oracle
    deliberately uses the native NTILE window, so a gate match proves
    the distributed construction equals the SQL-standard semantics
    (first n%k buckets take ceil(n/k) rows), ties broken by the
    unique (price, partkey) order on both sides."""
    from corral_spark.operators.ranking import (
        global_row_number,
        ntile_bucket,
    )

    part = load_table(spark, sf_dir, "part")
    n = part.count()
    ranked = global_row_number(
        part, ["p_retailprice", "p_partkey"], "rank"
    )
    return (
        ranked.withColumn("bin", ntile_bucket(F.col("rank"), n, 10))
        .groupBy("bin")
        .agg(
            F.count(F.lit(1)).alias("n_parts"),
            F.min("p_retailprice").alias("price_lo"),
            F.max("p_retailprice").alias("price_hi"),
        )
        .orderBy("bin")
    )


@register(
    "customer_cohort_retention",
    oracle="""
    WITH o AS (
      SELECT DISTINCT o_custkey,
             year(o_orderdate) * 12 + (month(o_orderdate) - 1) AS m
      FROM orders
    ),
    f AS (SELECT o_custkey, MIN(m) AS m0 FROM o GROUP BY o_custkey),
    a AS (
      SELECT f.m0, o.m - f.m0 AS month_offset
      FROM o JOIN f ON o.o_custkey = f.o_custkey
    ),
    r AS (
      SELECT m0, month_offset, COUNT(*) AS n_active
      FROM a GROUP BY m0, month_offset
    ),
    c AS (
      SELECT r.*,
             MAX(CASE WHEN month_offset = 0 THEN n_active END)
               OVER (PARTITION BY m0) AS cohort_n
      FROM r
    )
    SELECT printf('%04d-%02d', m0 // 12, m0 % 12 + 1) AS cohort_month,
           month_offset, n_active, cohort_n,
           CAST(n_active AS DOUBLE) / cohort_n AS retention
    FROM c
    ORDER BY cohort_month, month_offset
    """,
    tags=("cohort", "agg", "extension"),
)
def customer_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention matrix: customers grouped by the month of
    their FIRST order, tracked by distinct-active count at each
    month offset since, with retention as the share of the cohort
    still ordering — the classic activation/stickiness analysis.
    Month arithmetic runs on the integer month index
    (year*12 + month-1: no timestamp subtraction, no months_between
    floats), counts are exact, and the single ratio is one integer
    division of exact BIGINTs — bit-identical on both engines
    unrounded, so no rounding-mode boundary can flip the hash (the
    det.py rule: round only when accumulation-order noise exists).
    Cost shape: one distinct over
    (customer, month), one per-customer min (map-side combined), one
    equi-join back, one grouped count — all partitioned by customer
    or cohort key, nothing driver-side."""
    orders = load_table(spark, sf_dir, "orders")
    o = orders.select(
        "o_custkey",
        (F.year("o_orderdate") * 12 + (F.month("o_orderdate") - 1)).alias(
            "m"
        ),
    ).distinct()
    first = o.groupBy("o_custkey").agg(F.min("m").alias("m0"))
    act = o.join(first, "o_custkey").select(
        "m0", (F.col("m") - F.col("m0")).alias("month_offset")
    )
    ret = act.groupBy("m0", "month_offset").agg(
        F.count(F.lit(1)).alias("n_active")
    )
    w = Window.partitionBy("m0")
    ret = ret.withColumn(
        "cohort_n",
        F.max(F.when(F.col("month_offset") == 0, F.col("n_active"))).over(w),
    )
    return ret.select(
        F.format_string(
            "%04d-%02d",
            F.expr("m0 div 12").cast("int"),
            (F.col("m0") % 12 + 1).cast("int"),
        ).alias("cohort_month"),
        "month_offset",
        "n_active",
        "cohort_n",
        (F.col("n_active").cast("double") / F.col("cohort_n")).alias(
            "retention"
        ),
    ).orderBy("cohort_month", "month_offset")


# ---------------------------------------------------------------------------
# Incremental view maintenance
# ---------------------------------------------------------------------------


# Deterministic base/delta split used by both IVM rows: the "view"
# was built when the fact table held only rows with o_orderkey % 10
# <> 0; since then a CDC feed inserted the mod-0 rows and deleted the
# mod-1 rows, so the maintained view must equal a full recompute over
# o_orderkey % 10 <> 1. The split is pure arithmetic on the key, so
# the oracle rebuilds the SAME final state from the raw table.


@register(
    "orders_rollup_ivm",
    oracle="""
    SELECT o_orderstatus, o_orderpriority,
           COUNT(*) AS n_orders,
           CAST(SUM(TRY_CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE)
             AS sum_price
    FROM orders
    WHERE o_orderkey % 10 <> 1
    GROUP BY o_orderstatus, o_orderpriority
    ORDER BY o_orderstatus, o_orderpriority
    """,
    tags=("ivm", "extension"),
)
def orders_rollup_ivm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COUNT/SUM rollup maintained INCREMENTALLY (merge.apply_agg_delta):
    the snapshot is grouped over the old base
    (mod-10 classes 1..9), the signed delta carries the mod-0 inserts
    (+1) and mod-1 deletes (-1), and the maintenance step folds the
    delta in at O(touched groups) cost — one map-side-combined
    aggregation of the delta plus a full-outer combine with the
    groups-sized snapshot, the base table NEVER rescanned. That cost
    shape (delta-sized, not table-sized) is the whole point at 100 TB.
    Sums run in exact decimal (functions.det), counts in BIGINT, so
    the maintained state is bit-identical to the oracle's full
    recompute over the post-CDC table — which is exactly the
    equivalence IVM promises (pytest-pinned in
    test_streaming_incremental; driver-gated here)."""
    orders = load_table(spark, sf_dir, "orders")
    mod = F.col("o_orderkey") % 10
    keys = ["o_orderstatus", "o_orderpriority"]
    base = orders.filter(mod != 0)
    snapshot = base.groupBy(*keys).agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(dec("o_totalprice")).alias("o_totalprice"),
        # companion non-null count: lets the maintained SUM read NULL
        # for an all-invalid group exactly like a full recompute
        # (layered-corruption find; merge.apply_agg_delta)
        F.count(dec("o_totalprice")).alias("o_totalprice__nn"),
    )
    delta = (
        orders.filter(mod == 0).withColumn("sign", F.lit(1))
        .unionByName(orders.filter(mod == 1).withColumn("sign", F.lit(-1)))
        .withColumn("o_totalprice", dec("o_totalprice"))
    )
    maintained = apply_agg_delta(
        snapshot,
        delta,
        key_cols=keys,
        sum_cols=["o_totalprice"],
        count_col="n_orders",
    )
    return maintained.select(
        *keys,
        "n_orders",
        F.col("o_totalprice").cast("double").alias("sum_price"),
    ).orderBy(*keys)


@register(
    "orders_minmax_refresh",
    oracle="""
    SELECT o_custkey,
           COUNT(*) AS n_orders,
           MIN(o_totalprice) AS min_price,
           MAX(o_totalprice) AS max_price
    FROM orders
    WHERE o_orderkey % 10 <> 1
    GROUP BY o_custkey
    ORDER BY o_custkey
    """,
    tags=("ivm", "extension"),
)
def orders_minmax_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The NON-additive half of the IVM triad
    (merge.refresh_affected_groups): MIN/MAX are
    not self-maintainable under deletes (deleting a group's extremum
    needs base data), so the per-customer (count, min, max) view is
    refreshed by recomputing ONLY the customers the delta touched —
    a semi-join-filtered scan of the new base — while every untouched
    customer's row carries over from the snapshot verbatim via an
    anti-join on the groups-sized view. Touched customers whose
    orders all vanished drop out of the view, exactly like a full
    recompute. The aggregate callable passed in is the SAME function
    that built the snapshot, so the view definition cannot drift.
    MIN/MAX select existing stored doubles (no accumulation), so the
    result hash-matches the oracle's full recompute bit-for-bit."""
    orders = load_table(spark, sf_dir, "orders")
    mod = F.col("o_orderkey") % 10

    def view(df: DataFrame) -> DataFrame:
        return df.groupBy("o_custkey").agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.min("o_totalprice").alias("min_price"),
            F.max("o_totalprice").alias("max_price"),
        )

    old_base = orders.filter(mod != 0)
    new_base = orders.filter(mod != 1)
    touched = orders.filter((mod == 0) | (mod == 1)).select("o_custkey")
    refreshed = refresh_affected_groups(
        snapshot=view(old_base),
        base=new_base,
        touched_keys=touched,
        key_cols=["o_custkey"],
        aggregate=view,
    )
    return refreshed.orderBy("o_custkey")


# ---------------------------------------------------------------------------
# Layout
# ---------------------------------------------------------------------------


#: 10-bit Morton key over (l_partkey % 1024, l_suppkey % 1024);
#: tile = z >> 12 fixes bits 12..19 = the HIGH 4 bits of both
#: dimensions, so every tile is a 64 x 64 hyper-rectangle.
_Z_BITS, _Z_TILE_SHIFT = 10, 12


@register(
    "zorder_parts_locality",
    oracle=f"""
    WITH pts AS (
      SELECT l_partkey % 1024 AS px, l_suppkey % 1024 AS py
      FROM lineitem
    ),
    keyed AS (
      SELECT px, py,
             ({zorder_key_sql("px", "py", _Z_BITS)}) >> {_Z_TILE_SHIFT} AS tile
      FROM pts
    )
    SELECT tile, COUNT(*) AS n,
           MIN(px) AS px_min, MAX(px) AS px_max,
           MIN(py) AS py_min, MAX(py) AS py_max
    FROM keyed GROUP BY tile ORDER BY tile
    """,
    tags=("layout", "extension"),
)
def zorder_parts_locality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) clustering key over (partkey, suppkey)
    (operators.layout.zorder_key): per 64x64 tile of the interleaved
    key space, the row count and the spanned range of BOTH dimensions
    — the zonemap a parquet file inherits when the table is written
    sorted by this key. Every tile bounds px AND py to 64 values
    (pytest-pinned on a dense grid), so range predicates on EITHER
    column prune files; a single-column sort bounds only its own
    column. Pure shift/mask integer arithmetic, bit-for-bit replayed
    by the oracle via the same generated expression
    (layout.zorder_key_sql)."""
    li = load_table(spark, sf_dir, "lineitem")
    pts = li.select(
        (F.col("l_partkey") % 1024).alias("px"),
        (F.col("l_suppkey") % 1024).alias("py"),
    )
    keyed = pts.select(
        "px",
        "py",
        F.shiftright(
            zorder_key(F.col("px"), F.col("py"), _Z_BITS), _Z_TILE_SHIFT
        ).alias("tile"),
    )
    return (
        keyed.groupBy("tile")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("px").alias("px_min"),
            F.max("px").alias("px_max"),
            F.min("py").alias("py_min"),
            F.max("py").alias("py_max"),
        )
        .orderBy("tile")
    )


# Shared contract for layout_skipping_report: 16 target files, part
# clustered two ways, both dimensions reduced to 6-bit cells for the
# Morton key. p_retailprice spans [900, 1000) at every SF (the
# generator prices parts at 900 + partkey-derived cents), p_size
# spans 1..50 — both fixed-constant reductions, so the oracle can
# replay the cell arithmetic without data-dependent statistics.
_L_FILES = 16
_L_BITS = 6
_PY_SQL = (
    "CAST(LEAST(GREATEST(FLOOR(((p_retailprice - 900.0) * 64.0) / 100.0),"
    " 0), 63) AS BIGINT)"
)


@register(
    "layout_skipping_report",
    oracle=f"""
    WITH keyed AS (
      SELECT p_partkey, p_size, p_retailprice,
             CAST(p_size AS BIGINT) AS px,
             {_PY_SQL} AS py
      FROM part
    ),
    params AS (
      SELECT CAST(CEIL(COUNT(*) / {float(_L_FILES)}) AS BIGINT) AS rpf
      FROM part
    ),
    za AS (
      SELECT p_size, p_retailprice,
             (ROW_NUMBER() OVER (
                ORDER BY ({zorder_key_sql("px", "py", _L_BITS)})
                  NULLS FIRST, p_partkey
              ) - 1) // (SELECT rpf FROM params) AS f
      FROM keyed
    ),
    zb AS (
      SELECT p_size, p_retailprice,
             (ROW_NUMBER() OVER (ORDER BY p_size NULLS FIRST,
                                 p_partkey) - 1)
               // (SELECT rpf FROM params) AS f
      FROM keyed
    ),
    stats AS (
      SELECT 'zorder' AS layout, f,
             MIN(p_size) AS smin, MAX(p_size) AS smax,
             MIN(p_retailprice) AS pmin, MAX(p_retailprice) AS pmax
      FROM za GROUP BY f
      UNION ALL
      SELECT 'size_range' AS layout, f,
             MIN(p_size), MAX(p_size),
             MIN(p_retailprice), MAX(p_retailprice)
      FROM zb GROUP BY f
    ),
    per AS (
      SELECT layout, 'size_10_13' AS probe,
             COUNT(*) AS n_files,
             CAST(SUM(CASE WHEN smax < 10 OR smin > 13 THEN 1 ELSE 0 END)
                  AS BIGINT) AS files_skipped
      FROM stats GROUP BY layout
      UNION ALL
      SELECT layout, 'price_905_906',
             COUNT(*),
             CAST(SUM(CASE WHEN pmax < 905.0 OR pmin > 906.0
                           THEN 1 ELSE 0 END) AS BIGINT)
      FROM stats GROUP BY layout
    )
    SELECT layout, probe, n_files, files_skipped,
           ROUND(CAST(files_skipped AS DOUBLE) / n_files, 4) AS skip_ratio
    FROM per
    ORDER BY layout, probe
    """,
    tags=("layout", "extension"),
)
def layout_skipping_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END zonemap skipping audit: writes
    the part table to REAL parquet files under two layouts — Z-order
    clustered on (p_size, p_retailprice) vs single-column size order —
    reads the per-file min/max back from the actual FOOTERS
    (sources.layout.zonemap_report; no data pages touched), and
    reports how many files each layout lets a range scan skip for a
    probe on EACH dimension. The pinned claim: z-order prunes on both
    dimensions, single-column order only on its own. Both writes use
    the deterministic single-task variant of the clustered writers
    (total sort by (key, p_partkey), sequential roll every
    ceil(n/16) rows via maxRecordsPerFile) so the oracle can replay
    file assignment arithmetically — rank rows by the same unique
    sort key, bucket by rank — and the footer-derived counts must
    land on the oracle's data-derived counts exactly; production
    writes scale out via write_zorder_clustered's repartitionByRange
    (same layout, sampled boundaries). Driver-side footer reads are
    the REPORT shape (16 footers), not a data path."""
    import shutil
    import tempfile

    from corral_spark.sources.layout import zonemap_report

    part = load_table(spark, sf_dir, "part")
    n = part.count()
    rpf = math.ceil(n / _L_FILES)
    px = F.col("p_size").cast("long")
    py = (
        F.least(
            F.greatest(
                F.floor(((F.col("p_retailprice") - 900.0) * 64.0) / 100.0),
                F.lit(0),
            ),
            F.lit(63),
        )
    ).cast("long")
    layouts = {
        "zorder": [zorder_key(px, py, _L_BITS), F.col("p_partkey")],
        "size_range": [F.col("p_size"), F.col("p_partkey")],
    }
    probes = {
        "size_10_13": ("p_size", 10, 13),
        "price_905_906": ("p_retailprice", 905.0, 906.0),
    }
    rows = []
    root = tempfile.mkdtemp(prefix="corral_layout_")
    try:
        for layout, sort_cols in layouts.items():
            path = f"{root}/{layout}"
            (
                part.withColumn("__k", sort_cols[0])
                .repartition(1)
                .sortWithinPartitions("__k", "p_partkey")
                .drop("__k")
                .write.mode("overwrite")
                .option("maxRecordsPerFile", rpf)
                .parquet(path)
            )
            report = zonemap_report(path, ["p_size", "p_retailprice"])
            for probe, (col, lo, hi) in probes.items():
                skipped = sum(
                    1
                    for r in report
                    if r[f"{col}_min"] is not None
                    and (r[f"{col}_max"] < lo or r[f"{col}_min"] > hi)
                )
                rows.append(
                    (layout, probe, len(report), skipped,
                     round(skipped / len(report), 4))
                )
    finally:
        shutil.rmtree(root, ignore_errors=True)
    return spark.createDataFrame(
        rows,
        "layout string, probe string, n_files long, files_skipped long,"
        " skip_ratio double",
    ).orderBy("layout", "probe")


# ---------------------------------------------------------------------------
# Graph, basket and skyline
# ---------------------------------------------------------------------------


@register(
    "part_bfs_hops",
    oracle="""
    WITH RECURSIVE e AS (
      SELECT a.l_partkey AS u, b.l_partkey AS v
      FROM lineitem a
      JOIN lineitem b ON a.l_orderkey = b.l_orderkey
                     AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2
    ),
    sym AS (SELECT u, v FROM e UNION SELECT v, u FROM e),
    seeds AS (
      SELECT DISTINCT l_partkey AS node FROM lineitem
      WHERE l_partkey % 97 = 0
    ),
    walk(node, hops) AS (
      SELECT node, 0 FROM seeds
      UNION
      SELECT s.v, w.hops + 1
      FROM walk w JOIN sym s ON s.u = w.node
      WHERE w.hops < 3
    )
    SELECT node, CAST(MIN(hops) AS INT) AS hops
    FROM walk GROUP BY node ORDER BY node
    """,
    tags=("graph", "extension"),
)
def part_bfs_hops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Minimum co-order hop distance (graph.bfs_hops, <= 3 hops) from
    the seed parts (partkey % 97 == 0) over the "appeared in the same
    order" part graph — the seeded Pregel-shape traversal
    (contamination blast radius, related-item expansion) that
    complements connected_components. Each iteration joins only the
    newest frontier against the edge list and exits early when a
    frontier is empty; integer hop labels over deterministic joins,
    replayed exactly by the oracle's depth-bounded recursive CTE."""
    li = load_table(spark, sf_dir, "lineitem")
    a, b = li.alias("a"), li.alias("b")
    edges = (
        a.join(b, "l_orderkey")
        .filter(F.col("a.l_partkey") < F.col("b.l_partkey"))
        .select(
            F.col("a.l_partkey").alias("src"),
            F.col("b.l_partkey").alias("dst"),
        )
        .distinct()
    )
    seeds = (
        li.filter(F.col("l_partkey") % 97 == 0)
        .select(F.col("l_partkey").alias("node"))
        .distinct()
    )
    out = bfs_hops(edges, seeds, max_hops=3)
    return out.select(
        "node", F.col("hops").cast("int").alias("hops")
    ).orderBy("node")


@register(
    "part_pairs_lift",
    oracle="""
    WITH pp AS (
      SELECT DISTINCT l_orderkey AS b, l_partkey AS i FROM lineitem
    ),
    n AS (SELECT COUNT(DISTINCT b) AS n_baskets FROM pp),
    items AS (SELECT i, COUNT(*) AS c FROM pp GROUP BY i),
    pairs AS (
      SELECT a.i AS item_a, bb.i AS item_b, COUNT(*) AS c_ab
      FROM pp a JOIN pp bb ON a.b = bb.b AND a.i < bb.i
      GROUP BY 1, 2
      HAVING COUNT(*) >= 2
    )
    SELECT item_a, item_b, ca.c AS c_a, cb.c AS c_b, c_ab,
           ROUND(CAST(c_ab AS DOUBLE) / ca.c, 6) AS conf_a_b,
           ROUND(CAST(c_ab AS DOUBLE) / cb.c, 6) AS conf_b_a,
           ROUND(CAST(c_ab * n.n_baskets AS DOUBLE)
                 / CAST(ca.c * cb.c AS DOUBLE), 6) AS lift
    FROM pairs
    JOIN items ca ON ca.i = item_a
    JOIN items cb ON cb.i = item_b
    CROSS JOIN n
    ORDER BY item_a, item_b
    """,
    tags=("basket", "extension"),
)
def part_pairs_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket association rules over order lines
    (basket.association_rules): every part pair co-ordered in >= 2
    orders with exact support counts, directed confidences, and lift
    vs independence — the affinity-analysis family. The pair
    generator's blow-up is bounded by items-per-order (single
    digits), never catalog size; the one global scalar rides a
    one-row broadcast (the tfidf-pinned pattern). Integer counts +
    single rounded divisions replay bit-exactly in the oracle."""
    from corral_spark.operators.basket import association_rules

    li = load_table(spark, sf_dir, "lineitem")
    return association_rules(
        li, "l_orderkey", "l_partkey", min_cooccur=2
    ).orderBy("item_a", "item_b")


@register(
    "strong_coorder_triangles",
    oracle="""
    WITH pp AS (
      SELECT DISTINCT l_orderkey AS b, l_partkey AS i FROM lineitem
    ),
    e AS (
      SELECT a.i AS u, bb.i AS v
      FROM pp a JOIN pp bb ON a.b = bb.b AND a.i < bb.i
      GROUP BY 1, 2 HAVING COUNT(*) >= 2
    ),
    tri AS (
      SELECT e1.u AS a, e1.v AS b, e2.v AS c
      FROM e e1
      JOIN e e2 ON e2.u = e1.v
      JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v
    )
    SELECT node, COUNT(*) AS n_triangles
    FROM (SELECT unnest([a, b, c]) AS node FROM tri)
    GROUP BY node ORDER BY node
    """,
    tags=("graph", "extension"),
)
def strong_coorder_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle participation counts (graph.triangle_counts) over the
    STRONG co-order part graph (pairs co-ordered >= 2 times): how
    tightly each part's affinity neighborhood closes on itself — the
    cohesion signal that complements components (connectivity) and
    BFS (reach). The operator runs the degree-ordered orientation
    (wedges only at each triangle's smallest-degree vertex, O(m^1.5)
    bound, hub-skew-proof); the oracle replays the orientation-
    independent result via the plain id-ordered triple join."""
    from corral_spark.operators.basket import cooccur_strong_pairs
    from corral_spark.operators.graph import triangle_counts

    li = load_table(spark, sf_dir, "lineitem")
    strong = cooccur_strong_pairs(
        li, "l_orderkey", "l_partkey", min_cooccur=2
    )
    return triangle_counts(strong).orderBy("node")


@register(
    "part_pagerank",
    oracle=f"""
    WITH pp AS (
      SELECT DISTINCT l_orderkey AS b, l_partkey AS i FROM lineitem
    ),
    e AS (
      SELECT a.i AS u, bb.i AS v
      FROM pp a JOIN pp bb ON a.b = bb.b AND a.i < bb.i
      GROUP BY 1, 2 HAVING COUNT(*) >= 2
    ),
    ed AS (SELECT u, v FROM e UNION SELECT v AS u, u AS v FROM e),
    deg AS (SELECT u, COUNT(*) AS outdeg FROM ed GROUP BY u),
    nn AS (SELECT COUNT(*) AS n FROM deg),
    tp AS (
      SELECT ((1000000000000 // n) * 15) // 100 AS t,
             1000000000000 // n AS r0 FROM nn
    ),
    r1 AS (
      SELECT ed.v AS node,
             (SELECT t FROM tp)
             + (85 * CAST(SUM((SELECT r0 FROM tp) // deg.outdeg)
                          AS BIGINT)) // 100 AS pr
      FROM ed JOIN deg ON ed.u = deg.u
      GROUP BY ed.v
    ),
    r2 AS (
      SELECT ed.v AS node,
             (SELECT t FROM tp)
             + (85 * CAST(SUM(r1.pr // deg.outdeg) AS BIGINT)) // 100 AS pr
      FROM ed JOIN r1 ON ed.u = r1.node JOIN deg ON ed.u = deg.u
      GROUP BY ed.v
    ),
    r3 AS (
      SELECT ed.v AS node,
             (SELECT t FROM tp)
             + (85 * CAST(SUM(r2.pr // deg.outdeg) AS BIGINT)) // 100 AS pr
      FROM ed JOIN r2 ON ed.u = r2.node JOIN deg ON ed.u = deg.u
      GROUP BY ed.v
    )
    SELECT node, pr AS pr_e12 FROM r3 ORDER BY node
    """,
    tags=("graph", "extension"),
)
def part_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank (graph.pagerank_fixed_point, 3 rounds, damping 0.85)
    over the strong co-order part graph (pairs co-ordered >= 2 times,
    the same graph strong_coorder_triangles walks): the affinity
    IMPORTANCE measure completing the graph family. Ranks are
    fixed-point BIGINTs scaled by 1e12 and every step is integer
    division + exact integer sums, so the result is order-independent
    and bit-replayed by the oracle's three unrolled iterations —
    a float PageRank could never hash-match across engines. Per
    round: one equi-join of the n_nodes-sized rank vector onto the
    edge list plus one map-side-combined groupBy — the Pregel cost
    shape that survives 100 TB graphs."""
    from corral_spark.operators.basket import cooccur_strong_pairs

    li = load_table(spark, sf_dir, "lineitem")
    strong = cooccur_strong_pairs(
        li, "l_orderkey", "l_partkey", min_cooccur=2
    )
    return pagerank_fixed_point(strong, iters=3).orderBy("node")


@register(
    "skyline_parts",
    oracle="""
    SELECT p.p_partkey, p.p_retailprice, p.p_size
    FROM part p
    WHERE NOT EXISTS (
      SELECT 1 FROM part q
      WHERE q.p_retailprice <= p.p_retailprice
        AND q.p_size >= p.p_size
        AND (q.p_retailprice < p.p_retailprice OR q.p_size > p.p_size)
    )
    ORDER BY p.p_partkey
    """,
    tags=("skyline", "extension"),
)
def skyline_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto frontier of parts under (cheapest price, largest size)
    — operators.skyline.skyline_min_max. The engine runs the 2-D
    sort-based derivation (per-price max + running max over ordered
    distinct prices + one equi-join back: no cartesian, plan-pinned);
    the oracle is deliberately the quadratic NOT-EXISTS dominance
    SPEC, so the gate independently proves the window derivation
    equals the definition rather than replaying the same algorithm.
    Ties kept on both sides (identical (price, size) rows do not
    dominate each other)."""
    part = load_table(spark, sf_dir, "part")
    return (
        skyline_min_max(part, "p_retailprice", "p_size")
        .select("p_partkey", "p_retailprice", "p_size")
        .orderBy("p_partkey")
    )
