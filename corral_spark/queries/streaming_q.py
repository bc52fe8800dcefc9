"""Streaming-analytics queries over ``events`` in deterministic batch
form. The identical builder functions run under Structured Streaming
(corral_spark.streaming; availableNow equivalence pinned in
tests/test_streaming.py), so these oracles genuinely gate the
streaming operators."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from corral_spark.queries.registry import register
from corral_spark.sources.tables import load_table
from corral_spark.streaming.ops import session_agg, sliding_agg, tumbling_agg

_SUM_VALUE_SQL = "CAST(SUM(TRY_CAST(value AS DECIMAL(12,2))) AS DOUBLE)"


@register(
    "events_tumbling_1h",
    oracle=f"""
    SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
           event_type,
           COUNT(*) AS n_events,
           {_SUM_VALUE_SQL} AS sum_value
    FROM events
    WHERE ts IS NOT NULL
    GROUP BY 1, 2
    ORDER BY window_start, event_type
    """,
    headline=True,
    tags=("streaming", "window", "extension"),
)
def events_tumbling_1h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour windowed aggregation (streaming.ops.
    tumbling_agg): the Structured Streaming workhorse, here in its
    batch-equivalent form."""
    return tumbling_agg(load_table(spark, sf_dir, "events"), "1 hour").orderBy(
        "window_start", "event_type"
    )


@register(
    "events_sliding_1h_30m",
    oracle=f"""
    WITH slid AS (
      SELECT unnest([
               date_trunc('hour', ts) + CASE WHEN minute(ts) >= 30
                 THEN INTERVAL 30 MINUTE ELSE INTERVAL 0 MINUTE END,
               date_trunc('hour', ts) + CASE WHEN minute(ts) >= 30
                 THEN INTERVAL 30 MINUTE ELSE INTERVAL 0 MINUTE END
                 - INTERVAL 30 MINUTE
             ]) AS window_start,
             value
      FROM events
      WHERE ts IS NOT NULL
    )
    SELECT strftime(window_start, '%Y-%m-%d %H:%M:%S') AS window_start,
           COUNT(*) AS n_events,
           {_SUM_VALUE_SQL} AS sum_value
    FROM slid
    GROUP BY 1
    ORDER BY window_start
    """,
    tags=("streaming", "window", "extension"),
)
def events_sliding_1h_30m(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding window (1h length, 30m slide): every event contributes
    to exactly two windows; the oracle explodes each row into its two
    window starts (30-minute truncation and the preceding one)."""
    return sliding_agg(
        load_table(spark, sf_dir, "events"), "1 hour", "30 minutes"
    ).orderBy("window_start")


@register(
    "event_props_map",
    oracle="""
    SELECT k AS prop_key,
           COUNT(*) AS n,
           CAST(SUM(TRY_CAST(v AS BIGINT)) AS BIGINT) AS sum_v
    FROM (
      SELECT unnest(json_keys(props)) AS k,
             json_extract_string(props, '$.' || unnest(json_keys(props))) AS v
      FROM events
      WHERE json_valid(props)
    )
    GROUP BY k
    ORDER BY prop_key
    """,
    tags=("json", "map", "extension"),
)
def event_props_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """props JSON decoded to a real map<string,string> column and
    exploded — the typed-map form of what the reference does by
    JSON-in-string-values (reference amplab3.go:70-73). At scale the
    map parse happens once per row in the scan projection.

    try_cast, not cast, on the heterogeneous map values: under an
    ANSI session a plain CAST raises CAST_INVALID_INPUT on the first
    non-numeric value — at 100 TB schema-on-read, one malformed
    value would kill the query (unicode campaign class 3). A
    value that isn't a number contributes NULL to the SUM on both
    engines (DuckDB TRY_CAST mirrors it)."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import MapType, StringType

    events = load_table(spark, sf_dir, "events")
    m = F.from_json("props", MapType(StringType(), StringType()))
    return (
        events.select(F.explode(m).alias("prop_key", "v"))
        .groupBy("prop_key")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("v").try_cast("bigint")).alias("sum_v"),
        )
        .orderBy("prop_key")
    )


_STATEFUL_MEM_SEQ = 0


@register(
    "stateful_user_totals",
    oracle="""
    SELECT user_id,
           COUNT(*) AS total_events,
           -- COALESCE: the operator sums per-row coalesce(value, 0)
           -- cents, so an all-NULL user totals 0 — SQL's SUM would
           -- return NULL there (r10 ADVICE: latent-only today, the
           -- generator emits no NULL values, but the twin must match
           -- the documented 0-cents semantics either way).
           COALESCE(
             CAST(SUM(TRY_CAST(value AS DECIMAL(12,2)) * 100) AS BIGINT),
             0
           ) AS total_value_cents
    FROM events
    GROUP BY user_id
    ORDER BY user_id
    """,
    tags=("streaming", "stateful", "extension"),
)
def stateful_user_totals_final(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch-twin driver row for the custom stateful streaming
    operator (streaming.ops.stateful_user_totals,
    applyInPandasWithState — the arbitrary stateful-Reducer escape
    hatch). Unlike the window queries above, whose builders run
    identically on batch frames, this one RUNS THE REAL STREAMING
    PATH: readStream over the events parquet, per-user int64 state
    accumulated in the state store, availableNow trigger into a
    memory sink. The update-mode emissions (one row per user per
    micro-batch) are then reduced to the final state per user —
    total_events is strictly increasing per user across batches, so
    max/max_by select the last emission deterministically however
    the file source splits batches. The DuckDB oracle is the batch
    twin: a plain GROUP BY over the same file, exact because the
    state sums integer cents (see the operator's exactness
    contract). Cross-micro-batch state accumulation itself is pinned
    by tests/test_streaming.py::test_stateful_user_totals_multi_batch.
    """
    from pyspark.sql import functions as F

    from corral_spark.streaming.ops import (
        read_events_stream,
        run_available_now,
        stateful_user_totals,
    )

    global _STATEFUL_MEM_SEQ
    _STATEFUL_MEM_SEQ += 1
    out = run_available_now(
        stateful_user_totals(read_events_stream(spark, sf_dir)),
        f"mem_stateful_totals_{_STATEFUL_MEM_SEQ}",
        output_mode="update",
    )
    return (
        out.groupBy("user_id")
        .agg(
            F.max("total_events").alias("total_events"),
            F.max_by("total_value_cents", "total_events").alias(
                "total_value_cents"
            ),
        )
        .orderBy("user_id")
    )


@register(
    "events_session_30m",
    oracle=f"""
    WITH seq AS (
      SELECT user_id, ts, value,
             CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                       >= INTERVAL 30 MINUTE
                  OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                  THEN 1 ELSE 0 END AS new_session
      FROM events
      WHERE ts IS NOT NULL
    ),
    tagged AS (
      SELECT *, SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                 ROWS UNBOUNDED PRECEDING) AS session_id
      FROM seq
    )
    SELECT user_id,
           strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
           strftime(MAX(ts) + INTERVAL 30 MINUTE, '%Y-%m-%d %H:%M:%S') AS session_end,
           COUNT(*) AS n_events,
           {_SUM_VALUE_SQL} AS sum_value
    FROM tagged
    GROUP BY user_id, session_id
    ORDER BY user_id, session_start
    """,
    headline=True,
    tags=("streaming", "session", "extension"),
)
def events_session_30m(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization with a 30-minute inactivity gap via
    session_window (streaming.ops.session_agg). The oracle reproduces
    Spark's merge rule (gap >= 30m starts a new session; session end =
    last event + gap) with the lag()+cumulative-sum idiom."""
    return session_agg(load_table(spark, sf_dir, "events"), "30 minutes").orderBy(
        "user_id", "session_start"
    )
