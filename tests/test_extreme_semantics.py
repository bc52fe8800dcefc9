"""Pins for the extreme-value contracts fixed by the r14 campaign
(tools/extreme_fuzz.py; SCALE.md round-14).

The driver testdata contains no boundary values, so these behaviors
are invisible to the gate — each test plants the extreme that
diverged (or raised) in the campaign and asserts the now-defined
semantics directly, mirroring tests/test_null_semantics.py for the
NULL campaign.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from corral_spark.functions.det import dec, dec_rate
from corral_spark.operators.similarity import valid_vecs
from corral_spark.operators.timeseries import gapfill_locf


def test_dec_try_cast_nulls_out_of_domain_money(spark):
    """A value outside the DECIMAL(12,2) domain is invalid-measurement
    NULL and skips the sum — session-independently (a plain cast
    raised under ANSI and silently nulled under legacy)."""
    df = spark.createDataFrame(
        [(1.0,), (1e15,), (-1e15,), (2.5,)], "v double"
    )
    (total,) = df.agg(F.sum(dec("v")).cast("double")).first()
    assert total == 3.5


def test_dec_rate_domain(spark):
    """Rates (discount, tax) are semantically in [0, 1]; out-of-domain
    values are NULL, in-domain values exact DECIMAL(3,2)."""
    df = spark.createDataFrame(
        [(0.04,), (1.0,), (0.0,), (-0.01,), (123456789.12,)], "r double"
    )
    got = [r[0] for r in df.select(dec_rate("r").cast("double")).collect()]
    assert got == [0.04, 1.0, 0.0, None, None]


def test_valid_vecs_drops_malformed_embeddings(spark):
    """NULL vector, NULL element, zero norm, and (with dim) wrong
    length are all dropped at ingress — each shape either raises in
    one engine or silently null-pads in the other."""
    rows = [
        (0, [1.0, 2.0]),        # well-formed
        (1, None),              # NULL vector
        (2, [1.0, None]),       # NULL element
        (3, [0.0, -0.0]),       # zero norm — no direction
        (4, [1.0]),             # wrong length
        (5, []),                # empty
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    assert [r.vec_id for r in valid_vecs(df, dim=2).collect()] == [0]
    # dimension-blind form still drops the degenerate shapes
    assert sorted(
        r.vec_id for r in valid_vecs(df, dim=None).collect()
    ) == [0, 4]


def test_gapfill_spine_guard_raises_on_corrupt_range(spark):
    """One corrupt bucket value must not silently materialize a
    billion-row spine — the operator raises its documented message."""
    obs = spark.createDataFrame(
        [("a", 0, 1.0), ("a", 10**9, 2.0)], "k string, b long, v double"
    )
    with pytest.raises(Exception, match="gapfill_locf: spine spans"):
        gapfill_locf(obs, "k", "b", ["v"], bucket_width=1)
    # explicit opt-in (or a sane range) still works
    ok = gapfill_locf(
        obs.filter(F.col("b") < 100), "k", "b", ["v"], bucket_width=1
    )
    assert ok.count() == 1


def test_rolling_decimal_window_sum_is_order_free(spark):
    """A 1e9-scale value among cents (in the money domain): the
    exact-decimal window sum gives the exact cents total regardless
    of accumulation order (raw-double window sums pick up
    order-dependent last bits); a value OUTSIDE the DECIMAL(12,2)
    domain is skipped per the dec() try_cast rule."""
    import datetime as dt

    from corral_spark.operators.timeseries import rolling_range_agg

    t0 = dt.datetime(2024, 1, 1, 10, 0)
    rows = [
        (i, t0 + dt.timedelta(seconds=i), 7, v)
        for i, v in enumerate([1e9, 0.1, 0.2, 0.3, 1e15])
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, value double"
    )
    out = rolling_range_agg(df, "user_id", "ts", "value", 3600)
    last = out.orderBy(F.desc("event_id")).first()
    assert last.n_win == 5  # the out-of-domain row still counts
    assert last.sum_win == 1e9 + 0.6  # ...but contributes no cents


def test_anomaly_screen_fully_corrupted_cell_reports_zero(spark):
    """r14 layered-corruption find 2 (fixed r15): a (type, hour) cell
    whose EVERY value is NULL or out-of-money-domain has an undefined
    baseline, so no event in it can be flagged — n_anomalies must be
    0 and anomaly_rate 0.0 (the recompute spec's CASE ... ELSE 0),
    not NULL (what SUM over an all-NULL flag column yields)."""
    import pandas as pd

    from corral_spark.queries import analytics
    from corral_spark.queries.analytics import event_hourly_anomalies

    pdf = pd.DataFrame(
        {
            "event_id": [1, 2, 3, 4, 5, 6],
            "user_id": [1, 1, 2, 2, 3, 3],
            "event_type": ["corrupt", "corrupt", "ok", "ok", "ok", "ok"],
            # corrupt cell: one NULL, one out-of-domain (rejected by
            # the DECIMAL(12,2) money cast) -> baseline undefined
            "value": [None, 1e30, 1.0, 1.0, 1.0, 100.0],
            "ts": pd.to_datetime(
                [
                    "2024-01-01 05:10:00",
                    "2024-01-01 05:20:00",
                    "2024-01-01 07:10:00",
                    "2024-01-01 07:20:00",
                    "2024-01-01 07:30:00",
                    "2024-01-01 07:40:00",
                ]
            ),
            "props": ["{}"] * 6,
        }
    )
    df = spark.createDataFrame(pdf)
    orig = analytics.load_table
    analytics.load_table = lambda s, d, name: df
    try:
        out = {
            (r["event_type"], r["hr"]): r
            for r in event_hourly_anomalies(spark, "unused").collect()
        }
    finally:
        analytics.load_table = orig
    corrupt = out[("corrupt", 5)]
    assert corrupt["avg_value"] is None
    assert corrupt["n_anomalies"] == 0
    assert corrupt["anomaly_rate"] == 0.0
    ok = out[("ok", 7)]
    assert ok["n_anomalies"] == 1  # 100 > 3 * 25.75
    assert ok["anomaly_rate"] == 0.25
