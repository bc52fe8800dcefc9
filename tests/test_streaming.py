"""Streaming <-> batch equivalence: the SAME builder functions run on
a readStream frame (availableNow -> memory sink) must produce exactly
the batch results the DuckDB oracle already gates. Plus the custom
stateful operator and watermark state-bounding behavior."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from corral_spark.sources.tables import load_table
from corral_spark.streaming.ops import (
    read_events_stream,
    run_available_now,
    session_agg,
    sliding_agg,
    stateful_user_totals,
    tumbling_agg,
    with_watermark,
)

SF = "/root/testdata/sf0.001"


def _rows(df, cols):
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


@pytest.mark.parametrize(
    "builder,cols",
    [
        (tumbling_agg, ["window_start", "event_type", "n_events", "sum_value"]),
        (sliding_agg, ["window_start", "n_events", "sum_value"]),
        (session_agg, ["user_id", "session_start", "session_end", "n_events", "sum_value"]),
    ],
    ids=["tumbling", "sliding", "session"],
)
def test_stream_batch_equivalence(spark, builder, cols):
    batch = builder(load_table(spark, SF, "events"))
    name = f"mem_{builder.__name__}"
    stream = run_available_now(builder(read_events_stream(spark, SF)), name)
    assert _rows(stream, cols) == _rows(batch, cols)


def test_stateful_user_totals_matches_batch(spark):
    from corral_spark.functions.det import dec

    events = load_table(spark, SF, "events")
    expected = {
        r.user_id: (r.n, r.c)
        for r in events.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum((dec("value", 2) * 100).cast("long")).alias("c"),
        )
        .collect()
    }
    out = run_available_now(
        stateful_user_totals(read_events_stream(spark, SF)),
        "mem_stateful",
        output_mode="update",
    )
    got = {
        r.user_id: (r.total_events, r.total_value_cents)
        for r in out.collect()
    }
    assert got == expected


def test_stateful_user_totals_multi_batch(spark, tmp_path):
    """Cross-micro-batch state: three files streamed one per trigger
    must ACCUMULATE per-user state (an emission per batch with
    strictly increasing totals), and the final emission per user must
    equal the all-files batch GROUP BY — exactly, in integer cents."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from datetime import datetime

    src_dir = tmp_path / "ev"
    src_dir.mkdir()

    def _write(name, rows, mtime):
        ids, users, vals, tss = zip(*rows)
        pq.write_table(
            pa.table(
                {
                    "event_id": pa.array(ids, pa.int64()),
                    "ts": pa.array(list(tss), pa.timestamp("us")),
                    "user_id": pa.array(users, pa.int64()),
                    "event_type": pa.array(["click"] * len(ids)),
                    "value": pa.array(vals, pa.float64()),
                    "props": pa.array(["{}"] * len(ids)),
                }
            ),
            str(src_dir / name),
        )
        os.utime(src_dir / name, (mtime, mtime))

    d = lambda m: datetime(2026, 1, 1, 10, m)  # noqa: E731
    _write("f1.parquet", [(1, 7, 1.25, d(0)), (2, 8, 2.00, d(1))], 1_000_000)
    _write("f2.parquet", [(3, 7, 0.75, d(2))], 1_000_010)
    _write("f3.parquet", [(4, 7, 10.00, d(3)), (5, 9, 0.10, d(4))], 1_000_020)

    src = (
        spark.readStream.schema(
            "event_id long, ts timestamp, user_id long, "
            "event_type string, value double, props string"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src_dir))
    )
    out = run_available_now(
        stateful_user_totals(src), "mem_stateful_multi", output_mode="update"
    )
    rows = out.collect()
    by_user = {}
    for r in rows:
        by_user.setdefault(r.user_id, []).append(
            (r.total_events, r.total_value_cents)
        )
    # User 7 appears in all three batches: three emissions, strictly
    # increasing running totals — state carried across batches.
    assert sorted(by_user[7]) == [(1, 125), (2, 200), (3, 1200)]
    # Final state per user == the batch GROUP BY over all files.
    final = {u: max(v) for u, v in by_user.items()}
    assert final == {7: (3, 1200), 8: (1, 200), 9: (1, 10)}


def test_watermark_attaches_to_plan(spark):
    stream = with_watermark(read_events_stream(spark, SF), "45 minutes")
    agg = tumbling_agg(stream)
    # EventTimeWatermark node must be present in the analyzed plan so
    # the state store can evict windows older than max(ts) - delay.
    assert "watermark" in agg._jdf.queryExecution().analyzed().toString().lower()
    out = run_available_now(agg, "mem_watermarked")
    # availableNow over a single static file: nothing is late, so the
    # watermarked result still matches the batch result.
    batch = tumbling_agg(load_table(spark, SF, "events"))
    cols = ["window_start", "event_type", "n_events", "sum_value"]
    assert _rows(out, cols) == _rows(batch, cols)


def test_interval_join_stream_matches_batch(spark):
    from corral_spark.streaming.ops import interval_join_stream

    events = load_table(spark, SF, "events")
    batch = interval_join_stream(
        events.filter(F.col("event_type") == "click"),
        events.filter(F.col("event_type") == "purchase"),
    )
    src = read_events_stream(spark, SF)
    stream = run_available_now(
        interval_join_stream(
            src.filter(F.col("event_type") == "click").withWatermark(
                "ts", "1 hour"
            ),
            src.filter(F.col("event_type") == "purchase").withWatermark(
                "ts", "1 hour"
            ),
        ),
        "mem_interval_join",
        output_mode="append",
    )
    cols = ["click_id", "purchase_id", "user_id", "delta_us"]
    assert _rows(stream, cols) == _rows(batch, cols)
    assert stream.count() > 0


def test_dedup_stream_matches_batch_distinct(spark):
    from corral_spark.streaming.ops import dedup_stream

    # Duplicate the source by self-union: every event_id appears twice.
    batch = load_table(spark, SF, "events")
    n_unique = batch.count()
    doubled_stream = read_events_stream(spark, SF).unionByName(
        read_events_stream(spark, SF)
    )
    out = run_available_now(
        dedup_stream(doubled_stream, ["event_id"], within="1 hour"),
        "mem_dedup_stream",
        output_mode="append",
    )
    assert out.count() == n_unique
    assert (
        out.select("event_id").distinct().count() == n_unique
    )


def test_foreach_batch_parquet_sink_roundtrip(spark, tmp_path):
    from corral_spark.streaming.ops import foreach_batch_parquet_sink

    batch = load_table(spark, SF, "events")
    q = foreach_batch_parquet_sink(
        read_events_stream(spark, SF),
        f"{tmp_path}/out",
        f"{tmp_path}/ckpt",
    )
    q.awaitTermination()
    landed = spark.read.parquet(f"{tmp_path}/out")
    assert landed.drop("batch_id").count() == batch.count()
    assert (
        landed.select("event_id").distinct().count()
        == batch.select("event_id").distinct().count()
    )


def test_interval_join_stream_left_outer_emits_null_rows(spark, tmp_path):
    """Outer rows must appear exactly when the watermark PROVES no
    match can arrive: a click with no purchase is null-emitted only
    after a later batch advances the watermark past click_ts + within;
    unmatched clicks near the end of input stay withheld in state."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from corral_spark.streaming.ops import (
        interval_join_stream,
        run_available_now,
    )

    src_dir = tmp_path / "ev"
    src_dir.mkdir()

    def _write(name, rows, mtime):
        ids, users, types, tss = zip(*rows)
        pq.write_table(
            pa.table(
                {
                    "event_id": pa.array(ids, pa.int64()),
                    "user_id": pa.array(users, pa.int64()),
                    "event_type": pa.array(types, pa.string()),
                    "ts": pa.array(list(tss), pa.timestamp("us")),
                }
            ),
            str(src_dir / name),
        )
        os.utime(src_dir / name, (mtime, mtime))

    from datetime import datetime

    d = lambda h, m: datetime(2026, 1, 1, h, m)  # noqa: E731
    # Batch 1: matched click 1, unmatched click 2, purchase 3.
    _write(
        "f1.parquet",
        [
            (1, 1, "click", d(10, 0)),
            (2, 2, "click", d(10, 5)),
            (3, 1, "purchase", d(10, 30)),
        ],
        1_000_000,
    )
    # Batch 2 advances the watermark to 19:50 (> 10:05 + 1h). The
    # global watermark is the MIN over both input watermarks, so the
    # sentinel must carry BOTH event types — a click-only sentinel
    # leaves the purchase side (and thus the join) stuck at 10:20.
    _write(
        "f2.parquet",
        [(90, 9, "click", d(20, 0)), (80, 8, "purchase", d(20, 0))],
        1_000_010,
    )
    # ... and batch 3 makes the eviction that uses it observable.
    _write(
        "f3.parquet",
        [(91, 9, "click", d(20, 1)), (81, 8, "purchase", d(20, 1))],
        1_000_020,
    )

    src = (
        spark.readStream.schema(
            "event_id long, user_id long, event_type string, ts timestamp"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src_dir))
    )
    out = run_available_now(
        interval_join_stream(
            src.filter(F.col("event_type") == "click").withWatermark(
                "ts", "10 minutes"
            ),
            src.filter(F.col("event_type") == "purchase").withWatermark(
                "ts", "10 minutes"
            ),
            how="left_outer",
        ),
        "mem_interval_leftouter",
        output_mode="append",
    )
    got = sorted(
        (r.click_id, r.purchase_id) for r in out.collect()
    )
    # (1,3) inner match; (2,None) proven-unmatched; clicks 90/91 stay
    # in state (watermark never passes 21:00) and must NOT be emitted.
    assert got == [(1, 3), (2, None)]


def test_interval_join_stream_rejects_unknown_mode(spark):
    from corral_spark.streaming.ops import interval_join_stream

    ev = load_table(spark, SF, "events")
    with pytest.raises(ValueError):
        interval_join_stream(ev, ev, how="full_outer")


def test_tumbling_windows_align_on_wall_clock(spark):
    """r14 TZ-sensitivity probe pin: hour windows must align to the
    WALL clock under any session timezone. Under a fractional-offset
    zone (+05:45) an instant-aligned F.window lands at :45 local —
    the registry's only two environment-sensitive rows before the
    NTZ fix (SCALE.md round-14)."""
    import datetime as dt

    from pyspark.sql import functions as F

    from corral_spark.streaming.ops import sliding_agg, tumbling_agg

    old_tz = spark.conf.get("spark.sql.session.timeZone")
    try:
        spark.conf.set("spark.sql.session.timeZone", "Asia/Kathmandu")
        events = spark.createDataFrame(
            [
                (1, dt.datetime(2024, 1, 1, 10, 20), 7, "click", 1.0, "{}"),
                (2, dt.datetime(2024, 1, 1, 10, 40), 7, "click", 2.0, "{}"),
                (3, dt.datetime(2024, 1, 1, 11, 5), 8, "view", 3.0, "{}"),
            ],
            "event_id long, ts timestamp_ntz, user_id long,"
            " event_type string, value double, props string",
        )
        # NTZ event time is a pure wall clock: window starts are the
        # exact wall hours/half-hours REGARDLESS of session timezone
        # (an instant-typed ts aligned them to UTC epoch hours —
        # :45/:15 local under +05:45).
        tumb = {r.window_start for r in tumbling_agg(events, "1 hour").collect()}
        assert tumb == {"2024-01-01 10:00:00", "2024-01-01 11:00:00"}
        slid = {
            r.window_start
            for r in sliding_agg(events, "1 hour", "30 minutes").collect()
        }
        assert slid == {
            "2024-01-01 09:30:00",
            "2024-01-01 10:00:00",
            "2024-01-01 10:30:00",
            "2024-01-01 11:00:00",
        }
    finally:
        spark.conf.set("spark.sql.session.timeZone", old_tz)


def test_streaming_render_is_session_tz_independent(spark):
    """r16: closes the event-time contract's one open residual (noted
    in ops.py since r14). The streaming path carries instants
    (watermarks reject NTZ) mapped wall-as-UTC at ingress; rendering
    them with plain date_format made sink strings SESSION-zone
    dependent — a Kathmandu-session writer produced '+05:45' strings
    a UTC reader could not reconcile. _wall_renderer renders the
    instant's UTC wall explicitly, so the same streaming aggregation
    yields byte-identical strings under any session timezone, equal
    to the batch (NTZ) twin's."""
    batch = _rows(
        tumbling_agg(load_table(spark, SF, "events")),
        ["window_start", "event_type", "n_events", "sum_value"],
    )
    old_tz = spark.conf.get("spark.sql.session.timeZone")
    results = {}
    try:
        for tz in ("UTC", "Asia/Kathmandu", "America/New_York"):
            spark.conf.set("spark.sql.session.timeZone", tz)
            out = run_available_now(
                tumbling_agg(read_events_stream(spark, SF)),
                f"mem_tz_{tz.split('/')[-1].lower().replace('_', '')}",
            )
            results[tz] = _rows(
                out, ["window_start", "event_type", "n_events", "sum_value"]
            )
            # Session bounds render TZ-independently too (w.end path).
            sess = run_available_now(
                session_agg(read_events_stream(spark, SF)),
                f"mem_tz_sess_{tz.split('/')[-1].lower().replace('_', '')}",
            )
            results[f"sess_{tz}"] = _rows(
                sess,
                ["user_id", "session_start", "session_end", "n_events", "sum_value"],
            )
    finally:
        spark.conf.set("spark.sql.session.timeZone", old_tz)
    assert results["UTC"] == batch
    assert results["Asia/Kathmandu"] == results["UTC"]
    assert results["America/New_York"] == results["UTC"]
    assert results["sess_Asia/Kathmandu"] == results["sess_UTC"]
    assert results["sess_America/New_York"] == results["sess_UTC"]


def test_upsert_snapshot_read_uses_manifest_schema(spark, tmp_path):
    """read_upsert_snapshot takes the schema the manifest records and
    schedules no inference job; a manifest without ``schema`` is
    inferred from the bucket files, with the same rows."""
    import json

    import pyarrow as pa
    import pyarrow.parquet as pq

    from corral_spark.streaming.ops import (
        foreach_batch_upsert_sink,
        read_upsert_snapshot,
    )
    from tests.test_sources import jobs_in_group

    src = tmp_path / "cdc"
    src.mkdir()
    pq.write_table(
        pa.table(
            {
                "k": pa.array(range(20), pa.int64()),
                "v": pa.array([f"v{i}" for i in range(20)], pa.string()),
            }
        ),
        str(src / "b1.parquet"),
    )
    table = str(tmp_path / "table")
    stream = spark.readStream.schema("k long, v string").parquet(str(src))
    foreach_batch_upsert_sink(
        stream, table, str(tmp_path / "ckpt"), "k", n_buckets=4
    ).awaitTermination()

    snap, jobs = jobs_in_group(
        spark, "upsert-read", lambda: read_upsert_snapshot(spark, table)
    )
    assert jobs == []
    want = sorted((i, f"v{i}") for i in range(20))
    assert sorted(tuple(r) for r in snap.collect()) == want

    manifest = tmp_path / "table" / "v=0" / "manifest.json"
    m = json.loads(manifest.read_text())
    del m["schema"]
    manifest.write_text(json.dumps(m))
    inferred = read_upsert_snapshot(spark, table)
    assert inferred.schema == snap.schema
    assert sorted(tuple(r) for r in inferred.collect()) == want


def _rdd_names(spark, job_ids) -> list[str]:
    """Names of the RDDs in every stage of ``job_ids`` (the status
    store's operation graphs; a Python task runs a ``PythonRDD``)."""

    def seq(s):
        it = s.iterator()
        while it.hasNext():
            yield it.next()

    def names(cluster):
        yield from (n.name() for n in seq(cluster.childNodes()))
        for child in seq(cluster.childClusters()):
            yield from names(child)

    jsc = spark.sparkContext._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    tracker = spark.sparkContext.statusTracker()
    return [
        name
        for job in job_ids
        for stage in tracker.getJobInfo(job).stageIds
        for name in names(jsc.statusStore().operationGraphForStage(stage).rootCluster())
    ]


def test_first_upsert_batch_runs_no_python_scan(spark, tmp_path):
    """A table's first micro-batch merges against an empty frame, and an
    all-keys-deleted snapshot reads as one. Both are JVM local
    relations: neither runs a Python task (``createDataFrame([], ...)``
    ran one per slot), and the manifest records the value schema
    unchanged."""
    import json

    import pyarrow as pa
    import pyarrow.parquet as pq

    from corral_spark.streaming.ops import (
        foreach_batch_upsert_sink,
        read_upsert_snapshot,
    )
    from tests.test_sources import jobs_in_group

    src = tmp_path / "cdc"
    src.mkdir()
    # Every row deletes, so the first batch also commits an empty table.
    pq.write_table(
        pa.table(
            {
                "k": pa.array([1, 2], pa.int64()),
                "v": pa.array(["a", "b"], pa.string()),
                "is_delete": pa.array([True, True], pa.bool_()),
            }
        ),
        str(src / "b1.parquet"),
    )
    table = str(tmp_path / "table")
    stream = spark.readStream.schema("k long, v string, is_delete boolean").parquet(
        str(src)
    )
    q = foreach_batch_upsert_sink(
        stream, table, str(tmp_path / "ckpt"), "k", delete_col="is_delete"
    )
    q.awaitTermination()
    # The stream's jobs run under its run id as job group.
    batch_rdds = _rdd_names(
        spark, spark.sparkContext.statusTracker().getJobIdsForGroup(q.runId)
    )
    assert batch_rdds  # the batch's write ran
    assert "PythonRDD" not in batch_rdds

    m = json.loads((tmp_path / "table" / "v=0" / "manifest.json").read_text())
    assert m["buckets"] == {}
    assert m["schema"] == {
        "type": "struct",
        "fields": [
            {"name": "k", "type": "long", "nullable": True, "metadata": {}},
            {"name": "v", "type": "string", "nullable": True, "metadata": {}},
        ],
    }
    rows, jobs = jobs_in_group(
        spark, "empty-snapshot", lambda: read_upsert_snapshot(spark, table).collect()
    )
    assert rows == []
    assert "PythonRDD" not in _rdd_names(spark, jobs)
