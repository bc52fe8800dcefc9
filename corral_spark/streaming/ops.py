"""Streaming analytics over the ``events`` table.

Structured Streaming is wholly absent from the reference (SURVEY
§2.3 — batch MapReduce only); this module is north-star extension
surface. Every aggregation is a plain DataFrame->DataFrame builder
that works identically on a batch frame (the correctness-gate path,
mirrored in DuckDB SQL) and on a ``readStream`` frame (tested via the
availableNow trigger into a memory sink) — one logic, two runners,
so the batch oracle genuinely checks the streaming op.

Watermarks bound state at scale: with ``with_watermark`` the state
store retains only windows newer than max(event_time) - delay; late
rows beyond that are dropped instead of growing state without bound.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from corral_spark.functions.det import dsum
from corral_spark.sources.tables import read_parquet, table_path

_TS_FMT = "yyyy-MM-dd HH:mm:ss"


def _fmt(col) -> F.Column:
    return F.date_format(col, _TS_FMT)


def _wall_renderer(events: DataFrame):
    """Session-TZ-independent window-bound renderer (closes the
    event-time contract's streaming residual).

    Batch frames carry TIMESTAMP_NTZ event time (the contract), so
    ``date_format`` is already a pure wall render. STREAMING frames
    must carry INSTANTS (Spark watermarks reject NTZ) mapped as
    wall-as-UTC by read_events_stream — but ``date_format`` renders
    an instant in the SESSION zone, so a non-UTC reader of the same
    checkpointed sink output used to see shifted strings (the
    contract's streaming residual). Render the instant's UTC wall
    explicitly instead: CAST to NTZ gives the session-zone wall,
    convert_timezone shifts it back to the UTC wall — the session TZ
    cancels, leaving exactly the wall clock the ingress mapping
    encoded, under ANY session timezone. On a UTC session this is
    the identity, so the pinned availableNow batch==stream
    equivalences are unchanged. Pinned cross-TZ by
    test_streaming_render_is_session_tz_independent."""
    from pyspark.sql.types import TimestampType

    ts_type = events.schema["ts"].dataType
    if isinstance(ts_type, TimestampType):
        return lambda col: F.date_format(
            F.convert_timezone(
                F.expr("current_timezone()"),
                F.lit("UTC"),
                col.cast("timestamp_ntz"),
            ),
            _TS_FMT,
        )
    return _fmt


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events as a streaming source (parquet file source).

    ``readStream`` requires an explicit schema, but the on-disk ``ts``
    resolution varies by writer — TIMESTAMP(NANOS) (scans as long
    under nanosAsLong), plain micros TIMESTAMP, or TIMESTAMP_NTZ
    (DuckDB-written scale-ups). Take the type the batch read infers
    from the file footer (``read_parquet``: a Spark job the first time
    a file is seen, a cached schema after that) and build the stream
    schema + normalization to match, so stream and batch agree on the
    same files whatever wrote them — the same tri-format contract as
    sources.tables.load_table."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StringType,
        StructField,
        StructType,
        TimestampNTZType,
    )

    ts_type = (
        read_parquet(spark, table_path(sf_dir, "events")).schema["ts"].dataType
    )
    schema = StructType(
        [
            StructField("event_id", LongType()),
            StructField("ts", ts_type),
            StructField("user_id", LongType()),
            StructField("event_type", StringType()),
            StructField("value", DoubleType()),
            StructField("props", StringType()),
        ]
    )
    # The file stream source wants a directory; select just the events
    # file out of the shared sf_dir with pathGlobFilter.
    raw = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    # EVENT-TIME CONTRACT, streaming half (TZ-sensitivity probe,
    # SCALE.md): Spark watermarks REQUIRE TIMESTAMP
    # (EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE rejects NTZ), so the
    # stream keeps INSTANTS — mapped TZ-INDEPENDENTLY as
    # instant-epoch == wall-clock-as-UTC, which makes window
    # ALIGNMENT wall-correct under any host timezone. (Batch event
    # time is TIMESTAMP_NTZ end to end — load_table.) Rendered
    # strings from the streaming path are made session-TZ-independent
    # by _wall_renderer (formerly the contract's one open
    # residual): instants render as their UTC wall, i.e. exactly the
    # wall clock this ingress mapping encoded, so a cross-TZ reader
    # of a CDC/rollup sink written under any session zone sees
    # identical strings. availableNow equivalence is pinned on UTC
    # CI; the cross-TZ render is pinned by
    # test_streaming_render_is_session_tz_independent.
    if isinstance(ts_type, LongType):
        # nanos-as-long -> truncate to micros (integer DIV: double
        # division loses precision above 2^53 ns); epoch micros ARE
        # the wall-as-UTC instant — TZ-independent.
        raw = raw.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
    elif isinstance(ts_type, TimestampNTZType):
        # NTZ wall W -> instant with epoch == W: render W in the
        # session zone's wall for the instant, then cast back —
        # the session TZ cancels, leaving wall-as-UTC.
        raw = raw.withColumn(
            "ts",
            F.expr(
                "CAST(convert_timezone('UTC', current_timezone(), ts)"
                " AS TIMESTAMP)"
            ),
        )
    return raw


def with_watermark(events: DataFrame, delay: str = "1 hour") -> DataFrame:
    return events.withWatermark("ts", delay)


def tumbling_agg(events: DataFrame, window: str = "1 hour") -> DataFrame:
    """Per (tumbling window, event_type): count + exact sum(value).
    Batch mirror: GROUP BY date_trunc + event_type.

    An event with a NULL timestamp cannot be assigned a window (the
    watermark convention: event-time operators define their input as
    timestamped rows; under streaming a NULL event time is never
    admitted past the watermark). Dropped explicitly here so batch
    and streaming forms agree — NULL-campaign class 2.

    Windows align on the WALL CLOCK: ``ts`` is TIMESTAMP_NTZ by the
    event-time contract (sources.tables.load_table /
    read_events_stream — TZ-sensitivity probe, SCALE.md), so
    F.window aligns hour boundaries to wall hours under ANY host
    timezone; an instant-typed ts aligned them to
    UTC epoch hours (= :45 local under a +05:45 host) — the
    registry's only environment-sensitive rows before the
    contract."""
    events = events.filter(F.col("ts").isNotNull())
    fmt = _wall_renderer(events)
    return (
        events.groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum("value").alias("sum_value"),
        )
        .select(
            fmt(F.col("w.start")).alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def sliding_agg(
    events: DataFrame, window: str = "1 hour", slide: str = "30 minutes"
) -> DataFrame:
    """Per sliding window: count + exact sum. With w=1h, s=30m each
    event lands in exactly 2 windows; the batch oracle mirrors this by
    exploding each row into its two window starts. NULL event times
    dropped and wall-clock (NTZ) window alignment — see
    tumbling_agg."""
    events = events.filter(F.col("ts").isNotNull())
    fmt = _wall_renderer(events)
    return (
        events.groupBy(F.window("ts", window, slide).alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum("value").alias("sum_value"),
        )
        .select(
            fmt(F.col("w.start")).alias("window_start"),
            "n_events",
            "sum_value",
        )
    )


def session_agg(events: DataFrame, gap: str = "30 minutes") -> DataFrame:
    """Per (user, session) with a 30-minute inactivity gap: session
    bounds + count + exact sum. session_window merges events closer
    than ``gap``; session end = last event + gap. The batch oracle
    reproduces this with the classic lag()/cumulative-sum session id.
    NULL event times dropped — see tumbling_agg.
    """
    events = events.filter(F.col("ts").isNotNull())
    fmt = _wall_renderer(events)
    return (
        events.groupBy("user_id", F.session_window("ts", gap).alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum("value").alias("sum_value"),
        )
        .select(
            "user_id",
            fmt(F.col("w.start")).alias("session_start"),
            fmt(F.col("w.end")).alias("session_end"),
            "n_events",
            "sum_value",
        )
    )


def interval_join_stream(
    clicks: DataFrame,
    purchases: DataFrame,
    within: str = "1 hour",
    how: str = "inner",
) -> DataFrame:
    """Stream-stream interval join: purchases within ``within`` after
    a click by the same user (the streaming twin of the batch queries
    ``click_purchase_within_1h`` / ``click_purchase_leftouter``).

    Both sides must carry watermarks when streaming; the time-range
    predicate bounds how long click state is retained (Spark evicts a
    click once the purchase-side watermark passes click_ts + within).
    Join on the user_id equi key + the range condition — exactly the
    state-bounded stream-stream join pattern Structured Streaming
    documents; on batch frames the same expression is one hash join.

    ``how``: ``inner`` or ``left_outer``.  Outer results for a click
    with no matching purchase are emitted (null-padded) only once the
    purchase-side watermark passes click_ts + within — i.e. once Spark
    can PROVE no match can still arrive; until then the click sits in
    the state store.  That is why streaming outer joins REQUIRE both
    the watermark and the time bound: without them the "no match"
    claim is undecidable on an unbounded stream.
    """
    if how not in ("inner", "left_outer"):
        raise ValueError(f"unsupported join mode: {how}")
    c = clicks.select(
        F.col("event_id").alias("click_id"),
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("click_ts"),
    )
    p = purchases.select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("purchase_ts"),
    )
    joined = c.join(
        p,
        (F.col("c_user") == F.col("p_user"))
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (
            F.col("purchase_ts")
            < F.col("click_ts") + F.expr(f"INTERVAL {within}")
        ),
        how,
    )
    from corral_spark.operators.timeseries import event_micros

    return joined.select(
        "click_id",
        "purchase_id",
        F.col("c_user").alias("user_id"),
        # event_micros: NTZ wall arithmetic on batch frames,
        # unix_micros on streaming instants — the DIFFERENCE is
        # identical under either mapping (event-time contract).
        (event_micros(p, "purchase_ts") - event_micros(c, "click_ts")).alias(
            "delta_us"
        ),
    )


def dedup_stream(
    events: DataFrame, keys: list[str] | None = None, within: str | None = None
) -> DataFrame:
    """Streaming deduplication on ``keys`` (default: event_id).

    With ``within`` set, uses dropDuplicatesWithinWatermark — state for
    a key is evicted once the watermark passes its first sighting +
    ``within``, so state is bounded for unbounded streams (the 100 TB
    posture: exact-forever dedup state grows without bound; windowed
    dedup is what a production ingest pipeline actually runs). On a
    batch frame (no watermark, ``within=None``) the same call is plain
    dropDuplicates — one shuffle on the key hash.
    """
    keys = keys or ["event_id"]
    if within is not None:
        return events.withWatermark("ts", within).dropDuplicatesWithinWatermark(
            keys
        )
    return events.dropDuplicates(keys)


def stateful_user_totals(events: DataFrame) -> DataFrame:
    """Custom stateful streaming operator via applyInPandasWithState:
    per-user running totals (event count, exact value sum in integer
    cents) maintained in the state store across micro-batches. This is
    the escape hatch for operators the built-in windows can't express
    (the reference's arbitrary-Reducer analog — reference
    mapreduce.go Reducer semantics — but incremental and
    fault-tolerant).

    Exactness contract: ``value`` is projected to integer cents
    JVM-side (the same decimal(12,2) HALF_UP cast as
    functions.det.dec) BEFORE the Python state update, so the state
    accumulation is pure int64 — order-independent across
    micro-batch boundaries and partitionings, and bit-identical to
    the batch GROUP BY oracle. NULL values contribute 0 cents (the
    SQL SUM-ignores-NULL rule, except an all-NULL user sums to 0
    rather than NULL) and still count as events.

    Output per batch: one row per user seen in that batch with the
    updated cumulative totals — ``update`` output mode; downstream
    takes the row with the largest total_events per user as the
    final state (the count is strictly increasing per user).
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    from pyspark.sql.types import (
        LongType,
        StructField,
        StructType,
    )

    import pandas as pd

    from corral_spark.functions.det import dec

    out_schema = StructType(
        [
            StructField("user_id", LongType()),
            StructField("total_events", LongType()),
            StructField("total_value_cents", LongType()),
        ]
    )
    state_schema = StructType(
        [
            StructField("n", LongType()),
            StructField("c", LongType()),
        ]
    )

    cents = F.coalesce(
        (dec("value", 2) * 100).cast("long"), F.lit(0).cast("long")
    )

    def update(key, pdfs, state: GroupState):
        n, c = state.get if state.exists else (0, 0)
        for pdf in pdfs:
            n += len(pdf)
            c += int(pdf["value_cents"].sum()) if len(pdf) else 0
        state.update((n, c))
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "total_events": [n],
                "total_value_cents": [c],
            }
        )

    return (
        events.select("user_id", cents.alias("value_cents"))
        .groupBy("user_id")
        .applyInPandasWithState(
            update,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def foreach_batch_parquet_sink(
    df: DataFrame, path: str, checkpoint_dir: str
):
    """Micro-batch parquet sink via foreachBatch — the arbitrary-sink
    escape hatch (reference F12's TSV sink has no streaming analog;
    this is how a stream lands in any batch-writable target).

    Exactly-once discipline: each micro-batch overwrites its own
    ``batch_id=<n>`` directory, so replays after failure (same batchId
    redelivered from the checkpoint) are idempotent — the documented
    foreachBatch pattern for non-transactional targets. Downstream
    reads treat ``path`` as a partitioned table.

    Returns the started StreamingQuery (availableNow trigger —
    processes everything available, then stops).
    """

    def _write(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.write.mode("overwrite").parquet(
            f"{path}/batch_id={batch_id}"
        )

    return (
        df.writeStream.foreachBatch(_write)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def foreach_batch_upsert_sink(
    df: DataFrame,
    table_dir: str,
    checkpoint_dir: str,
    key_col: str,
    delete_col: str | None = None,
    n_buckets: int = 16,
    fs: "PosixTableFS | None" = None,
):
    """Streaming MERGE: maintain a keyed snapshot table by applying
    each micro-batch of CDC rows with ``operators.merge.merge_upsert``
    — the streaming dimension-table-maintenance pattern (no
    transactional table format required).

    INCREMENTAL by hash bucket: the snapshot is
    hash-clustered into ``n_buckets`` buckets on ``key_col`` (the
    `sources/layout.py` write-clustering discipline, hash flavor), and
    a micro-batch rewrites ONLY the buckets its keys land in. I/O per
    batch is O(touched buckets), not O(table) — a 10 MB CDC batch
    against a 10 TB snapshot moves ~batch-sized data, never the
    snapshot. Untouched buckets' files are not copied, moved, or
    rewritten: the new version's manifest simply keeps pointing at the
    version directory that last wrote them (byte-identical by
    construction — pytest-pinned in test_streaming_restart).

    Layout: ``v=<b>/__bucket=<i>/*.parquet`` holds the buckets batch
    ``b`` rewrote, and ``v=<b>/manifest.json`` — written LAST via an
    atomic rename, so a manifest's presence is the version's commit
    mark — maps every live bucket to the version that owns its current
    data. ``n_buckets`` is pinned by the first manifest; later batches
    read it from there, so the constructor value only matters at table
    creation.

    Exactly-once via snapshot VERSIONING, as before: batch ``b``
    computes from the newest COMMITTED manifest with version < b, so a
    replay after failure (same batchId redelivered from the
    checkpoint) rebuilds ``v=<b>`` from the same predecessor — an
    idempotent overwrite, never a second application on top of its own
    output. Readers assemble the newest manifest's bucket set
    (``read_upsert_snapshot``).

    Contract: SINGLE-WRITER — exactly one streaming query may own a
    table dir at a time (the checkpoint is part of the table; there is
    no multi-writer conflict detection), and at most one update row
    per key per micro-batch (pre-aggregate upstream if the CDC feed
    can emit more — within a micro-batch there is no event order to
    break the tie with).

    ``fs`` injects the manifest/commit filesystem seam (PosixTableFS
    by default). On object stores whose rename is not atomic (S3),
    pass a seam with ``atomic_rename=False``: the commit protocol
    switches from atomic-rename manifest publication to the
    marker-file discipline (manifest PUT, then an atomic zero-byte
    ``_COMMITTED`` PUT — crash between the two leaves an uncommitted,
    invisible version that replay overwrites; crash-replay safety is
    pytest-pinned with an injected non-atomic fake in
    test_streaming_restart). Bulk parquet data always flows through
    Spark's own Hadoop filesystem regardless of the seam.

    Upgrading a pre-manifest table (the earlier full-snapshot layout,
    version dirs with no manifest.json): keep its checkpoint — the
    first new batch detects the newest legacy full snapshot below its
    batch id, reads it whole, and rewrites EVERY bucket once (a
    one-time table-sized migration write); batches after that are
    incremental. Without the old checkpoint, batch ids restart at 0
    and no version can be "below" them — the same data-loss hazard
    the old sink had, so the checkpoint is part of the table.

    Returns the started StreamingQuery (availableNow trigger).
    """

    def _write(batch_df: DataFrame, batch_id: int) -> None:
        # Two actions consume the batch (touched-bucket collect, then
        # the merge write); cache it so the CDC source files are read
        # and decoded once per micro-batch, not once per action.
        batch_df.persist()
        try:
            _apply(batch_df, batch_id)
        finally:
            batch_df.unpersist()

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        from pyspark.sql.types import StructType

        spark = batch_df.sparkSession
        base = _latest_manifest(table_dir, below=int(batch_id), fs=fs)
        legacy_v = (
            _latest_plain_version(table_dir, below=int(batch_id), fs=fs)
            if base is None
            else None
        )
        if legacy_v is not None:
            _assert_genuine_legacy(table_dir, legacy_v, fs=fs)
        nb = base["n_buckets"] if base else n_buckets
        bucket_of = F.pmod(
            F.xxhash64(F.col(key_col).cast("string")), F.lit(nb)
        ).cast("int")
        owned = base["buckets"] if base else {}
        if legacy_v is not None:
            # One-time MIGRATION of a pre-manifest table (written by
            # the old full-snapshot sink): read the newest legacy full
            # snapshot and rewrite EVERY bucket under this version, so
            # accumulated keys are never silently dropped. Subsequent
            # batches are incremental.
            touched = list(range(nb))
            # Project to the CDC value columns: a legacy dir may carry
            # extra partition columns (e.g. a __bucket dir layout from
            # a manifest that was lost) that must not enter the merge.
            value_cols = [
                f.name for f in batch_df.schema.fields if f.name != delete_col
            ]
            current = spark.read.parquet(f"{table_dir}/v={legacy_v}").select(
                *value_cols
            )
        else:
            touched = sorted(
                r["b"]
                for r in batch_df.select(bucket_of.alias("b"))
                .distinct()
                .collect()
            )
            cur_paths = [
                f"{table_dir}/v={owned[str(b)]}/__bucket={b}"
                for b in touched
                if str(b) in owned
            ]
            if cur_paths:
                current = _read_buckets(spark, cur_paths, base)
            else:
                value_schema = StructType(
                    [
                        f
                        for f in batch_df.schema.fields
                        if f.name != delete_col
                    ]
                )
                current = _empty_frame(spark, value_schema)
        merged = merge_upsert(current, batch_df, key_col, delete_col)
        out_dir = f"{table_dir}/v={batch_id}"
        (
            merged.withColumn("__bucket", bucket_of)
            .write.mode("overwrite")
            .partitionBy("__bucket")
            .parquet(out_dir)
        )
        # A touched bucket whose merge result is empty (all keys
        # deleted) writes no directory: it must drop out of the
        # manifest, so list what was actually written.
        written = {
            int(d.split("=", 1)[1])
            for d in (fs or _POSIX_FS).listdir(out_dir)
            if d.startswith("__bucket=")
        }
        buckets = {
            b: v for b, v in owned.items() if int(b) not in set(touched)
        }
        buckets.update({str(b): int(batch_id) for b in written})
        # The value schema rides in the manifest so a reader of an
        # ALL-KEYS-DELETED snapshot (a legitimate committed state with
        # an empty bucket map) can still construct the empty frame.
        _commit_manifest(
            out_dir,
            {
                "n_buckets": nb,
                "buckets": buckets,
                "schema": merged.schema.jsonValue(),
            },
            fs=fs,
        )

    from corral_spark.operators.merge import merge_upsert

    return (
        df.writeStream.foreachBatch(_write)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


class PosixTableFS:
    """Filesystem seam for the CDC upsert sink's MANIFEST/COMMIT
    protocol — injected like the PIL seam in operators/multimodal, so
    the commit discipline is testable (and swappable) independently of
    the bulk parquet I/O, which always flows through Spark's own
    Hadoop filesystem (s3a/abfs/gcs on a real cluster).

    ``atomic_rename=True`` declares that ``rename`` is atomic
    (POSIX/HDFS): a manifest's PRESENCE is then the version's commit
    mark. Subclasses modeling object stores where rename is
    copy+delete (S3) set ``atomic_rename=False``, and the protocol
    switches to a MARKER-FILE commit: the manifest is PUT first, then
    a zero-byte ``_COMMITTED`` marker object — a single object PUT is
    atomic on every real object store, so the marker's existence is
    the commit mark and a crash between the two writes leaves an
    uncommitted (invisible) version that replay simply overwrites.
    Readers under either discipline see only committed versions
    (`_is_committed`)."""

    atomic_rename = True

    def listdir(self, path: str) -> list[str]:
        import os

        return os.listdir(path)

    def isdir(self, path: str) -> bool:
        import os

        return os.path.isdir(path)

    def isfile(self, path: str) -> bool:
        import os

        return os.path.isfile(path)

    def read_text(self, path: str) -> str:
        with open(path) as f:
            return f.read()

    def put_text(self, path: str, data: str) -> None:
        """Full-object write (the object-store PUT shape)."""
        with open(path, "w") as f:
            f.write(data)

    def rename(self, src: str, dst: str) -> None:
        import os

        os.replace(src, dst)


_POSIX_FS = PosixTableFS()
COMMIT_MARKER = "_COMMITTED"


def _commit_manifest(version_dir: str, manifest: dict, fs=None) -> None:
    """Commit ``version_dir``: atomic-rename manifest publication on
    filesystems that have atomic rename, marker-file protocol on
    those that don't (see PosixTableFS)."""
    import json

    fs = fs or _POSIX_FS
    mpath = f"{version_dir}/manifest.json"
    if fs.atomic_rename:
        tmp = f"{version_dir}/manifest.json.tmp"
        fs.put_text(tmp, json.dumps(manifest))
        fs.rename(tmp, mpath)
    else:
        fs.put_text(mpath, json.dumps(manifest))
        fs.put_text(f"{version_dir}/{COMMIT_MARKER}", "")


def _is_committed(version_dir: str, fs) -> bool:
    if fs.atomic_rename:
        return fs.isfile(f"{version_dir}/manifest.json")
    return fs.isfile(f"{version_dir}/{COMMIT_MARKER}") and fs.isfile(
        f"{version_dir}/manifest.json"
    )


def _latest_version_dir(
    table_dir: str, below: int | None, committed: bool, fs=None
) -> int | None:
    """Newest ``v=<N>`` directory (< ``below`` if given) that is /
    is not COMMITTED per the seam's discipline — the one directory
    scan both the committed-manifest and legacy-snapshot lookups
    share."""
    fs = fs or _POSIX_FS
    if not fs.isdir(table_dir):
        return None
    best = None
    for d in fs.listdir(table_dir):
        if not d.startswith("v="):
            continue
        v = int(d.split("=", 1)[1])
        if below is not None and v >= below:
            continue
        if _is_committed(f"{table_dir}/{d}", fs) != committed:
            continue
        if best is None or v > best:
            best = v
    return best


def _latest_manifest(table_dir: str, below: int | None = None, fs=None):
    """Newest COMMITTED manifest (dict with its ``version`` added), or
    None. Uncommitted version dirs are either debris from a crashed
    batch (replay overwrites them) or a legacy pre-manifest snapshot
    (see _latest_plain_version)."""
    import json

    fs = fs or _POSIX_FS
    best = _latest_version_dir(table_dir, below, committed=True, fs=fs)
    if best is None:
        return None
    m = json.loads(fs.read_text(f"{table_dir}/v={best}/manifest.json"))
    m["version"] = best
    return m


def _latest_plain_version(
    table_dir: str, below: int | None = None, fs=None
):
    """Newest UNcommitted version directory — a full snapshot written
    by the pre-manifest sink. None if absent. Callers MUST
    validate the candidate with _assert_genuine_legacy before treating
    it as a full snapshot."""
    return _latest_version_dir(table_dir, below, committed=False, fs=fs)


def _assert_genuine_legacy(table_dir: str, legacy_v: int, fs=None) -> None:
    """Refuse to 'migrate' crash debris as a legacy full snapshot. A
    genuine pre-manifest snapshot has plain parquet files in
    its version dir; a NEW-layout version left by a crashed batch has
    ``__bucket=`` partition subdirectories. If the checkpoint was lost
    or rebuilt (batch ids restart at 0), such debris could otherwise
    be silently committed as if it were the whole table, dropping
    every key outside its touched buckets — fail loudly instead (the
    operator must restore the checkpoint or the last committed
    manifest, which IS still on disk)."""
    fs = fs or _POSIX_FS
    vdir = f"{table_dir}/v={legacy_v}"
    buckets = [
        d for d in fs.listdir(vdir) if d.startswith("__bucket=")
    ]
    if buckets:
        raise RuntimeError(
            f"{vdir} has no commit mark but contains bucket partitions "
            f"({buckets[:3]}...): this is an uncommitted NEW-layout "
            "version (likely crash debris after checkpoint loss), not a "
            "legacy full snapshot — refusing migration. Restore the "
            "checkpoint (it is part of the table) or delete the debris "
            "after recovering from the newest committed manifest."
        )


def read_upsert_snapshot(
    spark: SparkSession, table_dir: str, fs: "PosixTableFS | None" = None
) -> DataFrame:
    """Latest snapshot written by ``foreach_batch_upsert_sink``: the
    union of every bucket the newest committed manifest points at
    (each read from the version directory that last wrote it).
    Pre-manifest tables (old full-snapshot layout) fall back to the
    newest plain version directory; an ALL-KEYS-DELETED snapshot
    (committed manifest, empty bucket map) returns an EMPTY frame
    with the schema recorded in the manifest — both are legitimate
    states, not errors."""
    m = _latest_manifest(table_dir, fs=fs)
    if m is None:
        legacy_v = _latest_plain_version(table_dir, fs=fs)
        if legacy_v is None:
            raise FileNotFoundError(
                f"no committed snapshots under {table_dir}"
            )
        _assert_genuine_legacy(table_dir, legacy_v, fs=fs)
        return spark.read.parquet(f"{table_dir}/v={legacy_v}")
    paths = [
        f"{table_dir}/v={v}/__bucket={b}" for b, v in m["buckets"].items()
    ]
    if not paths:
        from pyspark.sql.types import StructType

        schema = StructType.fromJson(m["schema"])
        return _empty_frame(spark, schema)
    return _read_buckets(spark, paths, m)


def _empty_frame(spark: SparkSession, schema) -> DataFrame:
    """An empty frame with exactly ``schema`` (nullability and field
    metadata included), built on the JVM as a local relation.
    ``spark.createDataFrame([], schema)`` parallelizes an empty Python
    list instead: reading it ran one Python task per default-parallelism
    slot (4 on local[4], ~0.7 s of executor time for no rows)."""
    jspark = spark._jsparkSession
    rows = spark._jvm.java.util.ArrayList()
    jschema = jspark.parseDataType(schema.json())
    return DataFrame(jspark.createDataFrame(rows, jschema), spark)


def _read_buckets(
    spark: SparkSession, paths: list[str], manifest: dict
) -> DataFrame:
    """Parquet read of bucket directories a manifest points at. The
    manifest records the value schema the buckets were written with;
    passing it skips schema inference (a footer-reading Spark job).
    A manifest without a ``schema`` is inferred from the files."""
    from pyspark.sql.types import StructType

    schema = manifest.get("schema")
    if schema is None:
        return spark.read.parquet(*paths)
    return spark.read.schema(StructType.fromJson(schema)).parquet(*paths)


def run_available_now(
    df: DataFrame, name: str, output_mode: str = "complete"
) -> DataFrame:
    """Execute a streaming frame with the availableNow trigger into a
    memory sink and return the materialized result — processes all
    currently-available input then stops (the batch-equivalence
    harness for streaming ops). Aggregations use ``complete``;
    applyInPandasWithState requires ``update``."""
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return df.sparkSession.sql(f"SELECT * FROM {name}")


def foreach_batch_rollup_sink(
    df: DataFrame,
    table_dir: str,
    checkpoint_dir: str,
    key_cols: list[str],
    sum_cols: list[str],
    count_col: str = "n",
    sign_col: str | None = None,
    fs: "PosixTableFS | None" = None,
):
    """Streaming ROLLUP maintenance: fold each micro-batch into a
    COUNT/SUM group-by snapshot with
    ``operators.merge.apply_agg_delta`` — the aggregate sibling of
    ``foreach_batch_upsert_sink``. Append-only streams omit
    ``sign_col`` (every row is a +1 insert); CDC streams pass a
    +1/-1 column and deletes retract. Per batch the work is O(delta)
    to fold plus O(rollup) to publish — and a rollup is GROUPS-sized
    (small by nature; the hash-bucketed incremental layout is the
    ROW-table solution), so full-snapshot versions are the right
    publication unit here.

    Same commit/replay discipline as the upsert sink: version
    ``v=<batchId>`` computed from the newest COMMITTED manifest below
    the batch id, published via the injected filesystem seam's atomic
    commit (rename or marker-file), so a checkpoint replay rebuilds
    its version from the same predecessor — idempotent overwrite,
    never double application. SINGLE-WRITER, checkpoint is part of
    the table. MIN/MAX are deliberately out of scope (not
    self-maintainable under retraction — apply_agg_delta's
    documented boundary). Returns the started StreamingQuery
    (availableNow trigger); read with ``read_rollup_snapshot``."""
    from corral_spark.operators.merge import apply_agg_delta

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        base = _latest_manifest(table_dir, below=int(batch_id), fs=fs)
        if base is None:
            # Aggregating an empty slice of the batch derives the
            # rollup schema (incl. sum types) without hand-building it.
            prev = (
                batch_df.limit(0)
                .groupBy(*key_cols)
                .agg(
                    F.count(F.lit(1)).alias(count_col),
                    *[F.sum(c).alias(c) for c in sum_cols],
                )
            )
        else:
            prev = spark.read.parquet(
                f"{table_dir}/v={base['version']}/data"
            )
        delta = (
            batch_df.withColumn("__sign", F.lit(1))
            if sign_col is None
            else batch_df.withColumn(
                "__sign", F.col(sign_col).cast("int")
            )
        )
        new = apply_agg_delta(
            prev,
            delta.select(*key_cols, *sum_cols, "__sign"),
            key_cols,
            sum_cols,
            count_col,
            "__sign",
        )
        out_dir = f"{table_dir}/v={batch_id}"
        # Data under data/ keeps the manifest (and commit marker) out
        # of the parquet directory the reader loads.
        new.write.mode("overwrite").parquet(f"{out_dir}/data")
        _commit_manifest(
            out_dir,
            {"kind": "rollup", "schema": new.schema.jsonValue()},
            fs=fs,
        )

    return (
        df.writeStream.foreachBatch(_apply)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def read_rollup_snapshot(
    spark: SparkSession, table_dir: str, fs: "PosixTableFS | None" = None
) -> DataFrame:
    """Latest committed rollup written by foreach_batch_rollup_sink."""
    m = _latest_manifest(table_dir, fs=fs)
    if m is None:
        raise FileNotFoundError(f"no committed rollups under {table_dir}")
    return spark.read.parquet(f"{table_dir}/v={m['version']}/data")
