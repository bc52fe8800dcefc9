"""In-query metrics counters — the engine-side analog of the
reference's bytesRead/bytesWritten task counters (reference
job.go:29-30, driver.go:214-215, SURVEY F17).

``df.observe`` attaches aggregates that are computed DURING the
action with no extra pass over the data — the Spark-idiomatic way to
count rows/bytes/nulls in a 100 TB pipeline without a second scan.
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F


def observed(df: DataFrame, *metrics, name: str = "metrics"):
    """Attach observation metrics; returns (df, observation).

    After any action on the returned df, ``observation.get`` yields
    the metric dict. WARNING: ``observation.get`` BLOCKS until an
    action completes — calling it before running the df hangs the
    caller indefinitely (observed, not just documented). Default
    metric: row count.
    """
    obs = Observation(name)
    if not metrics:
        metrics = (F.count(F.lit(1)).alias("rows"),)
    return df.observe(obs, *metrics), obs


def observed_rows_and_nulls(df: DataFrame, cols: list[str]):
    """Count rows plus per-column null counts in one pass — the
    standard data-quality counter block for ingestion pipelines."""
    metrics = [F.count(F.lit(1)).alias("rows")] + [
        F.sum(F.col(c).isNull().cast("long")).alias(f"nulls_{c}") for c in cols
    ]
    return observed(df, *metrics)


def stage_counts(stages: dict[str, DataFrame]) -> dict[str, int]:
    """Row count of each named stage frame of one operator build, in
    order. Each frame is persisted before it is counted, so a later
    stage reads the earlier ones through Spark's cache manager instead
    of recomputing them (uncached, each MinHash count cost 0.5-0.8 s
    more at sf0.1). Only the frames persisted here are unpersisted,
    never every persisted RDD of the context, which would pull blocks
    out from under a query on another thread; a frame cached on entry
    stays cached. ``observe`` cannot serve: it rejects distinct
    aggregates, sees only the output path, and reads 0 upstream of a
    lazy ``localCheckpoint``.
    """
    counts: dict[str, int] = {}
    persisted: list[DataFrame] = []
    try:
        for name, frame in stages.items():
            if frame.storageLevel == StorageLevel.NONE:
                persisted.append(frame.persist())
            counts[name] = frame.count()
    finally:
        for frame in persisted:
            frame.unpersist()
    return counts
