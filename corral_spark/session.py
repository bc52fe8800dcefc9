"""SparkSession construction tuned for the engine.

The reference's tuning surface is split sizes and task fan-out
(reference config.go:23-31, split.go:33-93); on Spark those map to
``spark.sql.files.maxPartitionBytes`` and AQE. We enable AQE so the
reference's static reducer-count formula (reference job.go:221-224) is
superseded by runtime partition coalescing and skew-join splitting,
and Arrow so any Pandas-UDF path is batch-transferred.

Scale posture: these defaults are written for a real multi-executor
cluster; on ``local[N]`` they behave sensibly too. Nothing here pins
local mode except the test/bench entry points.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: Defaults chosen for 100 TB-scale behavior; every one is overridable.
ENGINE_CONF: dict[str, str] = {
    # AQE replaces the reference's static `bins = size/reduceBinSize*1.25`
    # heuristic (job.go:221-224) with runtime coalescing + skew handling.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow for every Python<->JVM batch boundary (pandas UDFs).
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Reference splits input at 100 MB (config.go:28); 128 MB is the
    # Spark-idiomatic equivalent and keeps scan partitions executor-sized.
    "spark.sql.files.maxPartitionBytes": str(128 * 1024 * 1024),
    # Broadcast joins for dimension tables (region/nation/customer dims).
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    # Session timezone pinned so timestamp semantics match the DuckDB
    # oracle regardless of host zone.
    "spark.sql.session.timeZone": "UTC",
    # ANSI off: permissive casts mirror the reference's skip-bad-rows
    # policy (amplab2.go:38-40) — failed parses become NULL, not errors.
    "spark.sql.ansi.enabled": "false",
    # events.ts is TIMESTAMP(NANOS) parquet, which the vectorized reader
    # rejects; read as long and convert (sources.tables.load_table).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Generated-class cache (a static conf; Spark's default holds 100
    # classes). One pass of the four dedup registry queries at sf0.01
    # generates ~190 (minhash_pairs_docs 51, ppjoin_neighbor_counts
    # 68-76, gram_dedup_docs 34, fuzzy_customer_pairs 30), so at 100 the
    # LRU evicts a query's classes before it runs again and every run
    # recompiles them: a warm local[4] pass took 7.6 s at 100 entries and
    # 6.0 s at 1000 (perfbench dedup medians).
    # 1000 holds that working set five times over (all 141 registry
    # queries together generate ~1,930 at sf0.001). build_session
    # creates the cache itself, so that this size applies.
    "spark.sql.codegen.cache.maxEntries": "1000",
}

# Runtime bloom-filter join pruning is part of the engine posture; see
# RUNTIME_FILTER_CONF below (merged here so every session gets it).


#: Runtime-filter posture for large fact-fact joins: when one join
#: side carries a selective filter, Spark injects a bloom filter on
#: the other side's scan (row-group pruning before the shuffle). The
#: feature is on by default; these knobs are the 100 TB tuning — the
#: creation side may be up to ~100 MB of filtered keys, and the
#: application side must be big enough to be worth pruning (Spark's
#: 10 GB default is kept — local tests lower it explicitly).
RUNTIME_FILTER_CONF: dict[str, str] = {
    "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
    "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
}


def object_store_conf(
    committer: str = "magic", include_committer_protocol: bool = True
) -> dict[str, str]:
    """Conf block for object-store (s3a://) reads and writes — the
    Spark-native answer to the reference's hand-rolled S3 filesystem
    (reference internal/pkg/corfs/s3.go:20-224: glob emulation, ranged
    reads, multipart upload). Spark/Hadoop's s3a connector provides
    all of that; what the engine owns is a correct committer choice:
    rename-based commit is O(data) and non-atomic on S3, so the
    S3A "magic" committer (multipart-upload manifests, task commit =
    complete-the-upload) is the at-scale default.

    Returned as a dict for ``build_session(extra_conf=...)`` — not
    baked into ENGINE_CONF because local/file runs don't want the
    committer switch.

    ``include_committer_protocol`` gates the two commit-protocol CLASS
    keys. They require the ``spark-hadoop-cloud`` module on the JVM
    classpath (NOT shipped in the pip pyspark distribution): Spark
    validates the class when the conf binds, so with the jars absent a
    runtime ``conf.set`` raises IllegalArgumentException and setting
    them at session build wedges session-state initialization
    (measured on pyspark 4.1: any later RuntimeConfig access hangs).
    Pass ``False`` on jar-less installs — the probe
    ``tools/storage_shuffle_probe.py`` demonstrates both behaviors and
    is the executable contract for this function.
    """
    conf = {
        "spark.hadoop.fs.s3a.committer.name": committer,
        # Ranged-read tuning for columnar formats (corfs does ranged
        # GETs for record splitting, s3.go:118-160; s3a's random mode
        # is the same idea applied to parquet footers/pages).
        "spark.hadoop.fs.s3a.experimental.input.fadvise": "random",
        "spark.hadoop.fs.s3a.connection.maximum": "96",
        "spark.hadoop.fs.s3a.fast.upload": "true",
    }
    if include_committer_protocol:
        conf.update(
            {
                "spark.sql.sources.commitProtocolClass": (
                    "org.apache.spark.internal.io.cloud.PathOutputCommitProtocol"
                ),
                "spark.sql.parquet.output.committer.class": (
                    "org.apache.spark.internal.io.cloud.BindingParquetOutputCommitter"
                ),
            }
        )
    return conf


#: The Scala object that owns the generated-class cache.
_CODEGEN_OBJECT = "org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator$"


def build_session(
    app_name: str = "corral_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Create (or get) a SparkSession with engine defaults.

    ``master=None`` leaves cluster selection to spark-submit / env —
    the production path. Tests pass ``local[N]`` explicitly.
    """
    builder = SparkSession.builder.appName(app_name)
    if master:
        builder = builder.master(master)
    conf = {**ENGINE_CONF, **RUNTIME_FILTER_CONF}
    if shuffle_partitions is not None:
        conf["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    # The JVM sizes the generated-class cache once, from ``SQLConf.get``
    # on whichever thread first generates code. Only this thread has the
    # new session active; a first query from another Python thread reads
    # Spark's defaults and leaves the cache at 100 entries. Initialising
    # the cache's owner here applies the session's
    # ``spark.sql.codegen.cache.maxEntries``. It runs no job; reading the
    # conf builds the session state the first query would build anyway
    # (0.4-0.8 s on local[4]), so that cost moves into session start.
    spark._jvm.java.lang.Class.forName(_CODEGEN_OBJECT)
    return spark


def codegen_compiles(spark: SparkSession) -> int:
    """Classes Janino has compiled in this JVM so far: the count of
    Spark's ``CodegenMetrics.METRIC_COMPILATION_TIME`` histogram. A warm
    query that still adds to it lost its classes from the cache."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def local_session(app_name: str = "corral_spark-local") -> SparkSession:
    """Session for local tests/bench: local[$SPARK_GRAFT_CPUS]."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    n_shuffle = 32 if cpus == "*" else max(int(cpus), 1)
    return build_session(
        app_name,
        master=f"local[{cpus}]",
        shuffle_partitions=n_shuffle,
        extra_conf={"spark.driver.memory": "8g", "spark.ui.enabled": "false"},
    )
