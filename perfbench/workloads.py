"""The benchmark's ops and workloads.

An op is one unit a user waits for: a registry query built by name and
forced by a one-row digest over every output column, or one ETL job
(MapReduce driver run, TSV sink write, streaming upsert). Each op has
two timed phases, ``build`` and ``act``, and an untimed ``check`` that
compares the result with a reference computed without Spark: the
query's DuckDB oracle, or a plain-Python count over the generated text.

Only stable public surfaces of ``corral_spark`` are used: registry
queries by name, ``load_table``, ``Driver``/``MultiStageDriver``,
``write_tsv_kv`` and the streaming upsert sink.
"""

from __future__ import annotations

import glob
import os
import re
import shutil
from collections import Counter
from dataclasses import dataclass, field
from typing import Any, Callable

import duckdb
import pyarrow.parquet as pq

from perfbench.digest import digest, oracle_digest

#: Registry queries of the read-path half of ``olap_etl``: the
#: reference's own queries (word count, AMPLab 1-3). The relational and
#: event-time queries are left out to keep a pass near 7 s, so that a
#: run fits several passes.
OLAP_QUERIES = (
    "wordcount",
    "amplab1",
    "amplab2",
    "amplab3",
)

#: Registry queries of the dedup workload. ``pretrain_corpus_full``
#: (~16 s of a run: warm-up, pass and oracle) and
#: ``cross_corpus_near_dups`` (a second MinHash query, ~3 s a pass) are
#: left out of the timed ops to keep a pass near 10 s; a traced run
#: calls their pipeline and operator directly (trace.layer_extras).
DEDUP_QUERIES = (
    "minhash_pairs_docs",
    "gram_dedup_docs",
    "ppjoin_neighbor_counts",
    "fuzzy_customer_pairs",
)

#: ETL ops (write path): MapReduce facade, TSV sink, streaming upsert.
ETL_OPS = ("mr_wordcount", "mr_two_stage", "tsv_wordcount", "stream_upsert")

#: The reference's workload in both forms (registry queries on the read
#: path, MapReduce/sink/streaming jobs on the write path), and dedup.
WORKLOADS: dict[str, tuple[str, ...]] = {
    "olap_etl": OLAP_QUERIES + ETL_OPS,
    "dedup": DEDUP_QUERIES,
}

#: Prefix kept by the second stage of the two-stage MapReduce job.
PREFIX = "s"

EVENTS_SCHEMA = (
    "event_id long, ts timestamp, user_id long, event_type string,"
    " value double, props string"
)


@dataclass
class Ctx:
    """What every op needs: the session and where its inputs live."""

    spark: Any
    sf_dir: str
    corpus_dir: str
    cdc_dir: str
    out_dir: str
    refs: dict = field(default_factory=dict)  # query name -> oracle digest


@dataclass
class Op:
    name: str
    layer: str  # the repo module the op enters through
    build: Callable[[], Any]
    act: Callable[[Any], Any]
    check: Callable[[Any], bool]


# ---------------------------------------------------------------- queries


def query_op(ctx: Ctx, name: str) -> Op:
    from corral_spark.queries import REGISTRY

    q = REGISTRY[name]

    def act(df):
        return digest(df), df.schema

    def check(result) -> bool:
        got, schema = result
        if name not in ctx.refs:  # first run: the oracle digest is the ref
            ctx.refs[name] = oracle_digest(ctx.spark, ctx.sf_dir, q.oracle, schema)
        return got == ctx.refs[name]

    return Op(name, "queries", lambda: q.spark(ctx.spark, ctx.sf_dir), act, check)


# -------------------------------------------------------------------- ETL


def tokens(text: str) -> list[str]:
    """The reference word-count tokenizer (word_count.go:14-27)."""
    return re.sub(r"[^a-zA-Z0-9\s]+", " ", text).lower().split()


def read_kv_dir(path: str, pattern: str) -> dict[str, str]:
    out: dict[str, str] = {}
    for f in glob.glob(os.path.join(path, pattern)):
        with open(f) as fh:
            for line in fh:
                k, _, v = line.rstrip("\n").partition("\t")
                if k in out:
                    raise ValueError(f"duplicate key {k!r} in {path}")
                out[k] = v
    return out


def corpus_counts(corpus_dir: str) -> Counter:
    c: Counter = Counter()
    for f in sorted(glob.glob(os.path.join(corpus_dir, "*.txt"))):
        with open(f) as fh:
            for line in fh:
                c.update(line.split())
    return c


def _as_str(c: Counter) -> dict[str, str]:
    return {k: str(v) for k, v in c.items()}


def _out(ctx: Ctx, name: str) -> str:
    """Where one ETL op writes; its check deletes it (``_checked``)."""
    return os.path.join(ctx.out_dir, name)


def _checked(ok: bool, path: str) -> bool:
    """Delete an op's output once its check is done; return the verdict."""
    shutil.rmtree(path, ignore_errors=True)
    return ok


def _run_driver(driver):
    driver.run()
    return driver


def mr_wordcount_op(ctx: Ctx) -> Op:
    from corral_spark.mapreduce import Driver, Job

    from perfbench.mrjobs import WordCountMapper, WordCountReducer

    expected = _as_str(corpus_counts(ctx.corpus_dir))
    inputs = [os.path.join(ctx.corpus_dir, "*.txt")]

    def build():
        job = Job(WordCountMapper(), WordCountReducer())
        return Driver(job, inputs, _out(ctx, "mr_wordcount"), spark=ctx.spark)

    def check(driver) -> bool:
        path = driver.working_location
        return _checked(read_kv_dir(path, "output-part-*") == expected, path)

    return Op("mr_wordcount", "mapreduce", build, _run_driver, check)


def mr_two_stage_op(ctx: Ctx) -> Op:
    from corral_spark.mapreduce import Job, MultiStageDriver

    from perfbench.mrjobs import PrefixFilter, WordCountMapper, WordCountReducer

    counts = corpus_counts(ctx.corpus_dir)
    expected = _as_str(Counter({k: v for k, v in counts.items() if k.startswith(PREFIX)}))
    inputs = [os.path.join(ctx.corpus_dir, "*.txt")]

    def build():
        jobs = [
            Job(WordCountMapper(), WordCountReducer()),
            Job(PrefixFilter(PREFIX), PrefixFilter(PREFIX)),
        ]
        return MultiStageDriver(jobs, inputs, _out(ctx, "mr_two_stage"), spark=ctx.spark)

    def check(driver) -> bool:
        path = driver.working_location
        got = read_kv_dir(os.path.join(path, "job1"), "output-part-*")
        return _checked(got == expected, path)

    return Op("mr_two_stage", "mapreduce", build, _run_driver, check)


def tsv_wordcount_op(ctx: Ctx) -> Op:
    from pyspark.sql import functions as F

    from corral_spark.queries import REGISTRY
    from corral_spark.sources import sinks

    docs = pq.read_table(os.path.join(ctx.sf_dir, "documents.parquet"), columns=["text"])
    expected = _as_str(Counter(w for t in docs.column("text").to_pylist() for w in tokens(t)))

    def build():
        df = REGISTRY["wordcount"].spark(ctx.spark, ctx.sf_dir)
        kv = df.select(F.col("word").alias("key"), F.col("cnt").alias("value"))
        return kv, _out(ctx, "tsv_wordcount")

    def act(arg):
        kv, path = arg
        sinks.write_tsv_kv(kv, path)  # module lookup: a traced run wraps it
        return path

    def check(path) -> bool:
        return _checked(read_kv_dir(path, "part-*") == expected, path)

    return Op("tsv_wordcount", "sources", build, act, check)


def stream_upsert_op(ctx: Ctx) -> Op:
    from corral_spark.streaming.ops import foreach_batch_upsert_sink, read_upsert_snapshot

    con = duckdb.connect()
    expected = set(con.execute(
        "SELECT event_id, user_id, event_type, value FROM read_parquet(?)"
        " QUALIFY row_number() OVER (PARTITION BY user_id"
        " ORDER BY ts DESC, event_id DESC) = 1",
        [os.path.join(ctx.cdc_dir, "*.parquet")],
    ).fetchall())
    con.close()

    def build():
        root = _out(ctx, "stream_upsert")
        stream = (
            ctx.spark.readStream.schema(EVENTS_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(ctx.cdc_dir)
        )
        return stream, os.path.join(root, "table"), os.path.join(root, "ckpt")

    def act(arg):
        stream, table, ckpt = arg
        q = foreach_batch_upsert_sink(stream, table, ckpt, "user_id")
        q.awaitTermination()
        if q.exception() is not None:
            raise RuntimeError(str(q.exception()))
        return table, q

    def check(result) -> bool:
        table, _q = result
        rows = read_upsert_snapshot(ctx.spark, table).select(
            "event_id", "user_id", "event_type", "value"
        ).collect()
        return _checked({tuple(r) for r in rows} == expected, os.path.dirname(table))

    return Op("stream_upsert", "streaming", build, act, check)


ETL_FACTORIES = {
    "mr_wordcount": mr_wordcount_op,
    "mr_two_stage": mr_two_stage_op,
    "tsv_wordcount": tsv_wordcount_op,
    "stream_upsert": stream_upsert_op,
}


def make_ops(ctx: Ctx, workload: str) -> list[Op]:
    return [
        ETL_FACTORIES[n](ctx) if n in ETL_FACTORIES else query_op(ctx, n)
        for n in WORKLOADS[workload]
    ]
