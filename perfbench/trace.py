"""Traced runs: spans and per-layer counters, measured from outside
the program.

Spans nest pass -> op -> {build, action} -> Spark job, plus one span
per call into a wrapped public function of a layer (``load_table``,
``write_tsv_kv``, ``materialize``, the pretraining pipeline). Job
intervals and stage metrics come from Spark's status store, read
right after each op: the store keeps only ``spark.ui.retainedStages``
stages. Every op runs under its own job group so its jobs can be
listed with ``statusTracker().getJobIdsForGroup``.

Spans stay in memory and are written out once, when the run ends.
``NullTracer`` has the same interface and does nothing; untraced runs
use it, so the end-to-end numbers carry no tracing cost.
"""

from __future__ import annotations

import functools
import importlib
import json
import os
import statistics
import sys
import time
from collections import defaultdict
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError

MB = 1e6

#: (defining module, public function, counter prefix) wrapped in a traced run.
WRAPPED = (
    ("corral_spark.sources.tables", "load_table", "sources.load"),
    ("corral_spark.sources.sinks", "write_tsv_kv", "sources.sink"),
    ("corral_spark.pipelines.pretrain", "prepare_pretraining_corpus", "pipelines.pretrain"),
    ("corral_spark.materialize", "materialize", "materialize.barrier"),
    ("corral_spark.materialize", "iter_barrier", "materialize.barrier"),
)

#: Dedup registry query -> the per-layer metric of its operator's direct call.
OPERATOR_CALLS = {
    "minhash_pairs_docs": "operators.minhash_s",
    "cross_corpus_near_dups": "operators.minhash_across_s",
    "gram_dedup_docs": "operators.gram_s",
    "ppjoin_neighbor_counts": "operators.ppjoin_s",
    "fuzzy_customer_pairs": "operators.fuzzy_s",
}

#: Every per-layer metric a traced run reports: name -> unit.
LAYER_METRICS = {
    "session.start_s": "s",
    "session.warm_s": "s",
    "sources.load_s": "s",
    "sources.scan_s": "s",
    "sources.input_mb": "MB",
    "sources.sink_s": "s",
    "sources.output_mb": "MB",
    "queries.build_s": "s",
    "queries.build_jobs": "count",
    "queries.action_s": "s",
    "queries.jobs": "count",
    "queries.stages": "count",
    "queries.tasks": "count",
    "queries.sched_gap_s": "s",
    "queries.slot_util": "fraction",
    "queries.exec_run_s": "s",
    "queries.exec_cpu_s": "s",
    "queries.gc_s": "s",
    "queries.shuffle_write_mb": "MB",
    "queries.shuffle_read_mb": "MB",
    "queries.spill_mb": "MB",
    "operators.minhash_s": "s",
    "operators.minhash_across_s": "s",
    "operators.gram_s": "s",
    "operators.ppjoin_s": "s",
    "operators.fuzzy_s": "s",
    "pipelines.pretrain_s": "s",
    "materialize.barriers": "count",
    "materialize.storage_mb": "MB",
    "mapreduce.map_s": "s",
    "mapreduce.reduce_s": "s",
    "mapreduce.shuffle_mb": "MB",
    "mapreduce.commit_s": "s",
    "streaming.batches": "count",
    "streaming.batch_s": "s",
    "streaming.commit_s": "s",
    "streaming.rows_per_s": "rows/s",
    "trace.pass_s": "s",
}


#: Per-op counters whose per-pass sum is the per-layer metric itself.
COUNTED_AS_IS = (
    "sources.load_s",
    "sources.input_mb",
    "sources.sink_s",
    "sources.output_mb",
    "pipelines.pretrain_s",
    "materialize.storage_mb",
    "streaming.batches",
    "streaming.batch_s",
    "streaming.commit_s",
    "streaming.rows",
)


def _opt_s(opt):
    """Scala ``Option[java.util.Date]`` -> epoch seconds or None."""
    return opt.get().getTime() / 1000.0 if opt.isDefined() else None


def _union_s(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for s, e in sorted(intervals):
        if e > end:
            total += e - max(s, end)
            end = e
    return total


class NullTracer:
    """Tracer interface with no effect (untraced runs)."""

    @contextmanager
    def pass_span(self, i):
        yield

    @contextmanager
    def op(self, op, pass_i):
        yield

    @contextmanager
    def phase(self, name):
        yield

    def note_result(self, result) -> None:
        pass


class Tracer(NullTracer):
    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.jsc = self.sc._jsc.sc()
        self.store = self.jsc.statusStore()
        self.slots = self.sc.defaultParallelism
        self.spans: list[dict] = []
        self.ops: list[dict] = []
        self._stack: list[dict] = []
        self._rec: dict | None = None
        self._active: set[str] = set()

    # ------------------------------------------------------------ spans

    def _open(self, name: str, **attrs) -> dict:
        span = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1]["id"] if self._stack else None,
            "start": time.time(),
            "end": None,
            **attrs,
        }
        self.spans.append(span)
        self._stack.append(span)
        return span

    def _close(self, span: dict) -> None:
        span["end"] = time.time()
        self._stack.remove(span)

    @contextmanager
    def _span(self, name: str, **attrs):
        span = self._open(name, **attrs)
        try:
            yield span
        finally:
            self._close(span)

    @contextmanager
    def pass_span(self, i):
        with self._span(f"pass:{i}", kind="pass"):
            yield

    @contextmanager
    def phase(self, name):
        with self._span(name, kind="phase") as span:
            yield
        rec = self._rec
        if rec is not None:
            rec[f"{name}_s"] = span["end"] - span["start"]
            if name == "build":
                self.jsc.listenerBus().waitUntilEmpty()
                rec["build_jobs"] = len(self._group_jobs(rec["groups"][0]))

    @contextmanager
    def op(self, op, pass_i):
        group = f"perfbench-{pass_i}-{op.name}"
        self.sc.setJobGroup(group, op.name)
        rec = {
            "name": op.name,
            "layer": op.layer,
            "pass": pass_i,
            "groups": [group],
            "counts": defaultdict(float),
            "build_jobs": 0,
        }
        self._rec = rec
        span = self._open(f"op:{op.name}", kind="op", layer=op.layer)
        try:
            yield
        finally:
            rec["start"], rec["end"] = span["start"], time.time()
            self._rec = None
            self._read_store(rec, span)
            self._read_storage(rec)
            self._close(span)
            self.jsc.clearJobGroup()
            del rec["groups"]
            rec["counts"] = dict(rec["counts"])
            self.ops.append(rec)

    def note_result(self, result) -> None:
        """Streaming ops return their StreamingQuery; its micro-batch
        jobs run under the query's own job group."""
        rec = self._rec
        q = result[1] if isinstance(result, tuple) and len(result) == 2 else None
        if rec is None or not hasattr(q, "recentProgress"):
            return
        rec["groups"].append(str(q.runId))
        c = rec["counts"]
        for p in q.recentProgress:
            d = json.loads(p.json)
            dur = d.get("durationMs", {})
            c["streaming.batches"] += 1
            c["streaming.batch_s"] += dur.get("triggerExecution", 0) / 1000
            c["streaming.commit_s"] += (
                dur.get("walCommit", 0) + dur.get("commitOffsets", 0)
            ) / 1000
            c["streaming.rows"] += d.get("numInputRows", 0)

    # ----------------------------------------------------- status store

    def _group_jobs(self, group: str) -> list[int]:
        return sorted(self.sc.statusTracker().getJobIdsForGroup(group))

    def _read_store(self, rec: dict, op_span: dict) -> None:
        self.jsc.listenerBus().waitUntilEmpty()
        c = rec["counts"]
        intervals, seen = [], set()
        last_end = None
        for group in rec["groups"]:
            for jid in self._group_jobs(group):
                jd = self.store.job(jid)
                start, end = _opt_s(jd.submissionTime()), _opt_s(jd.completionTime())
                if start is None or end is None:
                    continue
                intervals.append((start, end))
                last_end = end if last_end is None else max(last_end, end)
                self.spans.append({
                    "id": len(self.spans), "name": f"job:{jid}",
                    "parent": op_span["id"], "start": start, "end": end, "kind": "job",
                })
                c["jobs"] += 1
                for sid in jd.stageIds().mkString(",").split(","):
                    if sid and sid not in seen:
                        seen.add(sid)
                        self._read_stage(int(sid), c)
        wall = rec["end"] - rec["start"]
        c["wall_s"] = wall
        c["job_s"] = _union_s(intervals)
        c["sched_gap_s"] = max(wall - c["job_s"], 0.0)
        c["commit_s"] = rec["end"] - last_end if last_end is not None else 0.0

    def _read_stage(self, sid: int, c) -> None:
        try:
            st = self.store.lastStageAttempt(sid)
        except Py4JJavaError:  # never submitted: nothing to count
            return
        if st.status().toString() == "SKIPPED":
            return
        c["stages"] += 1
        c["tasks"] += st.numTasks()
        c["exec_run_s"] += st.executorRunTime() / 1000
        c["exec_cpu_s"] += st.executorCpuTime() / 1e9
        c["gc_s"] += st.jvmGcTime() / 1000
        shuffle_w = st.shuffleWriteBytes()
        c["shuffle_write_mb"] += shuffle_w / MB
        c["shuffle_read_mb"] += st.shuffleReadBytes() / MB
        c["spill_mb"] += (st.memoryBytesSpilled() + st.diskBytesSpilled()) / MB
        start, end = _opt_s(st.submissionTime()), _opt_s(st.completionTime())
        if start is not None and end is not None:
            c["map_s" if shuffle_w > 0 else "reduce_s"] += end - start

    def _read_storage(self, rec: dict) -> None:
        total = 0
        for info in self.jsc.getRDDStorageInfo():
            total += info.memSize() + info.diskSize()
        rec["counts"]["materialize.storage_mb"] += total / MB

    # -------------------------------------------------- layer wrappers

    def install(self) -> None:
        """Wrap each layer's public functions everywhere they are bound
        (``from x import f`` copies the reference into the importer)."""
        for mod_name, fn_name, key in WRAPPED:
            orig = getattr(importlib.import_module(mod_name), fn_name)
            wrapper = self._wrapper(orig, key)
            for mod in list(sys.modules.values()):
                if getattr(mod, "__name__", "").startswith("corral_spark"):
                    for attr, val in list(vars(mod).items()):
                        if val is orig:
                            setattr(mod, attr, wrapper)

    def _wrapper(self, fn, key: str):
        @functools.wraps(fn)
        def wrapped(*args, **kwargs):
            rec = self._rec
            if rec is None or key in self._active:  # count outermost calls only
                return fn(*args, **kwargs)
            self._active.add(key)
            span = self._open(key, kind="layer")
            try:
                out = fn(*args, **kwargs)
            finally:
                self._close(span)
                self._active.discard(key)
            c = rec["counts"]
            c[key + "_s"] += span["end"] - span["start"]
            c[key + "_calls"] += 1
            if key == "sources.load":
                table = args[2] if len(args) > 2 else kwargs["name"]
                path = os.path.join(args[1], f"{table}.parquet")
                c["sources.input_mb"] += os.path.getsize(path) / MB
                rec.setdefault("tables", []).append(table)
            elif key == "sources.sink":
                path = args[1] if len(args) > 1 else kwargs["path"]
                c["sources.output_mb"] += _dir_bytes(path) / MB
            return out

        return wrapped

    # ----------------------------------------------------------- report

    def layer_metrics(self, extra: dict[str, float]) -> dict[str, float]:
        """Per-pass sums over the timed ops, median across passes."""
        by_pass: dict[int, dict[str, float]] = defaultdict(lambda: defaultdict(float))
        for rec in self.ops:
            c, m = rec["counts"], by_pass[rec["pass"]]
            get = lambda k: c.get(k, 0.0)  # noqa: E731
            for k in COUNTED_AS_IS:
                m[k] += get(k)
            m["trace.pass_s"] += get("wall_s")
            m["sources.scan_s"] += sum(extra.get(f"scan:{t}", 0.0) for t in rec.get("tables", []))
            m["materialize.barriers"] += get("materialize.barrier_calls")
            if rec["layer"] == "queries":
                m["queries.build_s"] += rec["build_s"]
                m["queries.action_s"] += rec["action_s"]
                m["queries.build_jobs"] += rec["build_jobs"]
                m["queries.wall_s"] += get("wall_s")
                for k in ("jobs", "stages", "tasks", "sched_gap_s", "exec_run_s",
                          "exec_cpu_s", "gc_s", "shuffle_write_mb",
                          "shuffle_read_mb", "spill_mb"):
                    m[f"queries.{k}"] += get(k)
            elif rec["layer"] == "mapreduce":
                m["mapreduce.map_s"] += get("map_s")
                m["mapreduce.reduce_s"] += get("reduce_s")
                m["mapreduce.shuffle_mb"] += get("shuffle_write_mb")
                m["mapreduce.commit_s"] += get("commit_s")
        for m in by_pass.values():
            slots_s = self.slots * m.pop("queries.wall_s", 0.0)
            m["queries.slot_util"] = m["queries.exec_run_s"] / slots_s if slots_s else 0.0
            rows, batch_s = m.pop("streaming.rows"), m["streaming.batch_s"]
            m["streaming.rows_per_s"] = rows / batch_s if batch_s else 0.0
        out = {}
        for name in LAYER_METRICS:
            vals = [m.get(name, 0.0) for m in by_pass.values()]
            out[name] = statistics.median(vals) if vals else 0.0
        for name, v in extra.items():
            if name in LAYER_METRICS:
                out[name] = v
        return out

    def dump(self, path: str, meta: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"meta": meta, "spans": self.spans, "ops": self.ops}, f)


def _dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _timed(fn, reps: int) -> float:
    times = []
    for _ in range(reps):
        t = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t)
    return statistics.median(times)


def layer_extras(spark, ctx, tracer: Tracer, op_names: list[str]) -> dict[str, float]:
    """Per-layer numbers measured after the timed passes, outside them:
    a noop scan of every table the ops loaded (``scan:<table>``, median
    of 3) and, when the workload runs dedup queries, one direct call of
    every dedup operator (cross-corpus MinHash too, which no timed op
    runs) and of the pretraining pipeline, on cached inputs, forced by a
    noop write."""
    from pyspark.sql import functions as F

    from corral_spark.sources.tables import load_table

    out: dict[str, float] = {}
    for table in sorted({t for rec in tracer.ops for t in rec.get("tables", [])}):
        out[f"scan:{table}"] = _timed(lambda: _noop(load_table(spark, ctx.sf_dir, table)), 3)

    if not any(n in OPERATOR_CALLS for n in op_names):
        return out
    wanted = [*OPERATOR_CALLS.values(), "pipelines.pretrain_s"]
    from corral_spark.operators.dedup import (
        minhash_pairs_across,
        minhash_verified_pairs,
        prefix_filter_jaccard_pairs,
        sliding_gram_dedup,
    )
    from corral_spark.operators.fuzzy import fuzzy_join_lev1
    from corral_spark.pipelines import prepare_pretraining_corpus

    docs = load_table(spark, ctx.sf_dir, "documents").cache()
    cust = load_table(spark, ctx.sf_dir, "customer").cache()
    docs.count(), cust.count()
    src0 = F.col("source") == "src0"
    calls = {
        "operators.minhash_s": lambda: minhash_verified_pairs(docs, "text", "doc_id", threshold=0.5),
        "operators.minhash_across_s": lambda: minhash_pairs_across(
            docs.filter(src0), docs.filter(~src0), "text", "doc_id", threshold=0.5
        ),
        "operators.gram_s": lambda: sliding_gram_dedup(docs, "text", "doc_id", k=8),
        "operators.ppjoin_s": lambda: prefix_filter_jaccard_pairs(docs, "text", "doc_id", 0.9),
        "operators.fuzzy_s": lambda: fuzzy_join_lev1(cust, "c_name", "c_custkey"),
        # the parameters of the pretrain_corpus_full registry query
        "pipelines.pretrain_s": lambda: prepare_pretraining_corpus(
            docs.filter(~src0).select("doc_id", "text"),
            with_report=False,
            near_dup="verified",
            benchmark=docs.filter(src0).select("doc_id", "text"),
            max_top_token_fraction=0.2,
            boilerplate_max_df=2,
            gram_dedup_k=8,
        )[0],
    }
    keep = set(spark.sparkContext._jsc.getPersistentRDDs().keys())
    for name in wanted:
        out[name] = _timed(lambda: _noop(calls[name]()), 1)
        for rid, rdd in spark.sparkContext._jsc.getPersistentRDDs().items():
            if rid not in keep:
                rdd.unpersist(False)
    docs.unpersist(), cust.unpersist()
    return out
