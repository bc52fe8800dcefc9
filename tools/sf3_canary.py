"""One-decade superlinearity extension: dedup-family COUNT canaries at
sf3 (= 30 disjoint replicas of sf0.1) — r15 verdict item 4.

Every round, bench.py proves the near-dup candidate generators linear
at 10x (sf0.1 -> sf1: counts exactly 10.0x). This one-off extends the
evidence one decade: on the token-renamed disjoint-replica corpus a
linear engine must produce EXACTLY 30x candidates/pairs at R=30 —
cross-replica shingles share no tokens by construction
(tools/scale_data.py), so any candidate excess is an O(n^2) artifact
of the generator itself, not data. Timings are deliberately not the
criterion (page-cache noise dominates on this host — SCALE.md r8);
COUNTS are the tripwire, and the hot-shingle / hot-heavy populations
must stay 0 (the quadratic-fallback drivers).

Usage:
  python tools/sf3_canary.py [R] [dir] [families]   # default 30 /tmp/sf3
``families`` is a comma list of {docs,fuzzy,ppjoin} (default docs —
the original minhash/gram/cross run). Builds the scaled documents
for docs/ppjoin if missing. The fuzzy family rebuilds its
marker-perturbed customer_fuzzy corpora on every run: the R=1 base
under <dir>/fuzzy_base, the R replicas under <dir>/fuzzy
(cross-replica lev >= 18 guaranteed by tools/scale_data.py).
r16 verdict item 6 added the fuzzy (variant_rows / raw_pairs /
distinct_candidates / verified_pairs via fuzzy_candidate_counts) and ppjoin
(candidate_group_pairs / verified_group_pairs / output_pairs via
ppjoin_counts) families, counted off the operators' own frames.
Exit 1 on any non-exact ratio.
"""

from __future__ import annotations

import os
import pathlib
import sys

sys.path.insert(0, str(pathlib.Path(__file__).resolve().parent.parent))
sys.path.insert(0, str(pathlib.Path(__file__).resolve().parent))

BASE = "/root/testdata/sf0.1"


def main() -> int:
    r = int(sys.argv[1]) if len(sys.argv) > 1 else 30
    out = sys.argv[2] if len(sys.argv) > 2 else "/tmp/sf3"
    families = set(
        (sys.argv[3] if len(sys.argv) > 3 else "docs").split(",")
    )

    import scale_data

    if families & {"docs", "ppjoin"} and not os.path.exists(
        os.path.join(out, "documents.parquet")
    ):
        # Reuse the round tool's exact replication rules (bijective
        # token rename per replica -> zero cross-replica shingle
        # overlap) rather than a second writer that could drift.
        scale_data.scale(r, out, tables={"documents"})
    # Both fuzzy corpora live under <dir> and are rebuilt every run (a
    # DuckDB copy, seconds at R=30), so the base and the replica always
    # come from the same scale_data rule.
    fuzzy_dirs = {
        "base": os.path.join(out, "fuzzy_base"),
        "big": os.path.join(out, "fuzzy"),
    }
    if "fuzzy" in families:
        for d, reps in ((fuzzy_dirs["base"], 1), (fuzzy_dirs["big"], r)):
            scale_data.scale_fuzzy_customers(reps, d)  # COPY overwrites

    # Driver memory must reach the JVM LAUNCHER (sf1_gate.sh recipe);
    # a builder .config("spark.driver.memory") proved unreliable here
    # — the first sf3 attempt OOM'd a broadcast build at what the
    # plan expected to be an 8g heap (SCALE.md round-16).
    os.environ.setdefault(
        "PYSPARK_SUBMIT_ARGS", "--driver-memory 8g pyspark-shell"
    )

    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    from corral_spark.operators.dedup import (
        gram_dedup_counts,
        minhash_across_counts,
        minhash_pair_counts,
    )
    from corral_spark.sources.tables import load_table

    # R=100 lesson (r16 session 7): at 500k docs the R=30 sizing
    # (local[8], 32 shuffle partitions, 8g) OOMs the heap — per-task
    # aggregate/sort state grows with corpus/partitions (guide §5:
    # more partitions = smaller per-task state). Both knobs are env
    # overridable so the tool scales another decade without edits;
    # heap goes through PYSPARK_SUBMIT_ARGS above (also env-first).
    master = os.environ.get("CORRAL_CANARY_MASTER", "local[8]")
    parts = os.environ.get("CORRAL_CANARY_SHUFFLE", "32")
    spark = (
        SparkSession.builder.master(master)
        .config("spark.sql.shuffle.partitions", parts)
        .config("spark.ui.enabled", "false")
        .appName("sf3-canary")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    from corral_spark.operators.dedup import ppjoin_counts
    from corral_spark.operators.fuzzy import fuzzy_candidate_counts

    def _clear() -> None:
        spark.catalog.clearCache()
        for rdd in spark.sparkContext._jsc.getPersistentRDDs().values():
            rdd.unpersist(False)

    results = {"base": {}, f"sf{r}/10": {}}
    for label, d in (("base", BASE), (f"sf{r}/10", out)):
        if families & {"docs", "ppjoin"}:
            docs = load_table(spark, d, "documents")
        if "docs" in families:
            results[label]["minhash"] = minhash_pair_counts(
                docs, "text", "doc_id", threshold=0.5
            )
            results[label]["gram"] = gram_dedup_counts(
                docs, "text", "doc_id", k=8
            )
            results[label]["cross"] = minhash_across_counts(
                docs.filter(F.col("source") == "src0"),
                docs.filter(F.col("source") != "src0"),
                "text",
                "doc_id",
                threshold=0.5,
            )
            _clear()
        if "ppjoin" in families:
            # threshold 0.9 = the registry query's parameter, so the
            # counters match the r16 measured funnel (1.8M candidates
            # at sf0.1).
            results[label]["ppjoin"] = ppjoin_counts(
                docs, "text", "doc_id", threshold=0.9
            )
            _clear()
        if "fuzzy" in families:
            fd = fuzzy_dirs["base" if label == "base" else "big"]
            cust = spark.read.parquet(
                os.path.join(fd, "customer_fuzzy.parquet")
            )
            results[label]["fuzzy_d1"] = fuzzy_candidate_counts(
                cust, "c_name", "c_custkey", max_dist=1
            )
            _clear()

    base, big = results["base"], results[f"sf{r}/10"]
    bad = []
    print(f"| counter | sf0.1 | sf{r}/10 | ratio | expected |")
    print("|---|---|---|---|---|")
    for fam in sorted(base):
        for m, b in base[fam].items():
            v = big[fam][m]
            if m in ("hot_shingles", "hot_heavy_docs"):
                exp, ok = "0", (b == 0 and v == 0)
            else:
                exp, ok = f"{r}.0x", (b > 0 and v == r * b)
            ratio = round(v / b, 2) if b else 0.0
            mark = "" if ok else "  <-- NOT EXACT"
            print(f"| {fam}.{m} | {b} | {v} | {ratio}x | {exp} |{mark}")
            if not ok:
                bad.append(f"{fam}.{m}: {b} -> {v}")
    print("BAD:", "; ".join(bad) if bad else "none")
    return 1 if bad else 0


if __name__ == "__main__":
    raise SystemExit(main())
