"""Stage-level wall-clock profile of the pretrain_corpus capstone at
a given SF dir (r7 verdict item 2: name the stage whose constant
moved when the sf1 total drifts).

Times CUMULATIVE PREFIXES of the pipeline (each prefix forces its own
action), interleaved round-robin min-of-N like bench.py, so per-stage
cost = successive prefix deltas and one bad host window cannot poison
a stage's samples.

Usage: python tools/profile_pretrain.py [sf_dir] [passes]
Prints one JSON line: {"sf_dir":…, "prefix_sec":{…}, "stage_sec":{…}}.
"""

from __future__ import annotations

import json
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from pyspark.sql import functions as F  # noqa: E402


def _prefixes(spark, sf_dir):
    """Ordered (name, thunk) pairs; each thunk builds+runs the
    pipeline prefix and returns a row count (forces execution)."""
    from corral_spark.operators.dedup import (
        dedup_exact,
        minhash_verified_pairs,
    )
    from corral_spark.functions.text import split_words
    from corral_spark.operators.graph import connected_components
    from corral_spark.operators.quality import normalize_text, redact_pii
    from corral_spark.pipelines import prepare_pretraining_corpus
    from corral_spark.sources.tables import load_table

    def docs():
        return load_table(spark, sf_dir, "documents")

    def clean_filtered():
        d = docs().select(
            "doc_id",
            redact_pii(normalize_text(F.col("text"))).alias("clean_text"),
        )
        words = split_words(F.col("clean_text"))
        scored = d.select(
            "doc_id",
            "clean_text",
            F.size(words).alias("n_words"),
            (F.size(F.array_distinct(words)) / F.size(words)).alias(
                "distinct_ratio"
            ),
        )
        return scored.filter(
            (F.col("n_words") >= 20) & (F.col("distinct_ratio") >= 0.3)
        ).drop("distinct_ratio")

    def exact():
        return dedup_exact(clean_filtered(), ["clean_text"], "doc_id")

    def pairs():
        return minhash_verified_pairs(
            exact(), "clean_text", "doc_id", threshold=0.5
        )

    def components():
        return connected_components(
            pairs().select("id_a", "id_b"), "id_a", "id_b"
        )

    def full():
        corpus, _ = prepare_pretraining_corpus(
            docs(), with_report=False, near_dup="verified"
        )
        return corpus

    return [
        ("scan_normalize_quality", lambda: clean_filtered().count()),
        ("plus_exact_dedup", lambda: exact().count()),
        ("plus_verified_pairs", lambda: pairs().count()),
        ("plus_components", lambda: components().count()),
        ("full_pipeline", lambda: full().count()),
    ]


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/tmp/sf1"
    passes = int(sys.argv[2]) if len(sys.argv) > 2 else 3
    # Same session sizing as bench.py (local[$SPARK_GRAFT_CPUS], 8g
    # driver): an undersized heap at sf1 produces GCLocker stalls and
    # TaskResultLost flakes that poison exactly the timings this tool
    # exists to read.
    from corral_spark.session import local_session

    spark = local_session("profile-pretrain")
    spark.sparkContext.setLogLevel("ERROR")

    def _clear_storage() -> None:
        # bench.py's rule: materialized blocks from a previous run
        # inflate later timings (87s dirty vs 17s clean at sf1).
        for rdd in spark.sparkContext._jsc.getPersistentRDDs().values():
            rdd.unpersist(False)

    names = [n for n, _ in _prefixes(spark, sf_dir)]
    runs: dict[str, list[float]] = {n: [] for n in names}
    counts: dict[str, int] = {}
    for _ in range(passes):
        for name, thunk in _prefixes(spark, sf_dir):
            t0 = time.perf_counter()
            try:
                counts[name] = thunk()
            except Exception as exc:  # noqa: BLE001 — host flake: skip sample
                print(
                    f"# {name}: sample lost ({type(exc).__name__})",
                    file=sys.stderr,
                )
                _clear_storage()
                continue
            runs[name].append(round(time.perf_counter() - t0, 3))
            _clear_storage()
    prefix = {n: (min(r) if r else None) for n, r in runs.items()}
    stage = {}
    prev = 0.0
    for n in names:
        if prefix[n] is None:
            stage[n] = None
            continue
        stage[n] = round(prefix[n] - prev, 3)
        prev = prefix[n]
    print(
        json.dumps(
            {
                "sf_dir": sf_dir,
                "passes": passes,
                "prefix_sec": prefix,
                "stage_delta_sec": stage,
                "rows": counts,
                "all_runs": runs,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
