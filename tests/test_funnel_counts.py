"""Pin the funnel canaries of the dedup joins at sf0.001.

``minhash_pair_counts``, ``minhash_across_counts``, ``ppjoin_counts``
and ``fuzzy_counts`` count the stage frames that the MinHash kernel,
``prefix_filter_jaccard_pairs`` and ``fuzzy_join`` build;
``gram_dedup_counts`` counts the sliding-gram core's own windows. The
pinned values are exact counts, so any change is a change to the
candidate funnel; the MinHash counters' agreement with their operators
is checked in ``tests/test_operators.py``, the others' below.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from corral_spark.sources.tables import load_table
from tests.conftest import SF_SMOKE as SF


def test_minhash_pair_counts_pinned(spark):
    from corral_spark.operators.dedup import minhash_pair_counts

    docs = load_table(spark, SF, "documents")
    counts = minhash_pair_counts(docs, "text", "doc_id", threshold=0.5)
    assert counts == {
        "candidates": 36,
        "pairs": 28,
        "short_candidates": 36,
        "hot_shingles": 0,
        "hot_heavy_docs": 0,
    }


def test_minhash_across_counts_pinned(spark):
    from corral_spark.operators.dedup import minhash_across_counts

    docs = load_table(spark, SF, "documents")
    sides = (
        docs.filter(F.col("source") == "src0"),
        docs.filter(F.col("source") != "src0"),
    )
    counts = minhash_across_counts(*sides, "text", "doc_id", threshold=0.5)
    assert counts == {
        "candidates": 8,
        "pairs": 7,
        "short_candidates": 8,
        "hot_shingles": 0,
        "hot_heavy_docs": 0,
    }


def test_gram_dedup_counts_pinned(spark):
    from corral_spark.operators.dedup import gram_dedup_counts

    docs = load_table(spark, SF, "documents")
    assert gram_dedup_counts(docs, "text", "doc_id", k=8) == {
        "windows": 24439,
        "coverage_rows": 195512,
        "distinct_grams": 23172,
    }


def test_ppjoin_counts_pinned_and_match_operator(spark):
    from corral_spark.operators.dedup import (
        ppjoin_counts,
        prefix_filter_jaccard_pairs,
    )

    docs = load_table(spark, SF, "documents")
    counts = ppjoin_counts(docs, "text", "doc_id", threshold=0.9)
    assert counts == {
        "candidate_group_pairs": 24275,
        "verified_group_pairs": 2759,
        "output_pairs": 11025,
    }
    out = prefix_filter_jaccard_pairs(docs, "text", "doc_id", 0.9)
    assert counts["output_pairs"] == out.count()


def test_fuzzy_counts_pinned_and_match_operator(spark):
    from corral_spark.operators.fuzzy import fuzzy_counts, fuzzy_join

    cust = load_table(spark, SF, "customer")
    counts = fuzzy_counts(cust, "c_name", "c_custkey", max_dist=1)
    assert counts == {
        "variant_rows": 1965,
        "raw_pairs": 2530,
        "distinct_candidates": 2464,
        "pairs": 1275,
    }
    assert counts["distinct_candidates"] <= counts["raw_pairs"]
    out = fuzzy_join(cust, "c_name", "c_custkey", max_dist=1)
    assert counts["pairs"] == out.count()


def test_stage_counts_unpersists_only_its_own_frames(spark):
    """Frames the counter persisted are released; a frame the caller
    cached before the call stays cached."""
    from pyspark import StorageLevel

    from corral_spark.functions.metrics import stage_counts

    mine = spark.range(10).cache()
    mine.count()
    evens = spark.range(7).filter("id % 2 = 0")
    positive = evens.filter("id > 0")
    stages = {"mine": mine, "evens": evens, "positive": positive}
    assert stage_counts(stages) == {"mine": 10, "evens": 4, "positive": 3}
    assert mine.storageLevel != StorageLevel.NONE
    assert evens.storageLevel == StorageLevel.NONE
    assert positive.storageLevel == StorageLevel.NONE
    mine.unpersist()
