"""Pin the funnel canaries of the PPJoin and fuzzy joins at sf0.001.

``ppjoin_counts`` and ``fuzzy_candidate_counts`` count the stage frames
that ``prefix_filter_jaccard_pairs`` and ``fuzzy_join`` build. The
pinned values are exact counts, so any change is a change to the
candidate funnel, and the output counters must agree with the public
operators themselves.
"""

from __future__ import annotations

from corral_spark.sources.tables import load_table
from tests.conftest import SF_SMOKE as SF


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


def test_fuzzy_candidate_counts_pinned_and_match_operator(spark):
    from corral_spark.operators.fuzzy import fuzzy_candidate_counts, fuzzy_join

    cust = load_table(spark, SF, "customer")
    counts = fuzzy_candidate_counts(cust, "c_name", "c_custkey", max_dist=1)
    assert counts == {
        "variant_rows": 1965,
        "raw_pairs": 2530,
        "distinct_candidates": 2464,
        "verified_pairs": 1275,
    }
    assert counts["distinct_candidates"] <= counts["raw_pairs"]
    out = fuzzy_join(cust, "c_name", "c_custkey", max_dist=1)
    assert counts["verified_pairs"] == out.count()
