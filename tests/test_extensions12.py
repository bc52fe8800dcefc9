"""Unit tests for the round-13 extensions12 operators: BM25
retrieval, PSI drift, MMR-diversified selection. (The three registry
queries are additionally oracle-gated by test_correctness.py's
auto-parametrization at sf0.001/sf0.01.)"""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from corral_spark.operators.similarity import mmr_topk


def _docs_table(spark, tmp_path, rows):
    """Write a minimal documents table and return its directory."""
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    df.coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "documents.parquet")
    )
    return str(tmp_path)


# ---------------------------------------------------------------- BM25


def test_bm25_tf_and_length_normalization(spark, tmp_path):
    """Hand-checkable monotonicity: with equal lengths, more query-term
    occurrences score higher; with equal tf, a longer document scores
    lower (the b-normalization). Docs without any query term are
    absent."""
    from corral_spark.queries.retrieval import bm25_top_docs

    pad = "filler "
    rows = [
        (1, "spark spark spark " + pad * 5, "en", "src0", 0),
        (2, "spark " + pad * 7, "en", "src0", 0),          # same dl, lower tf
        (3, "spark " + pad * 30, "en", "src0", 0),         # same tf, longer
        (4, pad * 8, "en", "src0", 0),                     # no query term
    ]
    sf = _docs_table(spark, tmp_path, rows)
    got = {r.doc_id: r for r in bm25_top_docs(spark, sf).collect()}
    assert set(got) == {1, 2, 3}
    assert got[1].bm25_micro > got[2].bm25_micro > got[3].bm25_micro
    assert got[1].n_terms == 1


def test_bm25_multi_term_additivity(spark, tmp_path):
    """A doc matching two query terms outranks single-term docs of the
    same shape, and n_terms counts matched terms."""
    from corral_spark.queries.retrieval import bm25_top_docs

    pad = "filler "
    rows = [
        (1, "spark window " + pad * 6, "en", "src0", 0),
        (2, "spark spark " + pad * 6, "en", "src0", 0),
        (3, "merge " + pad * 7, "en", "src0", 0),
    ]
    sf = _docs_table(spark, tmp_path, rows)
    got = {r.doc_id: r for r in bm25_top_docs(spark, sf).collect()}
    assert got[1].n_terms == 2 and got[2].n_terms == 1
    # Two distinct rare terms beat a repeat of one (idf dominates the
    # tf saturation at these counts).
    assert got[1].bm25_micro > got[2].bm25_micro


# ----------------------------------------------------------------- PSI


def test_psi_zero_on_identical_snapshots(spark, tmp_path):
    """Identical ref/cur distributions -> every PSI term is exactly 0
    (q == p makes (q-p)*ln(q/p) == 0 before quantization)."""
    from corral_spark.queries.hygiene import psi_drift_docs

    rows = []
    for i, (lang, n) in enumerate(
        [("en", 100), ("fr", 200), ("de", 300), ("en", 480)] * 3
    ):
        rows.append((2 * i, "t", lang, "src0", n))       # ref copy
        rows.append((2 * i + 1, "t", lang, "src10", n))  # cur copy
    sf = _docs_table(spark, tmp_path, rows)
    out = psi_drift_docs(spark, sf).collect()
    assert out and all(r.psi_term_micro == 0 for r in out)
    assert all(r.total_psi_micro == 0 for r in out)
    assert all(r.ref_cnt == r.cur_cnt for r in out)


def test_psi_flags_planted_shift(spark, tmp_path):
    """A language present only in the current snapshot produces a
    strictly positive PSI term and feature total; totals are the
    exact bigint sum of the per-bin terms."""
    from corral_spark.queries.hygiene import psi_drift_docs

    rows = [(i, "t", "en", "src0", 100) for i in range(20)]
    rows += [(100 + i, "t", "zh", "src10", 100) for i in range(20)]
    sf = _docs_table(spark, tmp_path, rows)
    out = psi_drift_docs(spark, sf).collect()
    lang_rows = [r for r in out if r.feature == "lang"]
    assert {r.bin for r in lang_rows} == {"en", "zh"}
    assert all(r.psi_term_micro > 0 for r in lang_rows)
    total = {r.total_psi_micro for r in lang_rows}
    assert total == {sum(r.psi_term_micro for r in lang_rows)}
    # n_chars distributions are identical (all 100) -> zero drift.
    nc_rows = [r for r in out if r.feature == "n_chars_bin"]
    assert all(r.psi_term_micro == 0 for r in nc_rows)


# ----------------------------------------------------------------- MMR


def _unit(*xs):
    n = math.sqrt(sum(x * x for x in xs))
    return [x / n for x in xs]


def test_mmr_prefers_diversity_over_redundancy(spark):
    """Planted two-cluster geometry with the query between them: the
    two most relevant vectors are near-duplicates of each other
    (pairwise sim ~1.0), a third sits in the other cluster with
    slightly lower relevance but near-zero redundancy. Relevance-only
    (lam=1) picks the redundant pair; MMR(lam=0.7) swaps the second
    pick for the diverse vector (margin ~0.22, far above any
    quantization)."""
    q = _unit(1.0, 1.0, 0.0)
    rows = [
        (1, [1.0, 0.15, 0.0], 0),  # cluster A, relevance ~0.804
        (2, [1.0, 0.12, 0.0], 0),  # near-dup of 1, relevance ~0.786
        (3, [0.1, 1.0, 0.0], 0),   # cluster B, relevance ~0.774
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    got = mmr_topk(df, q, k=2, lam=0.7)
    picks = [r.vec_id for r in got.orderBy("rnk").collect()]
    assert picks == [1, 3]
    # Relevance-only (lam=1) picks the redundant pair instead.
    rel = mmr_topk(df, q, k=2, lam=1.0)
    assert [r.vec_id for r in rel.orderBy("rnk").collect()] == [1, 2]


def test_mmr_first_pick_is_argmax_relevance_and_ranks_sequential(spark):
    q = [0.0, 1.0]
    rows = [(i, _unit(float(i), 10.0 - i), 0) for i in range(1, 7)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    out = mmr_topk(df, q, k=4, lam=0.7).orderBy("rnk").collect()
    assert [r.rnk for r in out] == [1, 2, 3, 4]
    assert out[0].vec_id == 1  # most aligned with +y
    assert len({r.vec_id for r in out}) == 4
    # relevance column carries the quantized query similarity.
    assert out[0].relevance == max(r.relevance for r in out)


def test_mmr_exhausts_small_corpus(spark):
    q = [1.0, 0.0]
    rows = [(1, [1.0, 0.0], 0), (2, [0.0, 1.0], 0)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    out = mmr_topk(df, q, k=5, lam=0.7).collect()
    assert len(out) == 2  # stops early, no padding rows


def test_mmr_excludes_ids(spark):
    q = [1.0, 0.0]
    rows = [(1, [1.0, 0.0], 0), (2, [0.9, 0.1], 0), (3, [0.0, 1.0], 0)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    out = mmr_topk(df, q, k=3, lam=0.7, exclude_ids=(1,)).collect()
    assert {r.vec_id for r in out} == {2, 3}
