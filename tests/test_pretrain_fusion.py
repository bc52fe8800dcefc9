"""Pin the words-array cores behind the text-hygiene operators.

``dedup._boilerplate_keep_words`` and ``dedup._gram_keep_words`` are the
one implementation of boilerplate removal and sliding-gram dedup: the
public text operators (remove_boilerplate_segments /
sliding_gram_dedup) run them over a tokenized words frame and rebuild
the text, and prepare_pretraining_corpus chains them on its own words
frame without reassembling text between stages. These tests check
that a core fed a words frame gives exactly the public operator's
text, on an adversarial corpus, and that the pipeline equals the
public-operator stage composition end to end.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from corral_spark.functions.text import split_words
from corral_spark.materialize import materialize
from corral_spark.operators.dedup import (
    _boilerplate_keep_words,
    _gram_keep_words,
    remove_boilerplate_segments,
    segment_dedup,
    sliding_gram_dedup,
)

# Adversarial corpus: boilerplate shared by >2 docs, a doc that is
# ALL boilerplate (empties out), a short doc (< k words), repeated
# k-grams split across docs (unaligned), multi-space text, an empty
# string, and a NULL text.
_BOILER = "this ten word boilerplate segment repeats in many documents verbatim"
_DOCS = [
    (1, _BOILER + " unique tail one two three four five six seven eight"),
    (2, _BOILER + " another distinct suffix with its own different words here now"),
    (3, _BOILER),
    (4, "short doc"),
    (5, "a b c d e f g h i j k l m n o p q r s t"),
    (6, "l m n o p q r s t u v w x y z extra fresh tokens append"),
    (7, "   spaced    out   tokens   survive    normalization   here  ok "),
    (8, ""),
    (9, None),
]


def _base_words(df, text_col, id_col):
    return materialize(
        df.select(
            F.col(id_col).alias("__id"), split_words(F.col(text_col)).alias("__w")
        ),
        eager=False,
    )


def _texts(words_df, id_col):
    return words_df.select(
        F.col("__id").alias(id_col),
        F.concat_ws(" ", "__w").alias("clean_text"),
    )


def test_boilerplate_words_seam_matches_public_operator(spark):
    df = spark.createDataFrame(_DOCS, ["doc_id", "text"])
    pub = remove_boilerplate_segments(df, "text", "doc_id", max_df=2).select(
        "doc_id", "clean_text"
    )
    seam = _texts(
        _boilerplate_keep_words(_base_words(df, "text", "doc_id"), max_df=2),
        "doc_id",
    )
    assert seam.exceptAll(pub).count() == 0
    assert pub.exceptAll(seam).count() == 0
    # the all-boilerplate doc must have emptied out in BOTH
    assert (
        seam.filter("doc_id = 3").collect()[0]["clean_text"] == ""
    )


def test_gram_words_seam_matches_public_operator(spark):
    df = spark.createDataFrame(_DOCS, ["doc_id", "text"])
    pub = sliding_gram_dedup(df, "text", "doc_id", k=8).select(
        "doc_id", "clean_text"
    )
    seam = _texts(
        _gram_keep_words(_base_words(df, "text", "doc_id"), k=8), "doc_id"
    )
    assert seam.exceptAll(pub).count() == 0
    assert pub.exceptAll(seam).count() == 0
    # short doc (< k words) keeps every token in BOTH
    assert seam.filter("doc_id = 4").collect()[0]["clean_text"] == "short doc"


def test_text_operators_same_rows_with_and_without_ansi(spark):
    """The NULL, empty and whitespace-only rows of the adversarial
    corpus give NULL and empty word arrays, and ``size(NULL)`` is -1 in
    legacy mode but NULL under ANSI: every public operator must return
    the same rows in both sessions."""
    key = "spark.sql.ansi.enabled"
    before = spark.conf.get(key)
    ops = (remove_boilerplate_segments, sliding_gram_dedup, segment_dedup)
    rows = {}
    try:
        for ansi in ("false", "true"):
            spark.conf.set(key, ansi)
            df = spark.createDataFrame(_DOCS, "doc_id long, text string")
            rows[ansi] = [
                sorted(map(tuple, op(df, "text", "doc_id").collect()))
                for op in ops
            ]
    finally:
        spark.conf.set(key, before)
    assert rows["false"] == rows["true"]
    # NULL text keeps nothing; sliding-gram reports its token count as
    # NULL, the segment operators report 0 segments.
    boiler, gram, seg = rows["true"]
    assert boiler[-1] == seg[-1] == (9, "", 0, 0)
    assert gram[-1] == (9, "", 0, None)


def test_pipeline_same_rows_with_and_without_ansi(spark):
    """With ``min_words=0`` the empty and whitespace-only documents reach
    the quality ratios, which divide by the word count: both sessions
    must give the same rows (NULL ratios filter those documents out),
    on the plain path and the words-array hygiene path."""
    from corral_spark.pipelines import prepare_pretraining_corpus

    key = "spark.sql.ansi.enabled"
    before = spark.conf.get(key)
    variants = (
        {},
        {"max_top_token_fraction": 0.5, "boilerplate_max_df": 2, "gram_dedup_k": 8},
    )
    rows = {}
    try:
        for ansi in ("false", "true"):
            spark.conf.set(key, ansi)
            df = spark.createDataFrame(_DOCS, "doc_id long, text string")
            rows[ansi] = [
                sorted(
                    map(
                        tuple,
                        prepare_pretraining_corpus(
                            df, min_words=0, with_report=False, **kw
                        )[0].collect(),
                    )
                )
                for kw in variants
            ]
    finally:
        spark.conf.set(key, before)
    assert rows["false"] == rows["true"]
    assert all(rows["true"]), rows  # some documents survive each variant


def test_fused_pipeline_equals_unfused_composition(spark):
    """End-to-end: prepare_pretraining_corpus (cores chained on one
    words frame) must emit exactly what the public-operator
    composition emits —
    the same stage order on the same corpus slice the registry
    queries use, at sf0.001 for speed."""
    from corral_spark.operators.quality import normalize_text, redact_pii
    from corral_spark.pipelines import prepare_pretraining_corpus
    from corral_spark.sources.tables import load_table

    sf = "/root/testdata/sf0.001"
    docs = load_table(spark, sf, "documents")
    bench = docs.filter(F.col("source") == "src0").select("doc_id", "text")
    cands = docs.filter(F.col("source") != "src0").select("doc_id", "text")

    fused, _ = prepare_pretraining_corpus(
        cands,
        with_report=False,
        near_dup="verified",
        benchmark=bench,
        max_top_token_fraction=0.2,
        boilerplate_max_df=2,
        gram_dedup_k=8,
    )

    # Unfused: the same stages through the public text operators
    # only, same parameters and order (decontaminate -> normalize ->
    # boilerplate -> gram -> quality incl. top-token bound).
    from corral_spark.operators.contamination import decontaminate
    from corral_spark.operators.textanalysis import _max_run

    d = decontaminate(cands, bench, "doc_id", "text")
    clean = d.select(
        F.col("doc_id"),
        redact_pii(normalize_text(F.col("text"))).alias("clean_text"),
    )
    clean = remove_boilerplate_segments(
        clean, "clean_text", "doc_id", max_df=2
    ).select("doc_id", "clean_text")
    clean = sliding_gram_dedup(clean, "clean_text", "doc_id", k=8).select(
        "doc_id", "clean_text"
    )
    words = split_words(F.col("clean_text"))
    scored = clean.select(
        "doc_id",
        "clean_text",
        F.size(words).alias("n_words"),
        (F.size(F.array_distinct(words)) / F.size(words)).alias(
            "distinct_ratio"
        ),
        F.round(
            _max_run(F.array_sort(words)).cast("double") / F.size(words), 4
        ).alias("top_token_fraction"),
    )
    filtered = scored.filter(
        (F.col("n_words") >= 20)
        & (F.col("distinct_ratio") >= 0.3)
        & (F.col("top_token_fraction") <= 0.2)
    ).select("doc_id", "clean_text", "n_words")

    from corral_spark.operators.dedup import (
        dedup_exact,
        minhash_verified_pairs,
    )
    from corral_spark.operators.graph import connected_components
    from corral_spark.operators.sampling import train_test_split

    exact = materialize(
        dedup_exact(filtered, ["clean_text"], "doc_id"), eager=False
    )
    pairs = minhash_verified_pairs(
        exact, "clean_text", "doc_id", threshold=0.5
    ).select("id_a", "id_b")
    comp = connected_components(pairs, "id_a", "id_b")
    non_reps = comp.filter(F.col("node") != F.col("component")).select(
        F.col("node").alias("doc_id")
    )
    deduped = exact.join(non_reps, on="doc_id", how="left_anti")
    unfused = train_test_split(deduped, "doc_id", 0.9)

    assert fused.exceptAll(unfused).count() == 0
    assert unfused.exceptAll(fused).count() == 0
