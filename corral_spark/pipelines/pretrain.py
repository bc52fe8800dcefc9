"""End-to-end pretraining corpus preparation — the capstone pipeline
composing the engine's operator families (SURVEY §2.4) the way a real
100 TB data-prep job does:

    normalize + redact -> quality filter -> exact dedup
    -> near-dedup (MinHash LSH -> connected components, keep reps)
    -> reproducible train/test split

Every stage is DataFrame-in/DataFrame-out, so Catalyst fuses the
scan-side stages (normalize/redact/quality filter run in ONE pass over
the input) and the only shuffles are the dedup key shuffle, the LSH
band join, and the tiny component propagation. Stage row counts are
collected from lightweight aggregates for the run report.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from corral_spark.functions.text import split_words
from corral_spark.materialize import materialize
from corral_spark.operators.dedup import (
    _boilerplate_keep_words,
    _gram_keep_words,
    dedup_exact,
    minhash_lsh_pairs,
    minhash_signatures,
    minhash_verified_pairs,
)
from corral_spark.operators.contamination import decontaminate
from corral_spark.operators.graph import connected_components
from corral_spark.operators.quality import normalize_text, redact_pii
from corral_spark.operators.sampling import train_test_split
from corral_spark.operators.textanalysis import _max_run


def prepare_pretraining_corpus(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_words: int = 20,
    min_distinct_ratio: float = 0.3,
    near_dup_threshold: float = 0.5,
    train_fraction: float = 0.9,
    with_report: bool = True,
    near_dup: str = "estimate",
    benchmark: DataFrame | None = None,
    max_top_token_fraction: float | None = None,
    boilerplate_max_df: int | None = None,
    gram_dedup_k: int | None = None,
    provenance: bool = False,
) -> tuple[DataFrame, dict[str, int]]:
    """Returns (corpus, report): the cleaned/deduped/split corpus with
    columns (id_col, clean_text, n_words, split), plus per-stage
    surviving-row counts. ``with_report=False`` skips the per-stage
    count() actions (6 extra jobs) when only the final frame matters —
    the mode the declared query/bench path uses.

    Optional hygiene stages (off by default so the oracle-checked
    baseline shape is unchanged): ``benchmark`` enables 5-gram
    decontamination against an eval corpus before any other stage
    (matched on raw text, the standard order);
    ``max_top_token_fraction`` adds the Gopher top-token repetition
    bound to the quality filter — computed in the SAME fused scan
    projection as the other quality signals, so it costs no extra
    pass; ``boilerplate_max_df`` runs C4-style segment boilerplate
    removal (dedup.remove_boilerplate_segments) on the normalized text
    BEFORE quality filtering, so template noise cannot carry a
    low-quality document over the length threshold — docs emptied by
    the removal fall out at the quality stage, and the word-count
    signals score the cleaned text; ``gram_dedup_k`` additionally runs
    sliding k-gram exact-substring dedup (dedup.sliding_gram_dedup) at
    the same point — after boilerplate removal when both are on, since
    corpus-hot templates should be dropped everywhere rather than kept
    once at their accidental first occurrence.

    ``provenance=True`` makes the shipped corpus audit-traceable end to
    end: (source_file, source_row) resolve from the file source's
    hidden ``_metadata`` struct AT THE SCAN (they cannot resolve past
    joins/aggregations — sources/provenance.py documents the boundary),
    ride a narrow (id, file, row) side frame through the funnel, and
    join back onto the surviving rows at the end. Requires ``docs`` to
    bottom out at a file source; the join-back is one shuffle of the
    OUTPUT-sized corpus against three narrow columns — the takedown/
    forensics contract (any shipped example names its source shard and
    physical row) at the cost of one id-keyed join, never a rescan."""

    def _count(df: DataFrame) -> int:
        return df.count() if with_report else -1

    prov = None
    if provenance:
        from corral_spark.sources.provenance import with_provenance

        prov = with_provenance(docs, basename_only=True).select(
            id_col, "source_file", "source_row"
        )

    report: dict[str, int] = {"input": _count(docs)}

    # 0. Optional benchmark decontamination (operators.contamination):
    #    broadcast eval n-gram set, anti-join flagged docs away.
    if benchmark is not None:
        docs = decontaminate(docs, benchmark, id_col, text_col)
        report["after_decontamination"] = _count(docs)

    # 1. Scan-side hygiene: normalize, redact, quality-score — fused
    #    into one projection+filter over the source scan. The scan is
    #    conditionally re-spread first (dedup.spread_input): a small /
    #    single-row-group input gives a 1-task scan that would
    #    serialize the regex-heavy normalize+redact stage on one core;
    #    at scale the scan is already parallel and this is a no-op.
    from corral_spark.operators.dedup import spread_input

    clean = spread_input(
        docs.select(F.col(id_col), F.col(text_col))
    ).select(
        F.col(id_col),
        redact_pii(normalize_text(F.col(text_col))).alias("clean_text"),
    )
    # 1b/1c. Optional hygiene stages (boilerplate removal, sliding-gram
    #     substring dedup) — both run pre-quality so the word-count
    #     signals score the cleaned/deduplicated content. They chain
    #     the operators' own words-array cores
    #     (dedup._boilerplate_keep_words / _gram_keep_words, the one
    #     implementation behind remove_boilerplate_segments and
    #     sliding_gram_dedup): tokenize ONCE here, pass the (__id, __w)
    #     words frame from core to core, and reassemble clean_text ONCE
    #     at the scored projection — reassembling text between stages
    #     would only have the next stage re-split the exact string
    #     (measured: 15 -> 6 split sites in the pretrain_corpus_full
    #     plan).
    if boilerplate_max_df is not None or gram_dedup_k is not None:
        # Each core has two consumers of its input (the segment/window
        # explode and the final id join) — materialize between cores.
        wb = materialize(
            clean.select(
                F.col(id_col).alias("__id"),
                split_words(F.col("clean_text")).alias("__w"),
            ),
            eager=False,
        )
        if boilerplate_max_df is not None:
            wb = materialize(
                _boilerplate_keep_words(wb, max_df=boilerplate_max_df).select(
                    "__id", "__w"
                ),
                eager=False,
            )
            report["after_boilerplate_removal"] = _count(
                wb.filter(F.size("__w") > 0)
            )
        if gram_dedup_k is not None:
            wb = materialize(
                _gram_keep_words(wb, k=gram_dedup_k).select("__id", "__w"),
                eager=False,
            )
            report["after_gram_dedup"] = _count(wb.filter(F.size("__w") > 0))
        pre_scored = wb.select(
            F.col("__id").alias(id_col),
            # The operators' own text rebuild: a single-space join of
            # the kept words.
            F.concat_ws(" ", "__w").alias("clean_text"),
            "__w",
        )
        words = F.col("__w")
    else:
        pre_scored = clean
        words = split_words(F.col("clean_text"))
    n_words = F.size(words)
    # The ratios are NULL for a document without words, as x / 0 is with
    # ANSI off; under ANSI a bare division by 0 raises DIVIDE_BY_ZERO.
    has_words = n_words > 0
    rep_cols = (
        [
            F.when(
                has_words,
                F.round(
                    _max_run(F.array_sort(words)).cast("double") / n_words, 4
                ),
            ).alias("top_token_fraction")
        ]
        if max_top_token_fraction is not None
        else []
    )
    scored = pre_scored.select(
        id_col,
        "clean_text",
        n_words.alias("n_words"),
        F.when(has_words, F.size(F.array_distinct(words)) / n_words).alias(
            "distinct_ratio"
        ),
        *rep_cols,
    )
    cond = (F.col("n_words") >= min_words) & (
        F.col("distinct_ratio") >= min_distinct_ratio
    )
    if max_top_token_fraction is not None:
        cond = cond & (F.col("top_token_fraction") <= max_top_token_fraction)
    filtered = scored.filter(cond).drop(
        "distinct_ratio", "top_token_fraction"
    )
    report["after_quality_filter"] = _count(filtered)

    # 2. Exact dedup on the normalized content (deterministic min-id
    #    winner; the shuffle key is the text hash, not the text).
    #    Checkpointed: three downstream consumers (signature build,
    #    survivor anti-join, report) would otherwise re-run the whole
    #    normalize+filter+window lineage each.
    exact = materialize(
        dedup_exact(filtered, ["clean_text"], id_col), eager=False
    )
    report["after_exact_dedup"] = _count(exact)

    # 3. Near-dedup: MinHash signatures -> LSH candidate pairs ->
    #    connected components -> keep each component's min id.
    #    near_dup='verified' adds the exact shingle-Jaccard check on
    #    each candidate (minhash_verified_pairs): the pair set becomes
    #    EXACTLY "Jaccard >= threshold", making the whole pipeline
    #    deterministic relational algebra — and therefore
    #    oracle-checkable end-to-end. 'estimate' keeps the cheaper
    #    signature-similarity cut (verification join skipped); same
    #    asymptotics either way, candidates bounded by LSH bands.
    if near_dup == "verified":
        pairs = minhash_verified_pairs(
            exact, "clean_text", id_col, threshold=near_dup_threshold
        ).select("id_a", "id_b")
    else:
        sigs = minhash_signatures(exact, "clean_text", id_col)
        pairs = minhash_lsh_pairs(sigs, id_col, threshold=near_dup_threshold)
    comp = connected_components(pairs, "id_a", "id_b")
    non_reps = comp.filter(F.col("node") != F.col("component")).select(
        F.col("node").alias(id_col)
    )
    deduped = exact.join(non_reps, on=id_col, how="left_anti")
    report["after_near_dedup"] = _count(deduped)

    # 4. Reproducible split (cross-engine-stable md5 bucketing).
    corpus = train_test_split(deduped, id_col, train_fraction)
    if prov is not None:
        corpus = corpus.join(prov, on=id_col)
    if with_report:
        report["train"] = corpus.filter(F.col("split") == "train").count()
        report["test"] = corpus.filter(F.col("split") == "test").count()
    return corpus, report
