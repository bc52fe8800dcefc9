"""Text-analysis operators for training-data pipelines.

North-star extension (SURVEY §2.4): language ID (stopword-hit
heuristic), quality scoring (length/word statistics), token counting
(whitespace and BPE-ish regex), document fingerprinting (shingle
hashes). Everything is built-in column expressions; the quality/lang
ops are deliberately mirrorable in ANSI SQL so the DuckDB oracle can
check them exactly.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from corral_spark.functions.text import split_words, tokenize
from corral_spark.materialize import materialize
from corral_spark.operators.dedup import word_shingles_arrow

#: Small per-language marker-word lists (top function words). Public
#: knowledge; intentionally tiny — the operator is the pipeline shape,
#: swap richer lists or fastText at will.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "in", "is", "that", "it"),
    "es": ("el", "la", "de", "que", "los", "las", "una", "por"),
    "de": ("der", "die", "das", "und", "nicht", "ein", "mit", "ist"),
    "fr": ("le", "la", "les", "des", "est", "une", "dans", "que"),
    "zh": ("de", "shi", "le", "bu", "wo", "zai", "you", "he"),
}

#: BPE-ish token pattern: word pieces or single non-space symbols.
BPE_REGEX = r"[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]"


def text_stats(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-document quality statistics: word count, distinct-word
    count, mean word length, stopword ratio, and a composite quality
    score in [0,1]. All ratios are single IEEE divisions of integer
    counts -> bit-stable across engines."""
    words = split_words(F.col(text_col))
    n_words = F.size(words)
    n_distinct = F.size(F.array_distinct(words))
    total_chars = F.aggregate(
        words, F.lit(0), lambda acc, w: acc + F.length(w)
    )
    stop = F.array([F.lit(w) for w in LANG_MARKERS["en"]])
    n_stop = F.size(F.array_intersect(words, stop))

    # Ratios are defined only for non-empty documents: guard the
    # divisions so an empty/whitespace-only text yields NULL stats
    # instead of an ANSI DIVIDE_BY_ZERO (extreme-value campaign;
    # the oracle mirrors with CASE WHEN len(words) > 0).
    avg_word_len = F.when(
        n_words > 0, total_chars.cast("double") / n_words
    )
    distinct_ratio = F.when(
        n_words > 0, n_distinct.cast("double") / n_words
    )
    stopword_ratio = F.when(
        n_distinct > 0, n_stop.cast("double") / n_distinct
    )

    return df.select(
        id_col,
        n_words.alias("n_words"),
        n_distinct.alias("n_distinct_words"),
        avg_word_len.alias("avg_word_len"),
        distinct_ratio.alias("distinct_ratio"),
        stopword_ratio.alias("stopword_ratio"),
    )


def lang_id(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Heuristic language ID: count distinct marker words present per
    language; argmax wins, ties broken by language code order. Returns
    (doc_id, pred_lang, marker_hits)."""
    words = F.array_distinct(split_words(F.col(text_col)))
    scores = {
        lang: F.size(
            F.array_intersect(words, F.array([F.lit(w) for w in markers]))
        )
        for lang, markers in sorted(LANG_MARKERS.items())
    }
    best = F.greatest(*scores.values())
    pred = None
    for lang in sorted(LANG_MARKERS):  # first max in code order wins
        cond = scores[lang] == best
        pred = F.when(cond, F.lit(lang)) if pred is None else pred.when(cond, F.lit(lang))
    return df.select(
        "doc_id",
        pred.alias("pred_lang"),
        best.alias("marker_hits"),
    )


def token_count_bpe(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Token counts: whitespace words and BPE-ish regex tokens
    (letter runs / digit runs / single symbols) — the standard cheap
    proxy for LLM token budgeting."""
    words = split_words(F.col(text_col))
    bpe = F.regexp_extract_all(F.col(text_col), F.lit(BPE_REGEX), 0)
    return df.select(
        "doc_id",
        F.size(words).alias("n_words"),
        F.size(bpe).alias("n_bpe_tokens"),
    )


def _max_run(arr: Column) -> Column:
    """Longest run of equal consecutive elements (0 for empty).

    One JVM fold with a (prev, run, best) struct accumulator — O(n)
    per row, codegen-friendly, no per-element array indexing (the
    element_at-inside-lambda non-CSE trap measured in dedup.py)."""
    step = lambda acc, w: F.struct(  # noqa: E731
        w.alias("prev"),
        F.when(w == acc["prev"], acc["run"] + 1).otherwise(F.lit(1)).alias("run"),
        F.greatest(
            acc["best"],
            F.when(w == acc["prev"], acc["run"] + 1).otherwise(F.lit(1)),
        ).alias("best"),
    )
    init = F.struct(
        F.lit(None).cast("string").alias("prev"),
        F.lit(0).alias("run"),
        F.lit(0).alias("best"),
    )
    return F.aggregate(arr, init, step, lambda acc: acc["best"])


def repetition_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Gopher-style repetition quality signals, computed array-native.

    Per document: ``top_token_fraction`` (share of the most frequent
    word), ``top_bigram_fraction`` (share of the most frequent word
    bigram), ``max_token_run`` (longest run of the same word repeated
    consecutively). High values flag boilerplate/spam for corpus
    filtering (Gopher repetition rules, public).

    Frequency-of-mode is computed as max-run over the *sorted* array —
    O(n log n) per row, entirely JVM-side, no nested quadratic
    transform and no shuffle at all: at 100 TB this is a pure map
    stage fused into the document scan. Ratios are single IEEE
    divisions rounded to 4dp (cross-engine-stable per the registry
    convention)."""
    words = split_words(F.col(text_col))
    staged = df.select(
        "doc_id",
        words.alias("words"),
        F.array_sort(words).alias("sw"),
        F.when(
            F.size(words) >= 2,
            F.array_sort(
                F.zip_with(
                    F.slice(words, 1, F.size(words) - 1),
                    F.slice(words, 2, F.size(words) - 1),
                    lambda a, b: F.concat_ws(" ", a, b),
                )
            ),
        )
        .otherwise(F.array().cast("array<string>"))
        .alias("sbg"),
    )
    n = F.size("words")
    nbg = F.size("sbg")
    return staged.select(
        "doc_id",
        n.alias("n_words"),
        F.when(
            n > 0, F.round(_max_run(F.col("sw")).cast("double") / n, 4)
        ).alias("top_token_fraction"),
        F.when(
            nbg > 0, F.round(_max_run(F.col("sbg")).cast("double") / nbg, 4)
        ).alias("top_bigram_fraction"),
        _max_run(F.col("words")).alias("max_token_run"),
    )


def unigram_logprob(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-document mean unigram log-probability under the corpus's
    own unigram model — the cheap stand-in for perplexity-based
    quality bucketing (CCNet-style, public).

    Two passes: (1) corpus token counts (partial-aggregated groupBy —
    vocabulary-sized output); (2) join counts back to per-doc tokens
    and average ln(count/total). The model side is vocabulary-sized
    (sublinear in corpus size), so the join is left hint-free: AQE
    picks broadcast when the vocab fits the threshold and falls back
    to shuffle when it doesn't — the early review lesson about
    unconditional broadcast hints applied. The single-row total is
    always broadcast."""
    toks = df.select("doc_id", F.explode(tokenize(F.col(text_col))).alias("term"))
    # Vocabulary-sized; lazily checkpointed so the model build runs the
    # corpus explode ONCE — without it the total-agg and the join build
    # side each re-execute the scan+explode lineage (measured 3 scans
    # -> 2, the algorithm's floor, at synthetic sf1).
    counts = (
        toks.groupBy("term")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .transform(lambda d: materialize(d, eager=False))
    )
    total = counts.agg(F.sum("cnt").alias("total"))
    model = counts.crossJoin(F.broadcast(total))
    return (
        # model is vocabulary-sized (corpus-scaled) — shuffle_hash per
        # the corpus-scaled join rule (broadcast audit); only the
        # one-row total broadcasts.
        toks.join(model.hint("shuffle_hash"), "term")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.round(
                F.avg(F.log(F.col("cnt").cast("double") / F.col("total"))), 4
            ).alias("mean_logprob"),
        )
    )


def doc_fingerprint(
    df: DataFrame, text_col: str = "text", shingle_n: int = 5
) -> DataFrame:
    """Order-insensitive content fingerprint: min/max/xor-fold of
    xxhash64 over word shingles. Cheap rolling-hash-style identity for
    change detection and clustering; xxhash64 is Spark-side, so this
    op is checked rows-only (no cross-engine hash parity)."""
    sh = word_shingles_arrow(F.col(text_col), shingle_n)
    hashes = F.transform(sh, lambda s: F.xxhash64(s))
    folded = F.aggregate(
        hashes, F.lit(0).cast("long"), lambda acc, h: acc.bitwiseXOR(h)
    )
    return df.select(
        "doc_id",
        F.array_min(hashes).alias("fp_min"),
        F.array_max(hashes).alias("fp_max"),
        folded.alias("fp_xor"),
        F.size(sh).alias("n_shingles"),
    )


def bigram_logprob(
    df: DataFrame,
    text_col: str = "text",
    alpha: float = 0.5,
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document mean bigram log-probability under the corpus's own
    add-alpha-smoothed bigram model: P(w2|w1) = (c(w1 w2) + a) /
    (ctx(w1) + a*V), the conditional-probability upgrade over
    unigram_logprob for perplexity-style quality bucketing.

    Model side is bigram-vocabulary-sized (sublinear in corpus size):
    corpus bigram counts (one partial-aggregated groupBy), context
    counts derived FROM the bigram counts (no extra corpus scan), and
    the V scalar (distinct unigrams) broadcast. The scoring join is
    hint-free — AQE broadcasts the model when it fits. Documents with
    fewer than two tokens emit (0, NULL).

    Output: (doc_id, n_bigrams, mean_logprob) — mean rounded to 4 dp.
    """
    words = tokenize(F.col(text_col))
    n = F.size(words)
    bigrams = F.when(
        n >= 2,
        F.zip_with(
            F.slice(words, 1, n - 1),
            F.slice(words, 2, n - 1),
            lambda a, b: F.concat_ws(" ", a, b),
        ),
    ).otherwise(F.array().cast("array<string>"))

    big = df.select(id_col, F.explode(bigrams).alias("bg"))
    toks = df.select(F.explode(words).alias("t"))
    vocab = toks.agg(F.count_distinct("t").cast("double").alias("V"))

    c2 = (
        big.groupBy("bg")
        .agg(F.count(F.lit(1)).alias("c2"))
        .transform(lambda d: materialize(d, eager=False))
    )
    ctx = F.split(F.col("bg"), " ").getItem(0)
    c1 = c2.select(ctx.alias("w1"), "c2").groupBy("w1").agg(
        F.sum("c2").alias("c1")
    )
    # c2/c1/model are vocabulary-sized (corpus-scaled) — shuffle_hash
    # per the corpus-scaled join rule; only the one-row V broadcasts.
    model = (
        c2.withColumn("w1", ctx)
        .join(c1.hint("shuffle_hash"), "w1")
        .crossJoin(F.broadcast(vocab))
        .select("bg", "c2", "c1", "V")
    )
    scored = big.join(model.hint("shuffle_hash"), "bg").groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        F.round(
            F.avg(
                F.log(
                    (F.col("c2") + F.lit(alpha))
                    / (F.col("c1") + F.lit(alpha) * F.col("V"))
                )
            ),
            4,
        ).alias("mean_logprob"),
    )
    return (
        # scored is per-document (corpus-scaled) — same rule.
        df.select(id_col)
        .join(scored.hint("shuffle_hash"), id_col, "left")
        .select(
            id_col,
            F.coalesce(F.col("n_bigrams"), F.lit(0)).alias("n_bigrams"),
            "mean_logprob",
        )
    )
