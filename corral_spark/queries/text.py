"""Text-analysis queries over the documents corpus: per-document
statistics, language ID, fingerprints, repetition signals, unigram /
bigram corpus language models, phrase mining, chunking, sequence
packing and the SQL UDTF surface. No reference analog — the
reference's text surface is the word_count tokenizer
(examples/word_count/word_count.go:14-27); these are SURVEY §2.4
LLM-pipeline extensions.

``EN_STOP_SQL`` and ``max_run_sql`` are the DuckDB mirrors of two
operators.textanalysis rules; the hygiene queries' oracles reuse them.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from corral_spark.functions.text import TOKENIZE_SQL
from corral_spark.functions.udtfs import register_udtfs
from corral_spark.operators.phrases import learn_phrases
from corral_spark.operators.textanalysis import (
    LANG_MARKERS,
    bigram_logprob,
    doc_fingerprint,
    lang_id,
    repetition_stats,
    text_stats,
    token_count_bpe,
    unigram_logprob,
)
from corral_spark.queries.registry import register
from corral_spark.sources.tables import load_table


def _sql_list(words) -> str:
    return "[" + ", ".join(f"'{w}'" for w in words) + "]"


#: DuckDB list literal of the English marker stopwords
#: (textanalysis.LANG_MARKERS["en"]).
EN_STOP_SQL = _sql_list(LANG_MARKERS["en"])


def max_run_sql(arr: str, length: str) -> str:
    """DuckDB twin of textanalysis._max_run via change-point indices:
    run lengths are diffs of consecutive positions where the value
    changes (the Spark side uses a fold; results are identical exact
    integers)."""
    cp = (
        f"list_filter(range(1, {length} + 1),"
        f" i -> i = 1 OR {arr}[i] <> {arr}[i-1])"
    )
    return (
        f"COALESCE(list_max(list_transform(range(1, len({cp}) + 1),"
        f" k -> (CASE WHEN k < len({cp}) THEN ({cp})[k+1]"
        f" ELSE {length} + 1 END) - ({cp})[k])), 0)"
    )


# ---------------------------------------------------------------------------
# Per-document statistics and language ID
# ---------------------------------------------------------------------------


@register(
    "token_count_docs",
    oracle="""
    SELECT doc_id,
           len(list_filter(string_split(text, ' '), x -> x <> '')) AS n_words,
           len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]')) AS n_bpe_tokens
    FROM documents
    ORDER BY doc_id
    """,
    tags=("text", "extension"),
)
def token_count_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting (operators.textanalysis.token_count_bpe):
    whitespace words + BPE-ish regex tokens for LLM budget
    estimation."""
    return token_count_bpe(load_table(spark, sf_dir, "documents")).orderBy("doc_id")


@register(
    "text_stats_docs",
    oracle=f"""
    WITH w AS (
      SELECT doc_id,
             list_filter(string_split(text, ' '), x -> x <> '') AS words
      FROM documents
    )
    SELECT doc_id,
           len(words) AS n_words,
           len(list_distinct(words)) AS n_distinct_words,
           CASE WHEN len(words) > 0 THEN
             CAST(list_reduce(list_transform(words, x -> length(x)), (a, b) -> a + b) AS DOUBLE)
               / len(words) END AS avg_word_len,
           CASE WHEN len(words) > 0 THEN
             CAST(len(list_distinct(words)) AS DOUBLE) / len(words)
             END AS distinct_ratio,
           CASE WHEN len(list_distinct(words)) > 0 THEN
             CAST(len(list_intersect(words, {EN_STOP_SQL})) AS DOUBLE)
               / len(list_distinct(words)) END AS stopword_ratio
    FROM w
    ORDER BY doc_id
    """,
    tags=("text", "extension"),
)
def text_stats_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document quality statistics (operators.textanalysis.
    text_stats): counts and IEEE-stable ratios for filtering a
    training corpus by quality."""
    return text_stats(load_table(spark, sf_dir, "documents")).orderBy("doc_id")


def _lang_id_oracle() -> str:
    score = {
        lang: f"len(list_intersect(wd, {_sql_list(m)}))"
        for lang, m in sorted(LANG_MARKERS.items())
    }
    greatest = "greatest(" + ", ".join(score.values()) + ")"
    case = " ".join(
        f"WHEN {score[lang]} = __best THEN '{lang}'" for lang in sorted(LANG_MARKERS)
    )
    return f"""
    WITH w AS (
      SELECT doc_id,
             list_distinct(list_filter(string_split(text, ' '), x -> x <> '')) AS wd
      FROM documents
    ),
    s AS (SELECT doc_id, wd, {greatest} AS __best FROM w)
    SELECT doc_id, CASE {case} END AS pred_lang, __best AS marker_hits
    FROM s
    ORDER BY doc_id
    """


@register(
    "lang_id_docs",
    oracle=_lang_id_oracle(),
    tags=("text", "extension"),
)
def lang_id_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-stopword language ID (operators.textanalysis.lang_id):
    distinct-marker hit count per language, argmax with code-order tie
    break."""
    return lang_id(load_table(spark, sf_dir, "documents")).orderBy("doc_id")


@register(
    "doc_fingerprint_md5",
    oracle="""
    WITH w AS (
      SELECT doc_id,
             list_filter(string_split_regex(trim(lower(
               regexp_replace(text, '[^a-zA-Z0-9\\s]+', ' ', 'g'))), '\\s+'),
               x -> x <> '') AS words
      FROM documents
    ),
    sh AS (
      SELECT doc_id,
             unnest(list_distinct(list_transform(
               range(1, greatest(len(words) - 4, 1) + 1),
               i -> array_to_string(list_slice(words, i, i + 4), ' ')))) AS s
      FROM w
    )
    SELECT doc_id,
           MIN(md5(s)) AS fp_min,
           MAX(md5(s)) AS fp_max,
           COUNT(*) AS n_shingles
    FROM sh
    GROUP BY doc_id
    ORDER BY doc_id
    """,
    tags=("text", "fingerprint", "extension"),
)
def doc_fingerprint_md5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-engine-checkable content fingerprint: min/max md5 over
    5-word shingles (md5 exists identically in every engine, so this
    variant is oracle-gated exactly; the xxhash64 variant below stays
    for speed in production paths)."""
    from corral_spark.operators.dedup import word_shingles_arrow

    docs = load_table(spark, sf_dir, "documents")
    sh = word_shingles_arrow(F.col("text"), 5)
    ex = docs.select("doc_id", F.explode(sh).alias("s"))
    return (
        ex.groupBy("doc_id")
        .agg(
            F.min(F.md5("s")).alias("fp_min"),
            F.max(F.md5("s")).alias("fp_max"),
            F.count(F.lit(1)).alias("n_shingles"),
        )
        .orderBy("doc_id")
    )


@register(
    "doc_fingerprint_docs",
    tags=("text", "extension"),  # rows-only: xxhash64 fingerprints
)
def doc_fingerprint_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shingle-hash document fingerprints (min/max/xor-fold of
    xxhash64 over 5-word shingles). Rows-only gate; determinism is
    pinned by a pytest golden."""
    return doc_fingerprint(load_table(spark, sf_dir, "documents")).orderBy("doc_id")


@register(
    "doc_repetition_stats",
    oracle=f"""
    WITH w AS (
      SELECT doc_id,
             list_filter(string_split(COALESCE(text, ''), ' '),
                         x -> x <> '') AS words
      FROM documents
    ),
    s AS (
      SELECT doc_id, words, len(words) AS n,
             list_sort(words) AS sw,
             list_sort(list_transform(range(1, len(words)),
               i -> words[i] || ' ' || words[i+1])) AS sbg
      FROM w
    )
    SELECT doc_id,
           n AS n_words,
           CASE WHEN n > 0 THEN
             round(CAST({max_run_sql('sw', 'n')} AS DOUBLE) / n, 4)
           END AS top_token_fraction,
           CASE WHEN len(sbg) > 0 THEN
             round(CAST({max_run_sql('sbg', 'len(sbg)')} AS DOUBLE)
                   / len(sbg), 4)
           END AS top_bigram_fraction,
           {max_run_sql('words', 'n')} AS max_token_run
    FROM s
    ORDER BY doc_id
    """,
    tags=("text", "quality", "gap"),
)
def doc_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition signals (operators.textanalysis.
    repetition_stats): top-word share, top-bigram share, and longest
    consecutive-repeat run per document — the standard boilerplate/
    spam filters for corpus curation. Pure map stage (array folds),
    no shuffle.

    NULL text is the EMPTY document (the hygiene-boundary convention,
    COALESCE both sides): n_words 0, NULL fractions, max_token_run 0
    — not legacy size(NULL) = -1 leaking into the stats."""
    docs = load_table(spark, sf_dir, "documents").withColumn(
        "text", F.coalesce(F.col("text"), F.lit(""))
    )
    return repetition_stats(docs).orderBy("doc_id")


# ---------------------------------------------------------------------------
# Corpus language models and phrase mining
# ---------------------------------------------------------------------------


@register(
    "unigram_logprob_docs",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, unnest({TOKENIZE_SQL.format(col='text')}) AS term
      FROM documents
    ),
    counts AS (SELECT term, COUNT(*) AS cnt FROM tok GROUP BY term),
    total AS (SELECT CAST(SUM(cnt) AS BIGINT) AS total FROM counts)
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           round(AVG(ln(CAST(cnt AS DOUBLE) / total)), 4) AS mean_logprob
    FROM tok JOIN counts USING (term), total
    GROUP BY doc_id
    ORDER BY doc_id
    """,
    tags=("text", "quality", "gap"),
)
def unigram_logprob_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean unigram log-probability per document under the corpus's
    own unigram LM (operators.textanalysis.unigram_logprob) — the
    CCNet-style perplexity proxy for quality bucketing. Model join is
    hint-free (AQE broadcasts the vocabulary-sized side when small)."""
    return unigram_logprob(load_table(spark, sf_dir, "documents")).orderBy("doc_id")


@register(
    "bigram_logprob_docs",
    oracle=f"""
    WITH w AS (
      SELECT doc_id, {TOKENIZE_SQL.format(col='text')} AS words
      FROM documents
    ),
    bg AS (
      SELECT doc_id, words[i] || ' ' || words[i+1] AS b
      FROM w, unnest(range(1, len(words))) AS t(i)
      WHERE len(words) >= 2
    ),
    c2 AS (SELECT b, COUNT(*) AS c2 FROM bg GROUP BY b),
    c1 AS (
      SELECT string_split(b, ' ')[1] AS w1, SUM(c2) AS c1
      FROM c2 GROUP BY 1
    ),
    v AS (
      SELECT CAST(COUNT(DISTINCT t) AS DOUBLE) AS vocab
      FROM (SELECT unnest(words) AS t FROM w)
    ),
    scored AS (
      SELECT bg.doc_id, COUNT(*) AS n_bigrams,
             round(AVG(ln((c2.c2 + 0.5) / (c1.c1 + 0.5 * v.vocab))), 4)
               AS mean_logprob
      FROM bg
      JOIN c2 USING (b)
      JOIN c1 ON string_split(bg.b, ' ')[1] = c1.w1, v
      GROUP BY bg.doc_id
    )
    SELECT d.doc_id,
           CAST(COALESCE(s.n_bigrams, 0) AS BIGINT) AS n_bigrams,
           s.mean_logprob
    FROM documents d LEFT JOIN scored s USING (doc_id)
    ORDER BY d.doc_id
    """,
    tags=("text", "quality", "extension"),
)
def bigram_logprob_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean bigram log-probability per document under the corpus's own
    add-0.5-smoothed bigram model (textanalysis.bigram_logprob) — the
    conditional-probability upgrade over unigram_logprob_docs for
    perplexity-style quality bucketing. Context counts derive from the
    bigram counts (no extra corpus scan); the model join is hint-free
    (AQE broadcasts the bigram-vocabulary side when it fits)."""
    return bigram_logprob(
        load_table(spark, sf_dir, "documents"), "text"
    ).orderBy("doc_id")


# phrase_mining_docs learns k rounds of "count adjacent token pairs,
# merge the globally most frequent pair everywhere". Each round is one
# full-corpus pair aggregation (the shuffle carries one row per
# DISTINCT pair, map-side combined) plus a single-row argmax collect —
# bounded driver-side control flow, the k-means-iteration shape.
# Counts are exact integers and the merge rule (two passes of the
# literal ' a b ' -> ' a@b ' rewrite) is engine-identical, so the
# oracle replays all four iterations unrolled.
def _phrase_iteration_sql(n: int) -> str:
    """One unrolled learn iteration: argmax bigram of corpus c{n-1},
    then the two-pass literal merge rewrite producing corpus c{n}."""
    prev = f"c{n - 1}"
    return f"""
    p{n} AS (
      SELECT pair, COUNT(*) AS cnt FROM (
        SELECT unnest(list_transform(range(1, len(toks)),
                      i -> toks[i] || ' ' || toks[i + 1])) AS pair
        FROM (SELECT list_filter(string_split(trim(s), ' '),
                                 w -> w <> '') AS toks FROM {prev})
      ) GROUP BY pair ORDER BY cnt DESC, pair LIMIT 1
    ),
    c{n} AS (
      SELECT regexp_replace(regexp_replace(s,
               ' ' || p{n}.pair || ' ',
               ' ' || replace(p{n}.pair, ' ', '@') || ' ', 'g'),
               ' ' || p{n}.pair || ' ',
               ' ' || replace(p{n}.pair, ' ', '@') || ' ', 'g') AS s
      FROM {prev}, p{n}
    )"""


_PHRASE_ORACLE = (
    """
    WITH c0 AS (
      SELECT ' ' || array_to_string(list_filter(string_split_regex(
               trim(lower(regexp_replace(text,
                 '[^a-zA-Z0-9\\s]+', ' ', 'g'))),
               '\\s+'), w -> w <> ''), ' ') || ' ' AS s
      FROM documents
    ),"""
    + ",".join(_phrase_iteration_sql(n) for n in (1, 2, 3, 4))
    + """
    SELECT iteration, pair, cnt FROM (
      SELECT CAST(1 AS INTEGER) AS iteration, pair,
             CAST(cnt AS BIGINT) AS cnt FROM p1
      UNION ALL SELECT 2, pair, CAST(cnt AS BIGINT) FROM p2
      UNION ALL SELECT 3, pair, CAST(cnt AS BIGINT) FROM p3
      UNION ALL SELECT 4, pair, CAST(cnt AS BIGINT) FROM p4
    ) ORDER BY iteration
    """
)


@register(
    "phrase_mining_docs",
    oracle=_PHRASE_ORACLE,
    tags=("text", "iterative", "extension"),
)
def phrase_mining_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-4 learned phrase merges over the documents corpus
    (operators.phrases.learn_phrases, word2phrase-style collocation
    learning): (iteration, pair, cnt) — the pair merged in each round
    and its pre-merge exact occurrence count. The oracle unrolls the
    four iterations (argmax bigram + the same deterministic two-pass
    literal rewrite) so the gate independently replays the whole
    greedy merge trajectory, tie-breaks included."""
    docs = load_table(spark, sf_dir, "documents")
    return learn_phrases(docs, text_col="text", k=4).orderBy("iteration")


# ---------------------------------------------------------------------------
# Chunking, packing and the SQL UDTF surface
# ---------------------------------------------------------------------------


@register(
    "doc_chunks",
    oracle=f"""
    WITH w AS (
      SELECT doc_id, {TOKENIZE_SQL.format(col='text')} AS words FROM documents
    ),
    n AS (
      SELECT doc_id, words, len(words) AS nw,
             greatest(1, CAST(ceil((len(words) - 10) / 30.0) AS INT))
               AS n_chunks
      FROM w
    )
    SELECT doc_id,
           CAST(c.i AS INT) AS chunk_id,
           -- Scoped COALESCE: a zero-word document yields its one
           -- EMPTY chunk (DuckDB's array_to_string([]) is NULL where
           -- Spark's array_join([]) is '' — the r14 empty-rebuild
           -- convention, same as order_item_arrays), while a
           -- NULL-text document keeps its NULL chunk on both engines
           -- (both engines' greatest(1, NULL) = 1 emits the row).
           CASE WHEN words IS NOT NULL THEN
             COALESCE(array_to_string(
               list_slice(words, c.i * 30 + 1, c.i * 30 + 40), ' '), '')
           END AS chunk_text,
           CAST(len(list_slice(words, c.i * 30 + 1, c.i * 30 + 40)) AS INT)
             AS n_words
    FROM n, unnest(generate_series(0, n_chunks - 1)) AS c(i)
    ORDER BY doc_id, chunk_id
    """,
    tags=("chunking", "text", "extension"),
)
def doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAG/pretraining chunker (operators.chunking.chunk_documents):
    40-word chunks, 10-word overlap (stride 30 — several chunks per
    document at this corpus's ~100-word lengths), pure
    slice+posexplode — linear in corpus words, shuffle-free. The
    oracle mirrors the slicing arithmetic exactly with list_slice."""
    from corral_spark.operators.chunking import chunk_documents

    return chunk_documents(
        load_table(spark, sf_dir, "documents"), "text", "doc_id", 40, 10
    ).orderBy("doc_id", "chunk_id")


@register(
    "pack_docs_2k",
    oracle=f"""
    WITH t AS (
      SELECT doc_id,
             CAST(len({TOKENIZE_SQL.format(col='text')}) AS BIGINT) AS n_tokens
      FROM documents
    ),
    c AS (
      SELECT doc_id, n_tokens,
             CAST(COALESCE(SUM(n_tokens) OVER (
               ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING
               AND 1 PRECEDING), 0) AS BIGINT) AS excl
      FROM t
    )
    SELECT doc_id, n_tokens,
           excl // 2048 AS pack_id,
           excl % 2048 AS pack_offset
    FROM c
    ORDER BY doc_id
    """,
    tags=("packing", "text", "extension"),
)
def pack_docs_2k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing (operators.chunking.pack_sequences): documents
    in doc_id order filled into ~2048-token packs via one windowed
    exclusive cumsum — the deterministic streaming approximation of
    first-fit (exact bin packing is sequential/NP-hard). pack_offset
    gives each doc's start position inside its pack."""
    from corral_spark.functions.text import tokenize
    from corral_spark.operators.chunking import pack_sequences

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.size(tokenize(F.col("text"))).cast("bigint").alias("n_tokens"),
    )
    return pack_sequences(docs, "doc_id", "n_tokens", 2048).orderBy("doc_id")


@register(
    "udtf_sentences_docs",
    oracle="""
    WITH segs AS (
      SELECT doc_id,
             generate_subscripts(
               string_split_regex(text, '[.!?]+\\s+'), 1) AS idx,
             unnest(string_split_regex(text, '[.!?]+\\s+')) AS sentence
      FROM documents
    )
    SELECT doc_id, CAST(idx AS INT) AS idx, sentence
    FROM segs
    WHERE sentence <> ''
    ORDER BY doc_id, idx
    """,
    # 'extension' tag: this query is Python-by-design (the UDTF runs
    # ArrowEvalPythonUDTF), so it is exempt from the no-EvalPython
    # plan purity test that gates the relational set.
    tags=("udtf", "sql-surface", "documents", "gap", "extension"),
)
def udtf_sentences_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sentence explosion through the SQL UDTF surface: a Python UDTF
    (functions.udtfs.SplitSentences, Arrow-optimized) registered as a
    table function and invoked via LATERAL — the one-row-to-many
    extension point for SQL users (DataFrame users get explode /
    mapInPandas).  idx is the 1-based raw-split position, aligning
    with the oracle's generate_subscripts; empty segments are dropped
    on both sides.  UDTFs are row-at-a-time Python — API surface, not
    the hot path (the JVM formulation is explode(split(...)); this
    query exists to pin the UDTF contract cross-engine)."""
    register_udtfs(spark)
    docs = load_table(spark, sf_dir, "documents")
    docs.createOrReplaceTempView("__udtf_docs")
    return spark.sql(
        """
        SELECT d.doc_id, s.idx, s.sentence
        FROM __udtf_docs d, LATERAL split_sentences(d.text) s
        ORDER BY d.doc_id, s.idx
        """
    )
