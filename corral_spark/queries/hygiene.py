"""Corpus-hygiene queries: text normalization and PII redaction,
benchmark decontamination, quality filtering, the composed
pretraining pipeline (with and without row provenance), reproducible
sampling, distribution-drift reports, and multimodal decode plumbing
— the training-data-pipeline families of SURVEY §2.4. No reference
analog: the reference's closest surfaces are the word_count example
(examples/word_count/word_count.go) and the byte-offset input splits
(split.go:15-19).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from corral_spark.operators.contamination import flag_contaminated
from corral_spark.operators.multimodal import assets_from_documents, extract_features
from corral_spark.operators.quality import QUALITY_WEIGHTS, quality_logistic_score
from corral_spark.operators.sampling import target_share_sample
from corral_spark.operators.textanalysis import repetition_stats, unigram_logprob
from corral_spark.queries.registry import register
from corral_spark.queries.text import EN_STOP_SQL, max_run_sql
from corral_spark.sources.tables import load_table


# ---------------------------------------------------------------------------
# Normalization, filters and the composed pretraining pipeline
# ---------------------------------------------------------------------------


@register(
    "normalized_redacted_docs",
    oracle="""
    SELECT doc_id,
           trim(regexp_replace(
             regexp_replace(
               regexp_replace(
                 regexp_replace(lower(text), '\\s+', ' ', 'g'),
                 '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}', '<EMAIL>', 'g'),
               '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b', '<IP>', 'g'),
             '\\b\\d{3}[-.]\\d{3}[-.]\\d{4}\\b', '<PHONE>', 'g')) AS clean_text,
           length(text) AS raw_len
    FROM documents
    ORDER BY doc_id
    """,
    tags=("quality", "text", "extension"),
)
def normalized_redacted_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text hygiene: normalize (lowercase, whitespace collapse, trim)
    then redact PII patterns (operators.quality.redact_pii) — the
    standard pre-training scrub, at scan speed."""
    from corral_spark.operators.quality import normalize_text, redact_pii

    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        redact_pii(normalize_text(F.col("text"))).alias("clean_text"),
        F.length("text").alias("raw_len"),
    ).orderBy("doc_id")


@register(
    "decontaminate_docs",
    oracle="""
    WITH w AS (
      SELECT doc_id, source,
             list_filter(string_split_regex(trim(lower(
               regexp_replace(text, '[^a-zA-Z0-9\\s]+', ' ', 'g'))), '\\s+'),
               x -> x <> '') AS words
      FROM documents
    ),
    tok AS (
      SELECT doc_id, source,
             unnest(list_distinct(list_transform(
               range(1, greatest(len(words) - 4, 1) + 1),
               i -> array_to_string(list_slice(words, i, i + 4), ' ')))) AS gram
      FROM w WHERE len(words) > 0
    ),
    bench AS (SELECT DISTINCT gram FROM tok WHERE source = 'src0')
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_hits
    FROM tok JOIN bench USING (gram)
    WHERE source <> 'src0'
    GROUP BY doc_id
    ORDER BY doc_id
    """,
    tags=("decontamination", "documents", "gap", "extension"),
)
def decontaminate_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination (operators.contamination): treat the
    'src0' slice of the corpus as the eval benchmark; flag every other
    document sharing at least one distinct 5-word shingle with it,
    with its overlapping-gram count. The benchmark n-gram set is
    broadcast by construction (eval suites are MBs regardless of
    corpus SF)."""
    docs = load_table(spark, sf_dir, "documents")
    bench = docs.filter(F.col("source") == "src0")
    cands = docs.filter(F.col("source") != "src0")
    return flag_contaminated(cands, bench, "doc_id", "text", n=5).orderBy(
        "doc_id"
    )


@register(
    "hygiene_filtered_docs",
    oracle="""
    WITH cand AS (SELECT * FROM documents WHERE source <> 'src0'),
    shw AS (
      SELECT doc_id, source,
             list_filter(string_split_regex(trim(lower(
               regexp_replace(text, '[^a-zA-Z0-9\\s]+', ' ', 'g'))), '\\s+'),
               x -> x <> '') AS words
      FROM documents
    ),
    tok5 AS (
      SELECT doc_id, source,
             unnest(list_distinct(list_transform(
               range(1, greatest(len(words) - 4, 1) + 1),
               i -> array_to_string(list_slice(words, i, i + 4), ' ')))) AS gram
      FROM shw WHERE len(words) > 0
    ),
    bench AS (SELECT DISTINCT gram FROM tok5 WHERE source = 'src0'),
    contaminated AS (
      SELECT DISTINCT doc_id FROM tok5 JOIN bench USING (gram)
      WHERE source <> 'src0'
    ),
    rw AS (
      SELECT doc_id,
             list_sort(list_filter(string_split(text, ' '), x -> x <> ''))
               AS sw,
             len(list_filter(string_split(text, ' '), x -> x <> '')) AS n
      FROM cand
    ),
    rep AS (
      SELECT doc_id,
             CASE WHEN n > 0 THEN round(CAST(
               COALESCE(list_max(list_transform(
                 range(1, len(list_filter(range(1, n + 1),
                   i -> i = 1 OR sw[i] <> sw[i-1])) + 1),
                 k -> (CASE WHEN k < len(list_filter(range(1, n + 1),
                         i -> i = 1 OR sw[i] <> sw[i-1]))
                       THEN (list_filter(range(1, n + 1),
                         i -> i = 1 OR sw[i] <> sw[i-1]))[k+1]
                       ELSE n + 1 END)
                      - (list_filter(range(1, n + 1),
                         i -> i = 1 OR sw[i] <> sw[i-1]))[k])), 0)
               AS DOUBLE) / n, 4) END AS top_token_fraction
      FROM rw
    ),
    tok AS (
      SELECT doc_id,
             unnest(list_filter(string_split_regex(trim(lower(
               regexp_replace(text, '[^a-zA-Z0-9\\s]+', ' ', 'g'))), '\\s+'),
               x -> x <> '')) AS term
      FROM cand
    ),
    counts AS (SELECT term, COUNT(*) AS cnt FROM tok GROUP BY term),
    total AS (SELECT CAST(SUM(cnt) AS BIGINT) AS total FROM counts),
    lp AS (
      SELECT doc_id,
             round(AVG(ln(CAST(cnt AS DOUBLE) / total)), 4) AS mean_logprob
      FROM tok JOIN counts USING (term), total
      GROUP BY doc_id
    )
    SELECT c.doc_id, rep.top_token_fraction, lp.mean_logprob
    FROM cand c
    JOIN rep USING (doc_id)
    JOIN lp USING (doc_id)
    WHERE c.doc_id NOT IN (SELECT doc_id FROM contaminated)
      AND rep.top_token_fraction <= 0.15
      AND lp.mean_logprob >= -3.6
    ORDER BY c.doc_id
    """,
    tags=("quality", "decontamination", "documents", "gap", "extension"),
)
def hygiene_filtered_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composed corpus-hygiene filter: candidates (source != 'src0')
    that survive benchmark decontamination AND the Gopher top-token
    repetition bound (<= 0.15) AND the unigram-LM quality band
    (mean log-prob >= -3.6, model fit on the candidate corpus), with
    their signals. Thresholds compare the 4dp-ROUNDED signals — the
    same values both engines emit — so boundary docs classify
    identically cross-engine. One scan feeds the shingle pass, one
    the repetition fold, one the LM explode; all three joins are
    id-keyed."""
    docs = load_table(spark, sf_dir, "documents")
    bench = docs.filter(F.col("source") == "src0")
    cands = docs.filter(F.col("source") != "src0")
    from corral_spark.operators.contamination import decontaminate

    clean = decontaminate(cands, bench, "doc_id", "text", n=5)
    rep = repetition_stats(cands).select("doc_id", "top_token_fraction")
    lp = unigram_logprob(cands).select("doc_id", "mean_logprob")
    return (
        # clean/rep/lp are all per-candidate-document (corpus-scaled)
        # — shuffle_hash per the corpus-scaled join rule (broadcast audit:
        # Catalyst static-planned the surviving-ids set as a driver
        # broadcast build).
        clean.select("doc_id")
        .join(rep.hint("shuffle_hash"), "doc_id")
        .join(lp.hint("shuffle_hash"), "doc_id")
        .filter(
            (F.col("top_token_fraction") <= 0.15)
            & (F.col("mean_logprob") >= -3.6)
        )
        .orderBy("doc_id")
    )


_W = QUALITY_WEIGHTS


@register(
    "quality_score_docs",
    oracle=f"""
    WITH w AS (
      SELECT doc_id,
             list_filter(string_split(text, ' '), x -> x <> '') AS words
      FROM documents
    ),
    f AS (
      SELECT doc_id,
             len(words) AS n_words,
             -- empty-document guard (r14 extreme campaign): ratios
             -- are NULL for zero-word docs on both engines (Spark
             -- text_stats guards the same divisions), so the
             -- logistic score is NULL, keep is NULL — never a
             -- DIVIDE_BY_ZERO / list_reduce([]) raise.
             CASE WHEN len(words) > 0 THEN
               CAST(len(list_distinct(words)) AS DOUBLE) / len(words)
               END AS distinct_ratio,
             CASE WHEN len(list_distinct(words)) > 0 THEN
               CAST(len(list_intersect(words, {EN_STOP_SQL})) AS DOUBLE)
                 / len(list_distinct(words)) END AS stopword_ratio,
             CASE WHEN len(words) > 0 THEN
               CAST(list_reduce(list_transform(words, x -> length(x)),
                                (a, b) -> a + b) AS DOUBLE) / len(words)
               END AS avg_word_len
      FROM w
    )
    SELECT doc_id,
           round(1.0 / (1.0 + exp(-({_W[0]}
               + {_W[1]} * distinct_ratio
               + {_W[2]} * stopword_ratio
               + {_W[3]} * ln(n_words + 1.0)
               + {_W[4]} * (avg_word_len - 5.0)))), 6) AS score,
           round(1.0 / (1.0 + exp(-({_W[0]}
               + {_W[1]} * distinct_ratio
               + {_W[2]} * stopword_ratio
               + {_W[3]} * ln(n_words + 1.0)
               + {_W[4]} * (avg_word_len - 5.0)))), 6) >= 0.5 AS keep
    FROM f
    ORDER BY doc_id
    """,
    tags=("text", "quality", "extension"),
)
def quality_score_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-based quality filtering (the fastText-classifier shape of
    CCNet/RefinedWeb pipelines) as a pure JVM expression: a fixed
    logistic model over text_stats features, scored in the scan
    projection — zero shuffle, zero Python. The oracle recomputes the
    identical model in SQL (operators.quality.quality_logistic_score).
    """
    return quality_logistic_score(
        load_table(spark, sf_dir, "documents"), "text"
    ).orderBy("doc_id")


@register(
    "pretrain_corpus",
    oracle="""
    WITH RECURSIVE
    clean AS (
      SELECT doc_id,
             trim(regexp_replace(
               regexp_replace(
                 regexp_replace(
                   regexp_replace(lower(text), '\\s+', ' ', 'g'),
                   '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}', '<EMAIL>', 'g'),
                 '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b', '<IP>', 'g'),
               '\\b\\d{3}[-.]\\d{3}[-.]\\d{4}\\b', '<PHONE>', 'g')) AS clean_text
      FROM documents
    ),
    scored AS (
      SELECT doc_id, clean_text,
             len(list_filter(string_split(clean_text, ' '), x -> x <> ''))
               AS n_words,
             CAST(len(list_distinct(list_filter(string_split(clean_text, ' '),
               x -> x <> ''))) AS DOUBLE)
               / NULLIF(len(list_filter(string_split(clean_text, ' '),
                 x -> x <> '')), 0) AS dr
      FROM clean
    ),
    filtered AS (
      SELECT doc_id, clean_text, CAST(n_words AS INT) AS n_words
      FROM scored WHERE n_words >= 20 AND dr >= 0.3
    ),
    exact AS (
      SELECT doc_id, clean_text, n_words FROM (
        SELECT *, MIN(doc_id) OVER (PARTITION BY clean_text) AS keep
        FROM filtered
      ) WHERE doc_id = keep
    ),
    w AS (
      SELECT doc_id,
             list_filter(string_split_regex(trim(lower(
               regexp_replace(clean_text, '[^a-zA-Z0-9\\s]+', ' ', 'g'))), '\\s+'),
               x -> x <> '') AS words
      FROM exact
    ),
    tok AS (
      SELECT doc_id,
             unnest(list_distinct(list_transform(
               range(1, greatest(len(words) - 4, 1) + 1),
               i -> array_to_string(list_slice(words, i, i + 4), ' ')))) AS token
      FROM w WHERE len(words) > 0
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM tok GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS inter
      FROM tok a JOIN tok b ON a.token = b.token AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    edges AS (
      SELECT id_a, id_b
      FROM inter JOIN sizes sa ON sa.doc_id = id_a
                 JOIN sizes sb ON sb.doc_id = id_b
      WHERE CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) >= 0.5
    ),
    sym AS (
      SELECT id_a AS u, id_b AS v FROM edges
      UNION
      SELECT id_b AS u, id_a AS v FROM edges
    ),
    reach(node, root) AS (
      SELECT doc_id, doc_id FROM exact
      UNION
      SELECT s.v, r.root FROM reach r JOIN sym s ON s.u = r.node
    ),
    reps AS (
      SELECT node AS doc_id FROM reach GROUP BY node
      HAVING MIN(root) = node
    )
    SELECT e.doc_id, e.clean_text, e.n_words,
           CASE WHEN substring(md5('split:' || CAST(e.doc_id AS VARCHAR)), 1, 8)
                     < 'e6666666'
                THEN 'train' ELSE 'test' END AS split
    FROM exact e JOIN reps USING (doc_id)
    ORDER BY e.doc_id
    """,
    headline=True,
    tags=("pipeline", "dedup", "quality", "sampling", "extension"),
)
def pretrain_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Capstone: the composed pretraining corpus-prep pipeline
    (corral_spark.pipelines.prepare_pretraining_corpus): normalize +
    redact -> quality filter -> exact dedup (min-id winner) ->
    verified MinHash near-dedup (LSH candidates + exact
    shingle-Jaccard >= 0.5) -> connected components (keep reps) ->
    reproducible md5 split. With the verified pair set the whole
    pipeline is deterministic relational algebra, so the oracle
    restates it: regex hygiene, window-min exact dedup, all-pairs
    Jaccard edges, recursive-CTE components, md5-threshold split —
    the full five-stage funnel hash-checked end-to-end."""
    from corral_spark.pipelines import prepare_pretraining_corpus

    corpus, _report = prepare_pretraining_corpus(
        load_table(spark, sf_dir, "documents"),
        with_report=False,
        near_dup="verified",
    )
    return corpus.orderBy("doc_id")


# ``pretrain_corpus`` oracle-checks the base five-stage funnel; the
# optional hygiene stages (benchmark decontamination, C4 boilerplate
# removal, sliding-gram substring dedup, Gopher repetition bound) are
# each oracled on their own. ``pretrain_corpus_full`` runs the pipeline
# with every stage enabled and replays the entire composed funnel in
# one DuckDB statement — the stage CTEs are the component oracles
# chained in the pipeline's order.
#
# Stage order replayed below (must match pipelines.pretrain):
#   decontaminate (raw text, 5-gram vs the src0 slice)
#   -> normalize + redact
#   -> boilerplate removal (10-word segments, max_df=2)
#   -> sliding 8-gram substring dedup
#   -> quality filter (n_words >= 20, distinct_ratio >= 0.3,
#      top_token_fraction <= 0.2)
#   -> exact dedup (min-id winner)
#   -> verified near-dup (5-gram Jaccard >= 0.5) -> components -> reps
#   -> md5 split
_FULL_ORACLE = """
    WITH RECURSIVE
    cand AS (
      SELECT doc_id, text FROM documents WHERE source <> 'src0'
    ),
    dw AS (
      SELECT doc_id,
             list_filter(string_split_regex(trim(lower(
               regexp_replace(text, '[^a-zA-Z0-9\\s]+', ' ', 'g'))), '\\s+'),
               x -> x <> '') AS words
      FROM cand
    ),
    bw AS (
      SELECT list_filter(string_split_regex(trim(lower(
               regexp_replace(text, '[^a-zA-Z0-9\\s]+', ' ', 'g'))), '\\s+'),
               x -> x <> '') AS words
      FROM documents WHERE source = 'src0'
    ),
    btok AS (
      SELECT DISTINCT unnest(list_distinct(list_transform(
               range(1, greatest(len(words) - 4, 1) + 1),
               i -> array_to_string(list_slice(words, i, i + 4), ' ')))) AS gram
      FROM bw WHERE len(words) > 0
    ),
    ctok AS (
      SELECT doc_id, unnest(list_distinct(list_transform(
               range(1, greatest(len(words) - 4, 1) + 1),
               i -> array_to_string(list_slice(words, i, i + 4), ' ')))) AS gram
      FROM dw WHERE len(words) > 0
    ),
    contaminated AS (
      SELECT DISTINCT c.doc_id FROM ctok c JOIN btok USING (gram)
    ),
    decon AS (
      SELECT c.doc_id, c.text FROM cand c
      ANTI JOIN contaminated x ON c.doc_id = x.doc_id
    ),
    clean AS (
      SELECT doc_id,
             trim(regexp_replace(
               regexp_replace(
                 regexp_replace(
                   regexp_replace(lower(text), '\\s+', ' ', 'g'),
                   '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}', '<EMAIL>', 'g'),
                 '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b', '<IP>', 'g'),
               '\\b\\d{3}[-.]\\d{3}[-.]\\d{4}\\b', '<PHONE>', 'g')) AS t
      FROM decon
    ),
    bbase AS (
      SELECT doc_id,
             list_filter(string_split(t, ' '), x -> x <> '') AS words,
             CAST(ceil(len(list_filter(string_split(t, ' '), x -> x <> ''))
                       / 10.0) AS INT) AS nseg
      FROM clean
    ),
    bsegs AS (
      SELECT doc_id, CAST(j AS INT) AS seg_idx,
             array_to_string(list_slice(words, j*10 + 1, j*10 + 10), ' ') AS seg
      FROM bbase, unnest(range(0, nseg)) AS t1(j)
    ),
    bhot AS (
      SELECT seg FROM bsegs GROUP BY seg HAVING COUNT(DISTINCT doc_id) > 2
    ),
    bkept AS (
      SELECT s.* FROM bsegs s WHERE s.seg NOT IN (SELECT seg FROM bhot)
    ),
    bp AS (
      SELECT b.doc_id, COALESCE(r.ct, '') AS t
      FROM bbase b LEFT JOIN (
        SELECT doc_id, string_agg(seg, ' ' ORDER BY seg_idx) AS ct
        FROM bkept GROUP BY doc_id
      ) r USING (doc_id)
    ),
    gbase AS (
      SELECT doc_id,
             list_filter(string_split(t, ' '), x -> x <> '') AS words,
             CAST(len(list_filter(string_split(t, ' '), x -> x <> ''))
                  AS INT) AS n
      FROM bp
    ),
    gtok AS (
      SELECT doc_id, CAST(i AS INT) AS i, words[CAST(i AS INT) + 1] AS w
      FROM gbase, unnest(range(0, n)) AS t2(i)
    ),
    gwins AS (
      SELECT doc_id, CAST(j AS INT) AS pos,
             array_to_string(list_slice(words, CAST(j AS INT) + 1,
                                        CAST(j AS INT) + 8), ' ') AS gram
      FROM gbase, unnest(range(0, n - 8 + 1)) AS t3(j)
      WHERE n >= 8
    ),
    gocc AS (
      SELECT doc_id, pos,
             (ROW_NUMBER() OVER (PARTITION BY gram
                                 ORDER BY doc_id, pos) > 1) AS dup
      FROM gwins
    ),
    gremoved AS (
      SELECT doc_id, CAST(pos + c AS INT) AS i
      FROM gocc, unnest(range(0, 8)) AS t4(c)
      GROUP BY doc_id, CAST(pos + c AS INT)
      HAVING bool_and(dup)
    ),
    gkept AS (
      SELECT t.doc_id, t.i, t.w FROM gtok t
      ANTI JOIN gremoved r ON t.doc_id = r.doc_id AND t.i = r.i
    ),
    gd AS (
      SELECT b.doc_id, COALESCE(r.ct, '') AS clean_text
      FROM gbase b LEFT JOIN (
        SELECT doc_id, string_agg(w, ' ' ORDER BY i) AS ct
        FROM gkept GROUP BY doc_id
      ) r USING (doc_id)
    ),
    qs AS (
      SELECT doc_id, clean_text,
             len(list_filter(string_split(clean_text, ' '), x -> x <> '')) AS n,
             CAST(len(list_distinct(list_filter(string_split(clean_text, ' '),
               x -> x <> ''))) AS DOUBLE)
               / NULLIF(len(list_filter(string_split(clean_text, ' '),
                 x -> x <> '')), 0) AS dr,
             list_sort(list_filter(string_split(clean_text, ' '),
               x -> x <> '')) AS sw
      FROM gd
    ),
    filtered AS (
      SELECT doc_id, clean_text, CAST(n AS INT) AS n_words
      FROM qs
      WHERE n >= 20 AND dr >= 0.3
        AND round(CAST(__MAXRUN__ AS DOUBLE) / n, 4) <= 0.2
    ),
    exact AS (
      SELECT doc_id, clean_text, n_words FROM (
        SELECT *, MIN(doc_id) OVER (PARTITION BY clean_text) AS keep
        FROM filtered
      ) WHERE doc_id = keep
    ),
    w2 AS (
      SELECT doc_id,
             list_filter(string_split_regex(trim(lower(
               regexp_replace(clean_text, '[^a-zA-Z0-9\\s]+', ' ', 'g'))), '\\s+'),
               x -> x <> '') AS words
      FROM exact
    ),
    tok2 AS (
      SELECT doc_id,
             unnest(list_distinct(list_transform(
               range(1, greatest(len(words) - 4, 1) + 1),
               i -> array_to_string(list_slice(words, i, i + 4), ' ')))) AS token
      FROM w2 WHERE len(words) > 0
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM tok2 GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS inter
      FROM tok2 a JOIN tok2 b ON a.token = b.token AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    edges AS (
      SELECT id_a, id_b
      FROM inter JOIN sizes sa ON sa.doc_id = id_a
                 JOIN sizes sb ON sb.doc_id = id_b
      WHERE CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) >= 0.5
    ),
    sym AS (
      SELECT id_a AS u, id_b AS v FROM edges
      UNION
      SELECT id_b AS u, id_a AS v FROM edges
    ),
    reach(node, root) AS (
      SELECT doc_id, doc_id FROM exact
      UNION
      SELECT s.v, r.root FROM reach r JOIN sym s ON s.u = r.node
    ),
    reps AS (
      SELECT node AS doc_id FROM reach GROUP BY node
      HAVING MIN(root) = node
    )
    SELECT e.doc_id, e.clean_text, e.n_words,
           CASE WHEN substring(md5('split:' || CAST(e.doc_id AS VARCHAR)), 1, 8)
                     < 'e6666666'
                THEN 'train' ELSE 'test' END AS split
    FROM exact e JOIN reps USING (doc_id)
    ORDER BY e.doc_id
""".replace("__MAXRUN__", max_run_sql("sw", "n"))


@register(
    "pretrain_corpus_full",
    oracle=_FULL_ORACLE,
    tags=("pipeline", "dedup", "quality", "sampling", "extension"),
)
def pretrain_corpus_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The capstone pipeline with EVERY hygiene stage enabled
    (pipelines.prepare_pretraining_corpus): 5-gram decontamination
    against the corpus's src0 slice as the stand-in benchmark, then
    normalize+redact, C4 boilerplate removal (10-word segments,
    max_df=2), sliding 8-gram substring dedup, the quality filter
    extended with the Gopher top-token repetition bound (<= 0.2),
    min-id exact dedup, verified MinHash near-dedup (Jaccard >= 0.5)
    with connected-component reps, and the reproducible md5 split.
    Each stage's oracle was already green standalone; this row proves
    the COMPOSITION — same stage order, same parameters — end to end
    against DuckDB."""
    from corral_spark.pipelines import prepare_pretraining_corpus

    docs = load_table(spark, sf_dir, "documents")
    bench = docs.filter(F.col("source") == "src0").select("doc_id", "text")
    cands = docs.filter(F.col("source") != "src0").select("doc_id", "text")
    corpus, _report = prepare_pretraining_corpus(
        cands,
        with_report=False,
        near_dup="verified",
        benchmark=bench,
        max_top_token_fraction=0.2,
        boilerplate_max_df=2,
        gram_dedup_k=8,
    )
    return corpus.orderBy("doc_id")


@register(
    "pretrain_corpus_provenance",
    oracle=f"""
    WITH prov AS (
      SELECT doc_id,
             'documents.parquet' AS source_file,
             CAST(ROW_NUMBER() OVER (ORDER BY doc_id) - 1 AS BIGINT)
               AS source_row
      FROM documents
    )
    SELECT b.doc_id, b.clean_text, b.n_words, b.split,
           p.source_file, p.source_row
    FROM (
      {_FULL_ORACLE}
    ) b JOIN prov p USING (doc_id)
    ORDER BY b.doc_id
    """,
    tags=("pipeline", "provenance", "extension"),
)
def pretrain_corpus_provenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The all-stages hygiene capstone (pretrain_corpus_full's exact
    stage order and parameters) with ``provenance=True``: every
    surviving corpus row carries (source_file, source_row) resolved
    from the parquet scan's hidden ``_metadata`` struct BEFORE the
    funnel and joined back after the split — the audit-traceability
    contract a shipped training corpus needs (takedowns, contamination
    forensics name the source shard + physical row, not just a doc
    id). The oracle replays the full composed funnel AND the
    provenance rank (the driver testdata's verified property: the
    documents file is written in doc_id order, so physical row index
    == doc_id rank over the WHOLE file — the filter to non-src0
    sources happens after the scan and must not renumber rows, which
    the hash match proves)."""
    from corral_spark.pipelines import prepare_pretraining_corpus

    docs = load_table(spark, sf_dir, "documents")
    bench = docs.filter(F.col("source") == "src0").select("doc_id", "text")
    cands = docs.filter(F.col("source") != "src0").select("doc_id", "text")
    corpus, _report = prepare_pretraining_corpus(
        cands,
        with_report=False,
        near_dup="verified",
        benchmark=bench,
        max_top_token_fraction=0.2,
        boilerplate_max_df=2,
        gram_dedup_k=8,
        provenance=True,
    )
    return corpus.select(
        "doc_id", "clean_text", "n_words", "split", "source_file", "source_row"
    ).orderBy("doc_id")


@register(
    "doc_provenance",
    oracle="""
    SELECT doc_id,
           'documents.parquet' AS source_file,
           CAST(ROW_NUMBER() OVER (ORDER BY doc_id) - 1 AS BIGINT)
             AS source_row
    FROM documents
    ORDER BY doc_id
    """,
    tags=("provenance", "documents", "extension"),
)
def doc_provenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row provenance via the file source's hidden ``_metadata`` struct
    (sources.provenance.with_provenance): the physical parquet row
    index and source file for every document — zero-cost lineage (no
    generated ids, no shuffle), the audit/traceability column a
    shipped training corpus carries. The oracle exploits a verified
    property of the driver's testdata (documents.parquet is written in
    doc_id order at every SF, checked 0.001/0.01/0.1): the physical
    row index must equal the doc_id rank, so a hash match proves
    Spark's ``_metadata.row_index`` is the true file position — not
    merely some stable counter."""
    from corral_spark.sources.provenance import with_provenance

    docs = load_table(spark, sf_dir, "documents")
    return (
        with_provenance(docs, basename_only=True)
        .select("doc_id", "source_file", "source_row")
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# Reproducible sampling
# ---------------------------------------------------------------------------


@register(
    "sample_docs_10pct",
    oracle="""
    SELECT doc_id, lang, n_chars
    FROM documents
    WHERE substring(md5('sample:' || CAST(doc_id AS VARCHAR)), 1, 8) < '19999999'
    ORDER BY doc_id
    """,
    tags=("sampling", "extension"),
)
def sample_docs_10pct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic ~10% sample by md5 content hash (operators.
    sampling.deterministic_sample): same rows every run and on every
    engine — the reproducible alternative to seeded RNG sampling.
    (0.1 * 2^32 = 0x19999999.)"""
    from corral_spark.operators.sampling import deterministic_sample

    return (
        deterministic_sample(load_table(spark, sf_dir, "documents"), "doc_id", 0.1)
        .select("doc_id", "lang", "n_chars")
        .orderBy("doc_id")
    )


@register(
    "train_test_split_counts",
    oracle="""
    SELECT CASE WHEN substring(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 8) < 'cccccccc'
                THEN 'train' ELSE 'test' END AS split,
           lang,
           COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars
    FROM documents
    GROUP BY 1, 2
    ORDER BY split, lang
    """,
    tags=("sampling", "extension"),
)
def train_test_split_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """80/20 train/test split by hashed doc id (operators.sampling.
    train_test_split), reported per language — the reproducible-split
    primitive every training pipeline needs. (0.8 * 2^32 = 0xcccccccc.)"""
    from corral_spark.operators.sampling import train_test_split

    return (
        train_test_split(load_table(spark, sf_dir, "documents"), "doc_id", 0.8)
        .groupBy("split", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
        )
        .orderBy("split", "lang")
    )


@register(
    "stratified_sample_orders",
    oracle="""
    SELECT o_orderstatus, COUNT(*) AS n_sampled
    FROM orders
    WHERE (o_orderstatus = 'F' AND substring(md5('strata:' || CAST(o_orderkey AS VARCHAR)), 1, 8) < '33333333')
       OR (o_orderstatus = 'O' AND substring(md5('strata:' || CAST(o_orderkey AS VARCHAR)), 1, 8) < '19999999')
       OR (o_orderstatus = 'P' AND substring(md5('strata:' || CAST(o_orderkey AS VARCHAR)), 1, 8) < '80000000')
    GROUP BY o_orderstatus
    ORDER BY o_orderstatus
    """,
    tags=("sampling", "extension"),
)
def stratified_sample_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-stratum deterministic sampling (operators.sampling.
    stratified_sample): downsample common order statuses, keep more of
    the rare 'P' class — class rebalancing with exact reproducibility.
    (F: 20%, O: 10%, P: 50%.)"""
    from corral_spark.operators.sampling import stratified_sample

    orders = load_table(spark, sf_dir, "orders")
    sampled = stratified_sample(
        orders, "o_orderstatus", "o_orderkey", {"F": 0.2, "O": 0.1, "P": 0.5}
    )
    return (
        sampled.groupBy("o_orderstatus")
        .agg(F.count(F.lit(1)).alias("n_sampled"))
        .orderBy("o_orderstatus")
    )


@register(
    "lang_sampling_weights",
    oracle="""
    WITH c AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs
               FROM documents GROUP BY lang),
    t AS (SELECT CAST(SUM(n_docs) AS BIGINT) AS total FROM c),
    p AS (SELECT lang, n_docs,
                 pow(CAST(n_docs AS DOUBLE) / total, 0.3) AS pw
          FROM c, t),
    z AS (SELECT SUM(pw) AS z FROM p)
    SELECT lang, n_docs, round(pw / z, 4) AS weight
    FROM p, z
    ORDER BY lang
    """,
    tags=("sampling", "documents", "gap"),
)
def lang_sampling_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-resampled language sampling weights (alpha = 0.3,
    the multilingual-pretraining convention): w_l proportional to
    (n_l/N)^alpha, normalized. Two tiny aggregations over per-language
    counts; the per-language table is broadcast both times."""
    docs = load_table(spark, sf_dir, "documents")
    counts = docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n_docs"))
    total = counts.agg(F.sum("n_docs").alias("total"))
    p = counts.crossJoin(F.broadcast(total)).withColumn(
        "pw", F.pow(F.col("n_docs").cast("double") / F.col("total"), F.lit(0.3))
    )
    z = p.agg(F.sum("pw").alias("z"))
    return (
        p.crossJoin(F.broadcast(z))
        .select(
            "lang",
            "n_docs",
            F.round(F.col("pw") / F.col("z"), 4).alias("weight"),
        )
        .orderBy("lang")
    )


@register(
    "temperature_sampled_docs",
    oracle="""
    WITH c AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_g
               FROM documents WHERE lang IS NOT NULL GROUP BY lang),
    t AS (SELECT CAST(SUM(n_g) AS BIGINT) AS total FROM c),
    p AS (SELECT lang, n_g, pow(CAST(n_g AS DOUBLE) / total, 0.3) AS pw FROM c, t),
    z AS (SELECT SUM(pw) AS z FROM p),
    r AS (
      SELECT p.lang,
             round(least(1.0, 0.5 * (pw / z.z) * t.total / p.n_g), 6) AS rate
      FROM p, z, t
    )
    SELECT d.doc_id, d.lang, d.source
    FROM documents d JOIN r USING (lang)
    WHERE CAST('0x' || substr(md5('temp:' || CAST(d.doc_id AS VARCHAR)), 1, 8) AS BIGINT)
          < CAST(floor(r.rate * 4294967296.0) AS BIGINT)
    ORDER BY d.doc_id
    """,
    tags=("sampling", "documents", "extension"),
)
def temperature_sampled_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature resampling APPLIED (alpha=0.3, 50% budget): the
    deterministic md5-bucketed sample whose per-language keep-rates
    come from the same (n_l/N)^alpha weights that
    lang_sampling_weights derives — rare languages keep (capped at)
    everything, common ones thin to match the tempered distribution.
    The oracle replays weight derivation, rate computation, and the
    hash rule (operators.sampling.temperature_sample)."""
    from corral_spark.operators.sampling import temperature_sample

    out = temperature_sample(
        load_table(spark, sf_dir, "documents"),
        "doc_id",
        "lang",
        alpha=0.3,
        budget_fraction=0.5,
    )
    return out.select("doc_id", "lang", "source").orderBy("doc_id")


@register(
    "weighted_sampled_docs",
    oracle="""
    WITH m AS (SELECT CAST(MAX(n_chars) AS BIGINT) AS maxw FROM documents)
    SELECT doc_id, n_chars, source
    FROM documents, m
    WHERE CAST(('0x' || substr(md5('wsamp:' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
            * maxw
          < CAST(n_chars AS BIGINT) * 3006477107
    ORDER BY doc_id
    """,
    tags=("sampling", "documents", "extension"),
)
def weighted_sampled_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Importance-weighted corpus thinning APPLIED: keep each document
    with probability 0.7 * n_chars / max(n_chars) — longer documents
    proportionally more likely to survive, the standard
    length/quality-weighted sampling rule
    (operators.sampling.weighted_bernoulli_sample). The keep decision
    is integer-exact (u32 * max_w < w * floor(0.7 * 2^32)), so the
    oracle replays the sample bit-for-bit — no float boundary hazard
    at any weight."""
    from corral_spark.operators.sampling import weighted_bernoulli_sample

    docs = load_table(spark, sf_dir, "documents")
    out = weighted_bernoulli_sample(docs, "doc_id", "n_chars", 0.7)
    return out.select("doc_id", "n_chars", "source").orderBy("doc_id")


@register(
    "source_capped_docs",
    oracle="""
    SELECT doc_id, source, lang
    FROM (
      SELECT d.doc_id, d.source, d.lang,
             ROW_NUMBER() OVER (
               PARTITION BY d.source
               ORDER BY substr(md5('cap:' || CAST(d.doc_id AS VARCHAR)), 1, 8),
                        d.doc_id) AS rn
      FROM documents d)
    WHERE rn <= 10
    ORDER BY doc_id
    """,
    tags=("sampling", "documents", "extension"),
)
def source_capped_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RefinedWeb-style per-DOMAIN cap: at most 10 documents per
    source, chosen by content-addressed md5 rank so the survivors are
    identical on every engine/run (operators.sampling.cap_per_group).
    The WindowGroupLimit plan shape (rank bound pushed below the
    exchange) is pinned by test_plans — a hot domain never serializes
    through one task."""
    from corral_spark.operators.sampling import cap_per_group

    out = cap_per_group(
        load_table(spark, sf_dir, "documents"), "source", "doc_id", cap=10
    )
    return out.select("doc_id", "source", "lang").orderBy("doc_id")


@register(
    "domain_mix_docs",
    oracle="""
    WITH tok AS (
      SELECT lang, CAST(SUM(n_chars) AS BIGINT) AS tokg
      FROM documents
      WHERE lang IN ('en', 'de', 'fr', 'zh')
      GROUP BY lang
    ),
    t(lang, w) AS (VALUES ('en', 50), ('de', 30), ('fr', 10), ('zh', 10)),
    kept AS (
      SELECT d.lang, d.doc_id, d.n_chars
      FROM documents d
      JOIN tok ON d.lang = tok.lang
      JOIN t ON d.lang = t.lang
      WHERE CAST(CAST(('0x' || substr(
                md5('mix:' || CAST(d.doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
              AS HUGEINT) * 100 * tok.tokg
            < CAST(80000 AS HUGEINT) * t.w * 4294967296
    )
    SELECT lang,
           COUNT(*) AS docs_kept,
           CAST(SUM(n_chars) AS BIGINT) AS chars_kept
    FROM kept
    GROUP BY lang
    ORDER BY lang
    """,
    tags=("sampling", "documents", "extension"),
)
def domain_mix_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-mixture sampling APPLIED to explicit target shares —
    50% en / 30% de / 10% fr / 10% zh of an 80k-char budget, with
    'es' deliberately absent (a mixture spec is a whitelist; unlisted
    domains drop). Per-group keep rate min(1, T*w/(W*tok_g)) under
    the integer-exact DECIMAL(38,0) rule of
    operators.sampling.target_share_sample, so the oracle replays
    the kept set bit-for-bit via HUGEINT. At sf0.001 every listed
    group is under budget (the rate>=1 cap branch); at sf0.01 'de'
    caps while the rest thin — both branches cross the gate. Output:
    per-lang kept-doc and kept-char totals."""
    docs = load_table(spark, sf_dir, "documents")
    kept = target_share_sample(
        docs,
        "lang",
        "doc_id",
        "n_chars",
        targets={"en": 50, "de": 30, "fr": 10, "zh": 10},
        token_budget=80000,
    )
    return (
        kept.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("docs_kept"),
            F.sum("n_chars").cast("long").alias("chars_kept"),
        )
        .orderBy("lang")
    )


# ---------------------------------------------------------------------------
# Distribution drift
# ---------------------------------------------------------------------------


# Snapshot split: sources src0-src9 are the "reference" corpus,
# src10-src19 the "current" crawl — pure arithmetic on the source
# suffix, so the oracle rebuilds the same split. Smoothing is the
# add-half convention: p = (cnt + .5)/(N + .5k) over the k bins
# OBSERVED for the feature (a bin absent from BOTH sides does not
# exist; absent from one side gets the smoothed floor).

_PSI_NBIN = (
    "CASE WHEN n_chars < 150 THEN 'c000_149' "
    "WHEN n_chars < 250 THEN 'c150_249' "
    "WHEN n_chars < 350 THEN 'c250_349' "
    "WHEN n_chars < 450 THEN 'c350_449' "
    "ELSE 'c450_plus' END"
)


@register(
    "psi_drift_docs",
    oracle=f"""
    WITH long AS (
      SELECT 'n_chars_bin' AS feature, {_PSI_NBIN} AS bin,
             CASE WHEN TRY_CAST(substr(source, 4) AS INT) < 10
                  THEN 'ref' ELSE 'cur' END AS side
      FROM documents
      UNION ALL
      SELECT 'lang' AS feature, lang AS bin,
             CASE WHEN TRY_CAST(substr(source, 4) AS INT) < 10
                  THEN 'ref' ELSE 'cur' END AS side
      FROM documents
    ),
    cnts AS (
      SELECT feature, bin,
             CAST(SUM(CASE WHEN side = 'ref' THEN 1 ELSE 0 END) AS BIGINT)
               AS ref_cnt,
             CAST(SUM(CASE WHEN side = 'cur' THEN 1 ELSE 0 END) AS BIGINT)
               AS cur_cnt
      FROM long GROUP BY feature, bin
    ),
    smoothed AS (
      -- Every smoothing term is explicitly DOUBLE (0.5e0 literals +
      -- CAST of the BIGINT window sums) so p, q, and q/p resolve to
      -- IEEE-double arithmetic under ANY oracle version's
      -- DECIMAL-vs-DOUBLE division rules — the same precedent as
      -- det.dsum_money's round-before-cast (r13, a5c90e8). An engine
      -- that resolved `BIGINT + 0.5` to DECIMAL division would
      -- quantize p/q and shift (q-p)*ln*1e6 by whole micros.
      SELECT feature, bin, ref_cnt, cur_cnt,
             (CAST(ref_cnt AS DOUBLE) + 0.5e0)
               / (CAST(SUM(ref_cnt) OVER (PARTITION BY feature) AS DOUBLE)
               + 0.5e0 * CAST(COUNT(*) OVER (PARTITION BY feature)
                              AS DOUBLE)) AS p,
             (CAST(cur_cnt AS DOUBLE) + 0.5e0)
               / (CAST(SUM(cur_cnt) OVER (PARTITION BY feature) AS DOUBLE)
               + 0.5e0 * CAST(COUNT(*) OVER (PARTITION BY feature)
                              AS DOUBLE)) AS q
      FROM cnts
    ),
    terms AS (
      SELECT feature, bin, ref_cnt, cur_cnt,
             CAST(round((q - p) * round(ln(q / p), 6) * 1000000)
                  AS BIGINT) AS psi_term_micro
      FROM smoothed
    )
    SELECT feature, bin, ref_cnt, cur_cnt, psi_term_micro,
           -- CAST is load-bearing: DuckDB's SUM(BIGINT) returns
           -- HUGEINT, which fetchdf() renders as float64 while the
           -- Spark side is int64 — numerically equal, but the
           -- driver HASHES values, so 5 vs 5.0 diverge. This single
           -- un-cast window sum was the r13+r14 driver red
           -- (reproduced locally by driver_sim's dtype-kind check).
           CAST(SUM(psi_term_micro) OVER (PARTITION BY feature)
                AS BIGINT) AS total_psi_micro
    FROM terms
    ORDER BY feature, bin
    """,
    tags=("quality", "drift", "extension"),
)
def psi_drift_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population-stability-index drift between two corpus snapshots
    (source suffix < 10 = reference, else current), per feature
    (n_chars fixed-width bins; lang shares). One scan stacked to
    (feature, bin, side) long format -> ONE map-side-combined groupBy
    whose shuffle carries <= 2 * (bins + langs) rows; the per-feature
    totals/bin counts are window functions over that tiny frame. PSI
    terms are integer micros (the one ln per bin quantized to 6dp
    first), so the per-feature total is an exact order-free bigint —
    at 100 TB the cost is the scan, nothing else."""
    docs = load_table(spark, sf_dir, "documents")
    side = F.when(
        F.substring("source", 4, 10).try_cast("int") < 10, F.lit("ref")
    ).otherwise(F.lit("cur"))
    long = docs.select(
        F.expr(
            f"stack(2, 'n_chars_bin', {_PSI_NBIN}, 'lang', lang)"
            " AS (feature, bin)"
        ),
        side.alias("side"),
    )
    cnts = long.groupBy("feature", "bin").agg(
        F.sum((F.col("side") == "ref").cast("int"))
        .cast("bigint")
        .alias("ref_cnt"),
        F.sum((F.col("side") == "cur").cast("int"))
        .cast("bigint")
        .alias("cur_cnt"),
    )
    w = Window.partitionBy("feature")
    smoothed = cnts.select(
        "*",
        (
            (F.col("ref_cnt") + F.lit(0.5))
            / (
                F.sum("ref_cnt").over(w)
                + F.lit(0.5) * F.count(F.lit(1)).over(w)
            )
        ).alias("p"),
        (
            (F.col("cur_cnt") + F.lit(0.5))
            / (
                F.sum("cur_cnt").over(w)
                + F.lit(0.5) * F.count(F.lit(1)).over(w)
            )
        ).alias("q"),
    )
    terms = smoothed.select(
        "feature",
        "bin",
        "ref_cnt",
        "cur_cnt",
        F.round(
            (F.col("q") - F.col("p"))
            * F.round(F.log(F.col("q") / F.col("p")), 6)
            * F.lit(1000000)
        )
        .cast("bigint")
        .alias("psi_term_micro"),
    )
    return terms.select(
        "*",
        F.sum("psi_term_micro").over(w).alias("total_psi_micro"),
    ).orderBy("feature", "bin")


# Diagnostic decomposition of psi_drift_docs' pipeline into
# per-stage INTEGER outputs. psi was the lone driver red for two
# consecutive driver runs while NINE same-data local replicas matched;
# it was then root-caused locally (the oracle's un-cast
# window SUM(BIGINT) -> HUGEINT -> float64 under fetchdf, vs Spark's
# int64 — numerically equal, hash-different) and fixed the cast.
# This probe stays registered as the driver-side witness: if psi
# ever reds again, this row's green/red splits the pipeline —
# red here = counts/smoothing/ln stage; green here + psi red =
# the final product/round/window-sum stage (or the harness).
#
# Quantizations and their measured boundary distances (sf0.001/
# sf0.01/sf0.1, docs/SCALE.md): p,q at 1e12 — single IEEE
# divisions of exactly representable operands, bit-identical on any
# IEEE engine, so ANY nonzero distance-to-tie is safe (measured
# floors 4.4e-2/4.9e-3/4.0e-2); round(ln,6)*1e6 is integral by
# construction (distance exactly 0.5) and the 6dp ln itself is
# audited at a 3.2e-2 floor by test_transcendental_guard.py.

_PSI_PROBE_BASE = f"""
    WITH long AS (
      SELECT 'n_chars_bin' AS feature, {_PSI_NBIN} AS bin,
             CASE WHEN TRY_CAST(substr(source, 4) AS INT) < 10
                  THEN 'ref' ELSE 'cur' END AS side
      FROM documents
      UNION ALL
      SELECT 'lang' AS feature, lang AS bin,
             CASE WHEN TRY_CAST(substr(source, 4) AS INT) < 10
                  THEN 'ref' ELSE 'cur' END AS side
      FROM documents
    ),
    cnts AS (
      SELECT feature, bin,
             CAST(SUM(CASE WHEN side = 'ref' THEN 1 ELSE 0 END)
                  AS BIGINT) AS ref_cnt,
             CAST(SUM(CASE WHEN side = 'cur' THEN 1 ELSE 0 END)
                  AS BIGINT) AS cur_cnt
      FROM long GROUP BY feature, bin
    ),
    smoothed AS (
      SELECT feature, bin, ref_cnt, cur_cnt,
             (CAST(ref_cnt AS DOUBLE) + 0.5e0)
               / (CAST(SUM(ref_cnt) OVER (PARTITION BY feature)
                       AS DOUBLE)
               + 0.5e0 * CAST(COUNT(*) OVER (PARTITION BY feature)
                              AS DOUBLE)) AS p,
             (CAST(cur_cnt AS DOUBLE) + 0.5e0)
               / (CAST(SUM(cur_cnt) OVER (PARTITION BY feature)
                       AS DOUBLE)
               + 0.5e0 * CAST(COUNT(*) OVER (PARTITION BY feature)
                              AS DOUBLE)) AS q
      FROM cnts
    )
"""


@register(
    "psi_drift_probe",
    oracle=_PSI_PROBE_BASE
    + """
    SELECT feature, bin, ref_cnt, cur_cnt,
           CAST(round(p * 1e12) AS BIGINT) AS p_pico,
           CAST(round(q * 1e12) AS BIGINT) AS q_pico,
           CAST(round(round(ln(q / p), 6) * 1e6) AS BIGINT)
             AS lnr_micro
    FROM smoothed
    ORDER BY feature, bin
    """,
    tags=("quality", "drift", "diagnostic", "extension"),
)
def psi_drift_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stage-decomposed integer witness for psi_drift_docs: the
    side-split counts, the smoothed shares as exact-division picos,
    and the 6dp-quantized ln as micros — every hashed column BIGINT
    or string, every stage independently comparable. Same plan shape
    as psi itself: one scan stacked long, one tiny combined groupBy,
    window functions over a <=2*(bins+langs)-row frame."""
    docs = load_table(spark, sf_dir, "documents")
    side = F.when(
        F.substring("source", 4, 10).try_cast("int") < 10, F.lit("ref")
    ).otherwise(F.lit("cur"))
    long = docs.select(
        F.expr(
            f"stack(2, 'n_chars_bin', {_PSI_NBIN}, 'lang', lang)"
            " AS (feature, bin)"
        ),
        side.alias("side"),
    )
    cnts = long.groupBy("feature", "bin").agg(
        F.sum((F.col("side") == "ref").cast("int"))
        .cast("bigint")
        .alias("ref_cnt"),
        F.sum((F.col("side") == "cur").cast("int"))
        .cast("bigint")
        .alias("cur_cnt"),
    )
    w = Window.partitionBy("feature")
    smoothed = cnts.select(
        "*",
        (
            (F.col("ref_cnt") + F.lit(0.5))
            / (
                F.sum("ref_cnt").over(w)
                + F.lit(0.5) * F.count(F.lit(1)).over(w)
            )
        ).alias("p"),
        (
            (F.col("cur_cnt") + F.lit(0.5))
            / (
                F.sum("cur_cnt").over(w)
                + F.lit(0.5) * F.count(F.lit(1)).over(w)
            )
        ).alias("q"),
    )
    return smoothed.select(
        "feature",
        "bin",
        "ref_cnt",
        "cur_cnt",
        F.round(F.col("p") * F.lit(1e12)).cast("bigint").alias("p_pico"),
        F.round(F.col("q") * F.lit(1e12)).cast("bigint").alias("q_pico"),
        F.round(
            F.round(F.log(F.col("q") / F.col("p")), 6) * F.lit(1e6)
        )
        .cast("bigint")
        .alias("lnr_micro"),
    ).orderBy("feature", "bin")


# ---------------------------------------------------------------------------
# Multimodal plumbing
# ---------------------------------------------------------------------------


# DuckDB mirror of operators.multimodal.decode_fake: byte k of the
# sha256 digest, recovered by parsing hex chars 2k+1..2k+2 of the hex
# string (sha256(varchar) hashes the UTF-8 bytes in both engines).
_HEXB = (
    "((strpos('0123456789abcdef', substr(sha, {a}, 1)) - 1) * 16"
    " + (strpos('0123456789abcdef', substr(sha, {b}, 1)) - 1))"
)


@register(
    "multimodal_features",
    oracle=f"""
    WITH h AS (
      SELECT doc_id AS asset_id,
             'image/fake' AS media_type,
             CAST(strlen(text) AS BIGINT) AS n_bytes,
             sha256(text) AS sha
      FROM documents WHERE text IS NOT NULL
    )
    SELECT asset_id, media_type, n_bytes,
           CAST(64 + {_HEXB.format(a=1, b=2)} % 192 AS INT) AS width,
           CAST(64 + {_HEXB.format(a=3, b=4)} % 192 AS INT) AS height,
           sha AS sha256
    FROM h
    ORDER BY asset_id
    """,
    tags=("multimodal", "extension"),
)
def multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-asset pipeline: documents -> binary payload column ->
    Arrow-batched mapInPandas feature extraction (decode stubbed with
    a deterministic fake; see operators.multimodal). Exercises the
    real schema/batch plumbing a media pipeline needs. The fake decode
    is sha256-arithmetic over the payload bytes, so the whole pipeline
    (payload encode, batch iteration, feature derivation) is DuckDB-
    oracle-checkable: width/height re-derive from digest bytes 0/1 in
    SQL."""
    assets = assets_from_documents(load_table(spark, sf_dir, "documents"))
    return extract_features(assets).orderBy("asset_id")


@register(
    "multimodal_ppm_decode",
    oracle="""
    SELECT doc_id AS asset_id,
           -- positive modulus on the data-derived dimension: a
           -- negative n_chars must yield a VALID width (r14 extreme
           -- campaign; the raw % would build a negative-width header)
           CAST(8 + ((n_chars % 24) + 24) % 24 AS INT) AS width,
           CAST(4 + doc_id % 16 AS INT) AS height,
           CAST(9 + length(CAST(8 + ((n_chars % 24) + 24) % 24 AS VARCHAR))
                  + length(CAST(4 + doc_id % 16 AS VARCHAR))
                  + (8 + ((n_chars % 24) + 24) % 24) * (4 + doc_id % 16) * 3
                AS BIGINT) AS n_bytes
    FROM documents
    WHERE n_chars IS NOT NULL
    ORDER BY asset_id
    """,
    tags=("multimodal", "extension"),
)
def multimodal_ppm_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image decode in the driver gate: manufacture a binary PPM
    (P6) payload per document (dims derived from row data, pixel body
    sized to match), push it through the SAME Arrow mapInPandas
    feature extractor as the fake-decode row — but with the native
    zero-dependency P6 parser (multimodal.decode_ppm via decode_auto)
    — and emit the parsed width/height plus the payload byte length.
    The oracle recomputes the encoded dimensions and the exact header
    + 3wh byte length arithmetically: a hash match proves the parser
    EXTRACTED what the payload ENCODED, end to end through Spark.
    Compressed codecs stay behind the charter-limited PIL seam; this
    row retires the 'decode is stubbed' caveat for uncompressed
    formats."""
    from corral_spark.operators.multimodal import (
        decode_auto,
        extract_features,
    )

    # A NULL payload is not an asset (the assets_from_documents rule
    # applied to this generator): a NULL n_chars would build a NULL
    # payload and kill the whole Arrow batch in the decoder.
    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("n_chars").isNotNull()
    )
    w = (F.lit(8) + F.pmod(F.col("n_chars"), F.lit(24))).cast("int")
    h = (F.lit(4) + F.col("doc_id") % 16).cast("int")
    payload = F.encode(
        F.concat(
            F.lit("P6\n"),
            w.cast("string"),
            F.lit(" "),
            h.cast("string"),
            F.lit("\n255\n"),
            F.repeat(F.lit("x"), w * h * 3),
        ),
        "UTF-8",
    )
    assets = docs.select(
        F.col("doc_id").alias("asset_id"),
        F.lit("image/ppm").alias("media_type"),
        payload.alias("payload"),
        F.octet_length(payload).cast("long").alias("n_bytes"),
    )
    return (
        extract_features(assets, decoder=decode_auto)
        .select("asset_id", "width", "height", "n_bytes")
        .orderBy("asset_id")
    )


def _le16(col):
    """Little-endian 2-byte hex of a 0..65535 column (RIFF fields are
    LE; Spark's hex() is big-endian, so swap the byte pairs)."""
    h = F.lpad(F.hex(col), 4, "0")
    return F.concat(F.substring(h, 3, 2), F.substring(h, 1, 2))


def _le32(col):
    h = F.lpad(F.hex(col), 8, "0")
    return F.concat(
        F.substring(h, 7, 2),
        F.substring(h, 5, 2),
        F.substring(h, 3, 2),
        F.substring(h, 1, 2),
    )


@register(
    "multimodal_wav_decode",
    oracle="""
    SELECT doc_id AS asset_id,
           CAST(8000 AS INT) AS sample_rate,
           CAST(1 AS INT) AS channels,
           CAST(16 AS INT) AS bits_per_sample,
           CAST(4 + doc_id % 64 AS BIGINT) AS n_frames,
           CAST((4 + doc_id % 64) * 1000 // 8000 AS BIGINT) AS duration_ms,
           -- positive modulus: the amplitude is an UNSIGNED PCM
           -- sample, so a negative n_chars must wrap into 0..1023 on
           -- both engines (Spark % and DuckDB % both follow the
           -- dividend's sign — r14 extreme campaign)
           CAST(((n_chars % 1024) + 1024) % 1024 AS BIGINT) AS rms
    FROM documents
    WHERE n_chars IS NOT NULL
    ORDER BY asset_id
    """,
    tags=("multimodal", "extension"),
)
def multimodal_wav_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio decode in the driver gate, the WAV sibling of
    multimodal_ppm_decode: Spark assembles a valid RIFF/WAVE PCM
    payload per document from hex expressions (LE chunk sizes, 16-bit
    mono at 8 kHz, n = 4 + doc_id % 64 constant-amplitude samples of
    c = n_chars % 1024), and the native chunk-walk parser + exact
    integer RMS (multimodal.decode_wav_meta / extract_audio_features)
    recovers every field through the Arrow extractor. Constant
    amplitude makes the RMS exactly c (isqrt(n*c^2/n) = c), so the
    oracle recomputes the full feature row — rate, channels, bits,
    frames, duration, RMS — arithmetically from the doc columns. A
    hash match proves byte-level WAV parsing AND the PCM sample math,
    end to end."""
    from corral_spark.operators.multimodal import extract_audio_features

    # A NULL payload is not an asset — NULL n_chars would hex-encode
    # to a NULL payload (same generator rule as the PPM twin).
    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("n_chars").isNotNull()
    )
    n = (F.lit(4) + F.col("doc_id") % 64).cast("long")
    c = F.pmod(F.col("n_chars"), F.lit(1024)).cast("long")
    payload_hex = F.concat(
        F.lit("52494646"),  # "RIFF"
        _le32(F.lit(36) + n * 2),  # riff size = 36 + data bytes
        F.lit("57415645"),  # "WAVE"
        F.lit("666D7420"),  # "fmt "
        _le32(F.lit(16)),
        _le16(F.lit(1)),  # PCM
        _le16(F.lit(1)),  # mono
        _le32(F.lit(8000)),  # sample rate
        _le32(F.lit(16000)),  # byte rate
        _le16(F.lit(2)),  # block align
        _le16(F.lit(16)),  # bits
        F.lit("64617461"),  # "data"
        _le32(n * 2),
        F.repeat(_le16(c), n.cast("int")),
    )
    payload = F.unhex(payload_hex)
    assets = docs.select(
        F.col("doc_id").alias("asset_id"),
        F.lit("audio/wav").alias("media_type"),
        payload.alias("payload"),
        F.octet_length(payload).cast("long").alias("n_bytes"),
    )
    return (
        extract_audio_features(assets)
        .select(
            "asset_id",
            "sample_rate",
            "channels",
            "bits_per_sample",
            "n_frames",
            "duration_ms",
            "rms",
        )
        .orderBy("asset_id")
    )
