"""Deduplication queries (operators.dedup, operators.fuzzy): exact
and incremental key dedup, shingle-Jaccard pairs and clusters, MinHash
and PPJoin candidate generation with exact verification, SimHash,
segment / substring / content-defined-chunk dedup, and fuzzy entity
matching by symmetric-delete blocking. Each op is declared over the
driver's documents/customer tables with a DuckDB oracle wherever the
semantics are SQL-expressible (xxhash-based SimHash is rows-only: the
hash function is Spark-side). No reference analog — the reference's
text handling is the word_count tokenizer (examples/word_count/
word_count.go:14-27) and its nearest join the amplab3 equi-join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from corral_spark.functions.text import TOKENIZE_SQL
from corral_spark.operators.dedup import (
    dedup_exact,
    jaccard_pairs,
    minhash_verified_pairs,
    segment_dedup,
    simhash64,
    simhash_pairs,
)
from corral_spark.operators.fuzzy import fuzzy_join, fuzzy_join_lev1
from corral_spark.queries.registry import register
from corral_spark.sources.tables import load_table


# ---------------------------------------------------------------------------
# Exact and incremental dedup
# ---------------------------------------------------------------------------


@register(
    "dedup_exact_docs",
    oracle="""
    SELECT doc_id, lang, source
    FROM (
      SELECT doc_id, lang, source,
             ROW_NUMBER() OVER (
               PARTITION BY array_to_string(list_slice(string_split(text, ' '), 1, 10), ' ')
               ORDER BY doc_id) AS rn
      FROM documents
    )
    WHERE rn = 1
    ORDER BY doc_id
    """,
    headline=True,
    tags=("dedup", "extension"),
)
def dedup_exact_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup on a normalized content key (first 10 words), keep
    the smallest doc_id per key. The generated corpus has no full-text
    duplicates but does share prefixes, so the operator is exercised
    for real. One shuffle on the key; deterministic winner."""
    docs = load_table(spark, sf_dir, "documents").withColumn(
        "__key", F.array_join(F.slice(F.split("text", " "), 1, 10), " ")
    )
    return (
        dedup_exact(docs, ["__key"], "doc_id")
        .select("doc_id", "lang", "source")
        .orderBy("doc_id")
    )


@register(
    "incremental_dedup_new_docs",
    oracle="""
    WITH keyed AS (
      SELECT doc_id,
             array_to_string(list_slice(string_split(text, ' '), 1, 10), ' ') AS k
      FROM documents
    ),
    existing AS (SELECT * FROM keyed WHERE doc_id < 250),
    incoming AS (SELECT * FROM keyed WHERE doc_id >= 250)
    SELECT i.doc_id, (e.k IS NOT NULL) AS dup_of_corpus
    FROM incoming i
    LEFT JOIN (SELECT DISTINCT k FROM existing) e ON i.k = e.k
    ORDER BY i.doc_id
    """,
    tags=("dedup", "incremental", "extension"),
)
def incremental_dedup_new_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental (production) dedup: incoming batch checked against
    the existing corpus by content key — at 100 TB the corpus side is
    a bucketed key table and this is one co-located join, never a full
    re-dedup. Here: docs >= 250 are 'incoming', < 250 are 'corpus'."""
    docs = load_table(spark, sf_dir, "documents").withColumn(
        "k", F.array_join(F.slice(F.split("text", " "), 1, 10), " ")
    )
    existing = docs.filter(F.col("doc_id") < 250).select("k").distinct()
    incoming = docs.filter(F.col("doc_id") >= 250)
    return (
        incoming.join(
            existing.withColumn("__hit", F.lit(1)), on="k", how="left"
        )
        .select(
            "doc_id", F.col("__hit").isNotNull().alias("dup_of_corpus")
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# Shingle-Jaccard near-dup pairs and clusters
# ---------------------------------------------------------------------------


@register(
    "jaccard_pairs_docs",
    oracle="""
    WITH w AS (
      SELECT doc_id,
             list_filter(string_split_regex(trim(lower(
               regexp_replace(text, '[^a-zA-Z0-9\\s]+', ' ', 'g'))), '\\s+'),
               x -> x <> '') AS words
      FROM documents
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
    )
    SELECT id_a, id_b,
           CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) AS jaccard
    FROM inter
    JOIN sizes sa ON sa.doc_id = id_a
    JOIN sizes sb ON sb.doc_id = id_b
    WHERE CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) >= 0.2
    ORDER BY id_a, id_b
    """,
    tags=("dedup", "similarity", "extension"),
)
def jaccard_pairs_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 5-word-shingle Jaccard >= 0.2 pairs via inverted-index
    join (operators.dedup.jaccard_pairs) — the exact-scoring backbone
    that MinHash approximates. Shingles (not tokens) keep the index
    selective: the corpus vocabulary is tiny, so a token index would
    fan out quadratically."""
    return (
        jaccard_pairs(
            load_table(spark, sf_dir, "documents"), "text", "doc_id", threshold=0.2
        )
        .orderBy("id_a", "id_b")
    )


@register(
    "dedup_clusters_docs",
    oracle="""
    WITH RECURSIVE
    w AS (
      SELECT doc_id,
             list_filter(string_split_regex(trim(lower(
               regexp_replace(text, '[^a-zA-Z0-9\\s]+', ' ', 'g'))), '\\s+'),
               x -> x <> '') AS words
      FROM documents
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
      WHERE CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) >= 0.2
    ),
    sym AS (
      SELECT id_a AS u, id_b AS v FROM edges
      UNION
      SELECT id_b AS u, id_a AS v FROM edges
    ),
    reach(node, root) AS (
      SELECT doc_id, doc_id FROM documents
      UNION
      SELECT s.v, r.root FROM reach r JOIN sym s ON s.u = r.node
    )
    SELECT node AS doc_id,
           MIN(root) AS cluster_rep,
           (MIN(root) = node) AS is_rep
    FROM reach
    GROUP BY node
    ORDER BY doc_id
    """,
    tags=("dedup", "graph", "extension"),
)
def dedup_clusters_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup cluster resolution: exact-Jaccard>=0.2 pairs become
    dedup GROUPS via iterative hash-min connected components
    (operators.graph); every doc gets its component's min doc_id as
    canonical representative. The oracle reproduces the fixpoint with
    a recursive CTE — one of the few iterative algorithms with an
    exact SQL twin."""
    from corral_spark.operators.graph import dedup_clusters

    docs = load_table(spark, sf_dir, "documents")
    pairs = jaccard_pairs(docs, "text", "doc_id", threshold=0.2)
    return dedup_clusters(docs, pairs, "doc_id").orderBy("doc_id")


@register(
    "dedup_keep_longest_docs",
    oracle="""
    WITH RECURSIVE
    w AS (
      SELECT doc_id,
             list_filter(string_split_regex(trim(lower(
               regexp_replace(text, '[^a-zA-Z0-9\\s]+', ' ', 'g'))), '\\s+'),
               x -> x <> '') AS words
      FROM documents
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
      WHERE CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) >= 0.2
    ),
    sym AS (
      SELECT id_a AS u, id_b AS v FROM edges
      UNION
      SELECT id_b AS u, id_a AS v FROM edges
    ),
    reach(node, root) AS (
      SELECT doc_id, doc_id FROM documents
      UNION
      SELECT s.v, r.root FROM reach r JOIN sym s ON s.u = r.node
    ),
    comps AS (SELECT node AS doc_id, MIN(root) AS comp FROM reach GROUP BY node),
    ranked AS (
      SELECT d.doc_id, d.n_chars,
             ROW_NUMBER() OVER (PARTITION BY c.comp
                                ORDER BY d.n_chars DESC, d.doc_id ASC) AS rn
      FROM documents d JOIN comps c USING (doc_id)
    )
    SELECT doc_id, n_chars FROM ranked WHERE rn = 1
    ORDER BY doc_id
    """,
    tags=("dedup", "graph", "quality", "extension"),
)
def dedup_keep_longest_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware near-dup survivor selection
    (operators.graph.dedup_keep_best): within each exact-Jaccard>=0.2
    cluster (same edges as dedup_clusters_docs), keep the LONGEST
    document (n_chars, ties to smallest id) instead of the arbitrary
    min-id winner — the RefinedWeb-style rule that dedup should retain
    content at its most complete version. The oracle replays the
    recursive-CTE components fixpoint plus the per-component arg-max,
    so the hash match proves cluster resolution AND winner selection
    end to end."""
    from corral_spark.operators.dedup import jaccard_pairs
    from corral_spark.operators.graph import dedup_keep_best

    docs = load_table(spark, sf_dir, "documents")
    pairs = jaccard_pairs(docs, "text", "doc_id", threshold=0.2)
    return (
        dedup_keep_best(
            docs.select("doc_id", "n_chars"), pairs, "doc_id", "n_chars"
        )
        .select("doc_id", "n_chars")
        .orderBy("doc_id")
    )


@register(
    "minhash_pairs_docs",
    oracle="""
    WITH w AS (
      SELECT doc_id,
             list_filter(string_split_regex(trim(lower(
               regexp_replace(text, '[^a-zA-Z0-9\\s]+', ' ', 'g'))), '\\s+'),
               x -> x <> '') AS words
      FROM documents
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
    )
    SELECT id_a, id_b,
           CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) AS jaccard
    FROM inter
    JOIN sizes sa ON sa.doc_id = id_a
    JOIN sizes sb ON sb.doc_id = id_b
    WHERE CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) >= 0.5
    ORDER BY id_a, id_b
    """,
    headline=True,
    tags=("dedup", "lsh", "extension"),
)
def minhash_pairs_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-phase MinHash dedup (operators.dedup.minhash_verified_pairs):
    MinHash(64)+LSH(16 bands) candidate generation, exact
    shingle-Jaccard verification of candidates only, threshold 0.5.
    Verification makes the output exact, so the oracle is the exact
    all-pairs Jaccard set — the driver row proves the whole LSH
    pipeline end-to-end (a candidate miss or bogus candidate would
    break the hash match). Candidate-phase recall is additionally
    pinned by pytest against exact Jaccard."""
    return (
        minhash_verified_pairs(
            load_table(spark, sf_dir, "documents"), "text", "doc_id", threshold=0.5
        )
        .orderBy("id_a", "id_b")
    )


@register(
    "cross_corpus_near_dups",
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
               i -> array_to_string(list_slice(words, i, i + 4), ' ')))) AS token
      FROM w WHERE len(words) > 0
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM tok GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS inter
      FROM tok a JOIN tok b ON a.token = b.token
      WHERE a.source = 'src0' AND b.source <> 'src0'
      GROUP BY 1, 2
    )
    SELECT id_a, id_b,
           CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) AS jaccard
    FROM inter JOIN sizes sa ON sa.doc_id = id_a
               JOIN sizes sb ON sb.doc_id = id_b
    WHERE CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) >= 0.5
    ORDER BY id_a, id_b
    """,
    tags=("dedup", "join", "extension"),
)
def cross_corpus_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-corpus near-duplicate detection
    (operators.dedup.minhash_pairs_across): treat the src0 slice as
    the EXISTING training set and the rest as INCOMING data, and find
    every incoming document whose 5-gram Jaccard with an existing one
    is >= 0.5 — the content-level admission check continuous ingest
    runs before adding data (bloom_new_docs is the exact-key sibling).
    Banded-LSH candidates from an equi-join of the two corpora's band
    keys (never |A| x |B|), exact verification on candidates only,
    two-sided short-doc completeness. The oracle computes the TRUE
    all-pairs cross-source Jaccard set, so a hash match also proves
    band recall was 1.0 on this data."""
    from corral_spark.operators.dedup import minhash_pairs_across

    docs = load_table(spark, sf_dir, "documents")
    existing = docs.filter(F.col("source") == "src0")
    incoming = docs.filter(F.col("source") != "src0")
    return minhash_pairs_across(
        existing, incoming, "text", "doc_id", threshold=0.5
    ).orderBy("id_a", "id_b")


@register(
    "ppjoin_neighbor_counts",
    oracle="""
    WITH w AS (
      SELECT doc_id,
             list_filter(string_split_regex(trim(lower(
               regexp_replace(text, '[^a-zA-Z0-9\\s]+', ' ', 'g'))), '\\s+'),
               x -> x <> '') AS words
      FROM documents
    ),
    tok AS (
      SELECT doc_id, unnest(list_distinct(words)) AS token
      FROM w WHERE len(words) > 0
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM tok GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS inter
      FROM tok a JOIN tok b ON a.token = b.token AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    pairs AS (
      SELECT id_a, id_b,
             ROUND(CAST(inter AS DOUBLE) / (sa.n + sb.n - inter), 6) AS j
      FROM inter
      JOIN sizes sa ON sa.doc_id = id_a
      JOIN sizes sb ON sb.doc_id = id_b
      WHERE CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) >= 0.9
    ),
    sym AS (
      SELECT id_a AS doc_id, j FROM pairs
      UNION ALL
      SELECT id_b AS doc_id, j FROM pairs
    )
    SELECT doc_id, COUNT(*) AS n_neighbors, MAX(j) AS max_jaccard
    FROM sym GROUP BY doc_id ORDER BY doc_id
    """,
    tags=("dedup", "similarity", "extension"),
)
def ppjoin_neighbor_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document count of EXACT word-set Jaccard >= 0.9 neighbors
    (dedup.prefix_filter_jaccard_pairs): PPJoin-style prefix
    filtering under a rarest-first global token order indexes only
    each doc's ~(1-t) rarest tokens, so stopwords — the tokens that
    make a naive token index quadratic under Zipf — fall OUTSIDE
    nearly every prefix. The oracle computes the TRUE all-pairs
    word-set Jaccard, so a hash match re-proves prefix-filter
    completeness (no qualifying pair escapes the candidate set) on
    this data. Reported as a per-doc AGGREGATE (neighbor count + max
    similarity) because word SETS of a templated corpus are
    near-degenerate — a large fraction of raw pairs qualifies, which
    is exactly why the engine's production dedup operators key on
    shingles; this row exists to certify the prefix-filter algorithm
    itself."""
    from corral_spark.materialize import materialize
    from corral_spark.operators.dedup import prefix_filter_jaccard_pairs

    docs = load_table(spark, sf_dir, "documents")
    # Materialize barrier: the symmetric union below consumes `pairs`
    # TWICE — without the barrier the whole candidate+verify pipeline
    # executes twice (measured: the query cost literally doubled at
    # sf0.1 before this line).
    pairs = materialize(
        prefix_filter_jaccard_pairs(docs, "text", "doc_id", 0.9),
        eager=True,
    )
    sym = pairs.select(
        F.col("id_a").alias("doc_id"), F.col("jaccard").alias("j")
    ).unionAll(
        pairs.select(F.col("id_b").alias("doc_id"), F.col("jaccard").alias("j"))
    )
    return (
        sym.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_neighbors"),
            F.max("j").alias("max_jaccard"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------


@register(
    "simhash_pairs_docs",
    tags=("dedup", "extension"),  # rows-only
)
def simhash_pairs_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs at hamming <= 3 via 4x16-bit pigeonhole
    banding (operators.dedup.simhash_pairs). Rows-only gate."""
    sims = simhash64(load_table(spark, sf_dir, "documents"), "text", "doc_id")
    return simhash_pairs(sims, "doc_id", max_hamming=3).orderBy("id_a", "id_b")


def _simhash_md5_oracle() -> str:
    """Generate the 60-bit md5-SimHash oracle: per-token-occurrence
    hashes, 60 bit-vote sums, majority fingerprint, all-pairs hamming
    <= 3. The oracle side may be naive (all pairs) — it defines the
    semantics; the Spark side must reach the same set via banding."""
    csums = ",\n             ".join(
        f"SUM((h >> {b}) & 1) AS c{b}" for b in range(60)
    )
    fp = " + ".join(
        f"(CASE WHEN c{b} > n / 2.0 THEN CAST({1 << b} AS BIGINT) "
        f"ELSE 0 END)"
        for b in range(60)
    )
    tok = TOKENIZE_SQL.format(col="text")
    return f"""
    WITH tok AS (
      SELECT doc_id, unnest({tok}) AS t FROM documents
    ),
    h AS (
      SELECT doc_id,
             CAST('0x' || substring(md5(t), 1, 15) AS BIGINT) AS h
      FROM tok
    ),
    votes AS (
      SELECT doc_id,
             {csums},
             CAST(COUNT(*) AS DOUBLE) AS n
      FROM h GROUP BY doc_id
    ),
    fp AS (SELECT doc_id, {fp} AS simhash FROM votes)
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
    FROM fp a JOIN fp b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
    ORDER BY id_a, id_b
    """


@register(
    "simhash_md5_pairs",
    oracle=_simhash_md5_oracle(),
    tags=("dedup", "simhash", "extension"),
)
def simhash_md5_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs, cross-engine-checkable variant
    (operators.dedup.simhash_md5): md5-derived 60-bit fingerprints,
    4x15-bit pigeonhole banding, hamming <= 3. The oracle computes
    the SAME fingerprints naively over all pairs, so a green row
    proves both the fingerprint math and the banding completeness —
    the md5 twin of the fast xxhash simhash_pairs_docs path."""
    from corral_spark.operators.dedup import simhash_md5, simhash_pairs

    sims = simhash_md5(load_table(spark, sf_dir, "documents"), "text", "doc_id")
    return (
        simhash_pairs(sims, "doc_id", max_hamming=3, width=15)
        .select(
            "id_a", "id_b", F.col("hamming").cast("int").alias("hamming")
        )
        .orderBy("id_a", "id_b")
    )


# ---------------------------------------------------------------------------
# Segment, substring and chunk dedup
# ---------------------------------------------------------------------------


@register(
    "segment_dedup_docs",
    oracle="""
    WITH toks AS (
      SELECT doc_id, list_filter(string_split(COALESCE(text, ''), ' '),
                                 x -> x <> '') AS words
      FROM documents
    ),
    base AS (
      SELECT doc_id, words,
             CAST(ceil(len(words) / 10.0) AS INT) AS n_total
      FROM toks
    ),
    segs AS (
      SELECT doc_id, CAST(j AS INT) AS seg_idx,
             array_to_string(list_slice(words, j*10 + 1, j*10 + 10), ' ') AS seg
      FROM base, unnest(range(0, n_total)) AS t(j)
    ),
    kept AS (
      SELECT doc_id, seg_idx, seg,
             ROW_NUMBER() OVER (PARTITION BY seg ORDER BY doc_id, seg_idx) AS rn
      FROM segs
    ),
    rebuilt AS (
      SELECT doc_id, string_agg(seg, ' ' ORDER BY seg_idx) AS clean_text,
             CAST(COUNT(*) AS INT) AS n_kept
      FROM kept WHERE rn = 1 GROUP BY doc_id
    )
    SELECT b.doc_id,
           COALESCE(r.clean_text, '') AS clean_text,
           COALESCE(r.n_kept, 0) AS n_kept,
           b.n_total
    FROM base b LEFT JOIN rebuilt r USING (doc_id)
    ORDER BY b.doc_id
    """,
    tags=("dedup", "text", "extension"),
)
def segment_dedup_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style corpus-level segment dedup: 10-word segments, keep
    the first occurrence of each distinct segment across the corpus
    (min (doc_id, seg_idx) — a total order, so the kept set is exactly
    reproducible), reassemble documents from surviving segments. The
    oracle replays the same rule in SQL, so a green row proves the
    shuffle-on-segment window + per-doc reassembly end to end. One
    segment-keyed shuffle + one doc-keyed group-by — linear, no
    self-join (operators.dedup.segment_dedup)."""
    # NULL text is the EMPTY document — same boundary rule (and
    # rationale) as boilerplate_removed_docs below.
    docs = load_table(spark, sf_dir, "documents").withColumn(
        "text", F.coalesce(F.col("text"), F.lit(""))
    )
    out = segment_dedup(docs, "text", "doc_id", seg_words=10)
    return out.orderBy("doc_id")


@register(
    "boilerplate_removed_docs",
    oracle="""
    WITH toks AS (
      SELECT doc_id, list_filter(string_split(COALESCE(text, ''), ' '),
                                 x -> x <> '') AS words
      FROM documents
    ),
    base AS (
      SELECT doc_id, words,
             CAST(ceil(len(words) / 10.0) AS INT) AS n_total
      FROM toks
    ),
    segs AS (
      SELECT doc_id, CAST(j AS INT) AS seg_idx,
             array_to_string(list_slice(words, j*10 + 1, j*10 + 10), ' ') AS seg
      FROM base, unnest(range(0, n_total)) AS t(j)
    ),
    hot AS (
      SELECT seg FROM segs GROUP BY seg HAVING COUNT(DISTINCT doc_id) > 2
    ),
    kept AS (
      SELECT s.* FROM segs s WHERE s.seg NOT IN (SELECT seg FROM hot)
    ),
    rebuilt AS (
      SELECT doc_id, string_agg(seg, ' ' ORDER BY seg_idx) AS clean_text,
             CAST(COUNT(*) AS INT) AS n_kept
      FROM kept GROUP BY doc_id
    )
    SELECT b.doc_id,
           COALESCE(r.clean_text, '') AS clean_text,
           COALESCE(r.n_kept, 0) AS n_kept,
           b.n_total
    FROM base b LEFT JOIN rebuilt r USING (doc_id)
    ORDER BY b.doc_id
    """,
    tags=("dedup", "text", "quality", "extension"),
)
def boilerplate_removed_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4/CCNet-style boilerplate removal: every copy of any 10-word
    segment appearing in more than 2 distinct documents is dropped
    (template noise keeps NO copies — the complement of
    segment_dedup's keep-one rule). The hot-segment set is the Zipf
    head, so it broadcasts into a left_anti join and the corpus-sized
    side never shuffles for the filter
    (operators.dedup.remove_boilerplate_segments)."""
    from corral_spark.operators.dedup import remove_boilerplate_segments

    # NULL text is the EMPTY document (0 segments, clean_text '') —
    # declared at the query boundary on both sides: without it Spark's
    # legacy size(split(NULL)) = -1 ceils to n_total 0 while the
    # oracle propagates NULL (found by the NULL-injection campaign).
    docs = load_table(spark, sf_dir, "documents").withColumn(
        "text", F.coalesce(F.col("text"), F.lit(""))
    )
    out = remove_boilerplate_segments(
        docs, "text", "doc_id", seg_words=10, max_df=2,
    )
    return out.orderBy("doc_id")


@register(
    "gram_dedup_docs",
    oracle="""
    WITH toks AS (
      SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS words
      FROM documents
    ),
    base AS (
      SELECT doc_id, words, CAST(len(words) AS INT) AS n FROM toks
    ),
    tok AS (
      SELECT doc_id, CAST(i AS INT) AS i, words[CAST(i AS INT) + 1] AS w, n
      FROM base, unnest(range(0, n)) AS t(i)
    ),
    wins AS (
      SELECT doc_id, CAST(j AS INT) AS pos,
             array_to_string(list_slice(words, CAST(j AS INT) + 1,
                                        CAST(j AS INT) + 8), ' ') AS gram
      FROM base, unnest(range(0, n - 8 + 1)) AS t(j)
      WHERE n >= 8
    ),
    occ AS (
      SELECT doc_id, pos,
             (ROW_NUMBER() OVER (PARTITION BY gram
                                 ORDER BY doc_id, pos) > 1) AS dup
      FROM wins
    ),
    removed AS (
      SELECT doc_id, CAST(pos + c AS INT) AS i
      FROM occ, unnest(range(0, 8)) AS t(c)
      GROUP BY doc_id, CAST(pos + c AS INT)
      HAVING bool_and(dup)
    ),
    kept AS (
      SELECT t.doc_id, t.i, t.w FROM tok t
      ANTI JOIN removed r ON t.doc_id = r.doc_id AND t.i = r.i
    ),
    rebuilt AS (
      SELECT doc_id, string_agg(w, ' ' ORDER BY i) AS clean_text,
             CAST(COUNT(*) AS INT) AS n_kept
      FROM kept GROUP BY doc_id
    )
    SELECT b.doc_id,
           COALESCE(r.clean_text, '') AS clean_text,
           COALESCE(r.n_kept, 0) AS n_kept,
           b.n AS n_total
    FROM base b LEFT JOIN rebuilt r USING (doc_id)
    ORDER BY b.doc_id
    """,
    headline=True,
    tags=("dedup", "text", "extension"),
)
def gram_dedup_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding 8-gram exact-substring dedup
    (operators.dedup.sliding_gram_dedup): a token survives only if
    some 8-word window covering it is the corpus-global FIRST
    occurrence of that window — removing unaligned repeats that
    segment-aligned dedup cannot see. The oracle replays first-
    occurrence ranking, k-way coverage, and reassembly exactly."""
    from corral_spark.operators.dedup import sliding_gram_dedup

    out = sliding_gram_dedup(
        load_table(spark, sf_dir, "documents"), "text", "doc_id", k=8
    )
    return out.orderBy("doc_id")


@register(
    "cdc_chunk_dedup_docs",
    oracle="""
    WITH base AS (
      SELECT doc_id,
             list_filter(string_split(text, ' '), w -> w <> '') AS ws
      FROM documents
    ),
    sized AS (SELECT doc_id, ws, len(ws) AS n FROM base),
    b AS (
      SELECT doc_id, ws, n,
             CASE WHEN n >= 4 THEN
               list_filter(range(0, n - 4 + 1),
                 j -> CAST(('0x' || substr(md5(
                        array_to_string(ws[j+1:j+4], ' ')), 1, 8))
                      AS BIGINT) % 16 = 0)
             ELSE CAST([] AS BIGINT[]) END AS bpos
      FROM sized
    ),
    chunks AS (
      SELECT doc_id,
             unnest(list_filter(
               list_transform(range(0, len(bpos) + 1),
                 c -> array_to_string(
                        ws[(CASE WHEN c = 0 THEN 0
                                 ELSE bpos[c] + 4 END) + 1 :
                           (CASE WHEN c = len(bpos) THEN n
                                 ELSE bpos[c+1] + 4 END)],
                        ' ')),
               t -> t <> '')) AS chunk_text
      FROM b
    ),
    hashed AS (SELECT doc_id, md5(chunk_text) AS h FROM chunks),
    nd AS (SELECT h, COUNT(DISTINCT doc_id) AS ndocs FROM hashed GROUP BY h)
    SELECT hashed.doc_id,
           COUNT(*) AS n_chunks,
           CAST(SUM(CASE WHEN nd.ndocs >= 2 THEN 1 ELSE 0 END) AS BIGINT)
             AS shared_chunks
    FROM hashed JOIN nd ON hashed.h = nd.h
    GROUP BY hashed.doc_id ORDER BY doc_id
    """,
    tags=("dedup", "chunking", "extension"),
)
def cdc_chunk_dedup_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partial-duplicate detection via content-defined chunking
    (chunking.content_defined_chunks, k=4 window, divisor=16): every
    document is cut where the local 4-word window hash lands on
    0 mod 16, chunks are hashed exactly, and each doc reports how
    many of its chunks also appear in at least one OTHER document —
    the chunk-granular dedup signal that catches shared boilerplate
    tails and quoted passages that document-level MinHash scores too
    low and fixed-width chunking loses to offset shift. Chunking is
    one scan-side projection (no shuffle); the dedup join shuffles
    only (hash, doc) pairs. The md5 cut rule and chunk slices are
    bit-replayed by the oracle."""
    from corral_spark.operators.chunking import content_defined_chunks

    docs = load_table(spark, sf_dir, "documents")
    ch = content_defined_chunks(docs, "text", "doc_id")
    nd = ch.groupBy("chunk_hash").agg(
        F.countDistinct("doc_id").alias("ndocs")
    )
    return (
        # nd is one row per DISTINCT CHUNK — corpus-scaled —
        # shuffle_hash per the corpus-scaled join rule (broadcast audit).
        ch.join(nd.hint("shuffle_hash"), "chunk_hash")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.sum((F.col("ndocs") >= 2).cast("int")).alias("shared_chunks"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# Fuzzy entity matching
# ---------------------------------------------------------------------------


@register(
    "fuzzy_customer_pairs",
    oracle="""
    SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
           CAST(levenshtein(a.c_name, b.c_name) AS INT) AS lev
    FROM customer a JOIN customer b
      ON a.c_custkey < b.c_custkey
     AND levenshtein(a.c_name, b.c_name) <= 1
    ORDER BY id_a, id_b
    """,
    tags=("fuzzy", "dedup", "join", "gap"),
)
def fuzzy_customer_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance<=1 name pairs via symmetric-delete blocking
    (operators.fuzzy.fuzzy_join_lev1): deletion-neighborhood explode,
    equi-join on variant, exact levenshtein refine — provably the same
    pair set as the oracle's all-pairs scan, at O(n x len) index cost
    instead of O(n^2). The oracle IS the naive cross join, so a green
    row proves blocking completeness end-to-end."""
    pairs = fuzzy_join_lev1(
        load_table(spark, sf_dir, "customer"), "c_name", "c_custkey"
    )
    return pairs.select(
        "id_a", "id_b", F.col("lev").cast("int").alias("lev")
    ).orderBy("id_a", "id_b")


#: Deterministic per-block cap for the capped fuzzy query; small so
#: the cap actually binds at every SF (customer name blocks are big).
_FUZZY_CAP = 5

_FUZZY_CAPPED_ORACLE = f"""
    WITH ex AS (
      SELECT c_custkey AS id, c_name AS txt,
             unnest(list_distinct(list_prepend(c_name,
               [substr(c_name, 1, i-1) || substr(c_name, i+1, length(c_name))
                for i in range(1, length(c_name)+1)]))) AS v
      FROM customer
    ),
    capped AS (
      SELECT id, txt, v,
             row_number() OVER (PARTITION BY v ORDER BY id, txt) AS rn
      FROM ex
    ),
    k AS (SELECT id, txt, v FROM capped WHERE rn <= {_FUZZY_CAP}),
    pairs AS (
      SELECT DISTINCT a.id AS id_a, b.id AS id_b,
             a.txt AS text_a, b.txt AS text_b
      FROM k a JOIN k b ON a.v = b.v AND a.id < b.id
    )
    SELECT id_a, id_b, CAST(levenshtein(text_a, text_b) AS INT) AS lev
    FROM pairs
    WHERE levenshtein(text_a, text_b) <= 1
    ORDER BY id_a, id_b
    """


@register(
    "fuzzy_customer_pairs_capped",
    oracle=_FUZZY_CAPPED_ORACLE,
    tags=("fuzzy", "dedup", "join", "bounded-fanout", "gap"),
)
def fuzzy_customer_pairs_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The boilerplate-ceiling variant of fuzzy_customer_pairs: each
    deletion-variant block keeps only its {_FUZZY_CAP} smallest ids
    (row_number over the block key), bounding fan-out at cap^2
    candidate pairs per key no matter how degenerate the corpus — the
    guard a 100 TB run needs against million-row identical-string
    blocks, where the uncapped join's output itself is quadratic.
    The cap rule is rank-based and deterministic, so the oracle
    replicates the exact algorithm (explode -> rank -> cap -> join ->
    refine) rather than the declarative all-pairs spec — a green row
    pins implementation equivalence cross-engine."""
    pairs = fuzzy_join_lev1(
        load_table(spark, sf_dir, "customer"),
        "c_name",
        "c_custkey",
        cap_per_block=_FUZZY_CAP,
    )
    return pairs.select(
        "id_a", "id_b", F.col("lev").cast("int").alias("lev")
    ).orderBy("id_a", "id_b")


# Interpolate the cap into the (plain-literal) docstring so published
# docs show the actual value, not the placeholder.
fuzzy_customer_pairs_capped.__doc__ = fuzzy_customer_pairs_capped.__doc__.replace(
    "{_FUZZY_CAP}", str(_FUZZY_CAP)
)


@register(
    "fuzzy_customer_pairs_lev2",
    oracle="""
    SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
           CAST(levenshtein(a.c_name, b.c_name) AS INT) AS lev
    FROM customer a JOIN customer b
      ON a.c_custkey < b.c_custkey
     AND levenshtein(a.c_name, b.c_name) <= 2
    ORDER BY id_a, id_b
    """,
    tags=("fuzzy", "dedup", "join", "gap"),
)
def fuzzy_customer_pairs_lev2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance<=2 name pairs via DEPTH-2 symmetric-delete
    blocking (operators.fuzzy.fuzzy_join): each name explodes into its
    deletion neighborhood of depth 2 (all 0/1/2-char deletions), the
    equi-join on variants yields a complete candidate superset, and
    one exact levenshtein per candidate refines. The oracle IS the
    naive all-pairs scan, so a green row proves depth-2 blocking
    completeness — the generalization real entity-resolution workloads
    need beyond the distance-1 case."""
    pairs = fuzzy_join(
        load_table(spark, sf_dir, "customer"), "c_name", "c_custkey", max_dist=2
    )
    return pairs.select(
        "id_a", "id_b", F.col("lev").cast("int").alias("lev")
    ).orderBy("id_a", "id_b")
