"""Retrieval queries over the embeddings and documents tables: dense
vector search (brute-force, IVF, int8 scalar and product
quantization), embedding near-dup detection and SemDeDup, lexical
scoring (TF-IDF, BM25), reciprocal-rank fusion and MMR
diversification. No reference analog (bcongdon/corral is a MapReduce
framework with no vector or retrieval surface); these extend SURVEY
§2.4's similarity-search family.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from corral_spark.functions.text import TOKENIZE_SQL, tokenize
from corral_spark.functions.vectors import dot_long, l2_normalize, quantize_int8
from corral_spark.operators.similarity import (
    cosine_near_dup_pairs,
    cosine_topk,
    ivf_topk,
    mmr_topk,
    semantic_dedup,
)
from corral_spark.queries.registry import register
from corral_spark.sources.tables import load_table


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Corpus boundary: malformed embeddings (NULL, NULL-element,
    # zero-norm, wrong-length) are not vectors — the extreme-value
    # campaign's rule, mirrored in every ANN oracle's predicate.
    from corral_spark.operators.similarity import valid_vecs

    return valid_vecs(load_table(spark, sf_dir, "embeddings"), dim=64)


# ---------------------------------------------------------------------------
# Dense vector search
# ---------------------------------------------------------------------------


@register(
    "ann_cosine_topk",
    oracle="""
    WITH q AS (
      SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
      FROM embeddings WHERE vec_id < 5 AND embedding IS NOT NULL AND len(embedding) = 64 AND len(list_filter(embedding, x -> x IS NULL)) = 0 AND list_aggregate(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum') > 0
    ),
    scored AS (
      SELECT q.query_id, e.vec_id,
             round(list_cosine_similarity(q.qv, CAST(e.embedding AS DOUBLE[])), 4) AS sim
      FROM q CROSS JOIN embeddings e
      WHERE e.vec_id <> q.query_id AND e.embedding IS NOT NULL AND len(embedding) = 64 AND len(list_filter(embedding, x -> x IS NULL)) = 0 AND list_aggregate(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum') > 0
    )
    SELECT query_id, vec_id, sim, rnk
    FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY sim DESC, vec_id) AS rnk
      FROM scored
    )
    WHERE rnk <= 10
    ORDER BY query_id, rnk
    """,
    headline=True,
    tags=("similarity", "extension"),
)
def ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-10 for 5 query vectors against the
    corpus: broadcast queries, JVM-side zip_with/aggregate dot
    products, per-query window top-k. Similarity quantized to 4dp so
    rank order is engine-stable."""
    emb = _emb(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return cosine_topk(emb, queries, k=10).orderBy("query_id", "rnk")


@register(
    "ann_ivf_topk",
    oracle="""
    WITH q AS (
      SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
      FROM embeddings WHERE vec_id < 5 AND embedding IS NOT NULL AND len(embedding) = 64 AND len(list_filter(embedding, x -> x IS NULL)) = 0 AND list_aggregate(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum') > 0
    ),
    scored AS (
      SELECT q.query_id, e.vec_id,
             round(list_cosine_similarity(q.qv, CAST(e.embedding AS DOUBLE[])), 4) AS sim
      FROM q CROSS JOIN embeddings e
      WHERE e.vec_id <> q.query_id AND e.embedding IS NOT NULL AND len(embedding) = 64 AND len(list_filter(embedding, x -> x IS NULL)) = 0 AND list_aggregate(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum') > 0
    )
    SELECT query_id, vec_id, sim, rnk
    FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY sim DESC, vec_id) AS rnk
      FROM scored
    )
    WHERE rnk <= 10
    ORDER BY query_id, rnk
    """,
    tags=("similarity", "extension"),
)
def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF top-10 (16 cells) for the same 5 queries, probing ALL cells
    so the result is exact and equals the brute-force oracle — the
    driver row proves the IVF machinery (centroid assignment, per-cell
    scoring, cross-cell merge) loses nothing. The probe-limited scale
    path (nprobe << ncells, ~ncells/nprobe scoring cost reduction) is
    the same code; its recall at nprobe=4 is pinned by pytest against
    ann_cosine_topk."""
    emb = _emb(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return ivf_topk(emb, queries, ncells=16, nprobe=16, k=10).orderBy(
        "query_id", "rnk"
    )


#: Orthogonal-block IVF construction: 64-dim embeddings, 8 blocks of 8
#: dims. Vector i keeps only block (i % 8), components abs()+0.5 (all
#: strictly positive). Cross-block cosine is EXACTLY 0 (disjoint
#: supports); same-block cosine >= ~0.11 (all-positive 8-vectors with a
#: 0.5 floor) — so each query's true top-k lives entirely in its own
#: block, and probing that one cell (plus a zero-sim filler) is
#: provably exact at nprobe=2 < ncells=8.
_NBLOCKS = 8
_BS = 8


def _blocked_emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    from corral_spark.operators.similarity import valid_vecs

    # Validity is judged on the RAW embedding before re-blocking
    # (the oracle's WHERE sits on the same raw column).
    emb = valid_vecs(load_table(spark, sf_dir, "embeddings"), dim=64)
    block = (F.col("vec_id") % _NBLOCKS).cast("int")
    vec = F.transform(
        F.col("embedding"),
        lambda x, i: F.when(
            (i >= block * _BS) & (i < (block + 1) * _BS),
            F.abs(x.cast("double")) + F.lit(0.5),
        ).otherwise(F.lit(0.0)),
    )
    return emb.select("vec_id", vec.alias("embedding"))


@register(
    "ann_ivf_probes",
    oracle=f"""
    WITH blocked AS (
      SELECT vec_id,
             list_transform(range(1, 65), i ->
               CASE WHEN (i - 1) // {_BS} = vec_id % {_NBLOCKS}
                    THEN abs(CAST(embedding[i] AS DOUBLE)) + 0.5
                    ELSE 0.0 END) AS e
      FROM embeddings WHERE embedding IS NOT NULL AND len(embedding) = 64 AND len(list_filter(embedding, x -> x IS NULL)) = 0 AND list_aggregate(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum') > 0
    ),
    q AS (
      SELECT vec_id AS query_id, e AS qv FROM blocked WHERE vec_id < 5
    ),
    scored AS (
      SELECT q.query_id, b.vec_id,
             round(list_cosine_similarity(q.qv, b.e), 4) AS sim
      FROM q CROSS JOIN blocked b
      WHERE b.vec_id <> q.query_id
    )
    SELECT query_id, vec_id, sim, rnk
    FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY sim DESC, vec_id) AS rnk
      FROM scored
    )
    WHERE rnk <= 10
    ORDER BY query_id, rnk
    """,
    tags=("similarity", "extension"),
)
def ann_ivf_probes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF top-10 probing 2 of 8 cells — the APPROXIMATE scale path
    (ncells/nprobe = 4x scoring-cost reduction), with an exact brute-
    force oracle. Recall 1.0 is guaranteed by construction, not luck:
    the corpus is re-blocked so vector i occupies only dim-block i%8
    with strictly positive components — cross-block cosine is exactly
    0, same-block cosine is bounded >= ~0.11, and the first-8-by-id
    centroids land one per block, so every query's true top-10 sits in
    its own (always-probed) cell. Complements ann_ivf_topk, which
    probes all cells; together they pin both the machinery and the
    probe-limited path against exact oracles."""
    corpus = _blocked_emb(spark, sf_dir)
    queries = corpus.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return ivf_topk(
        corpus, queries, ncells=_NBLOCKS, nprobe=2, k=10
    ).orderBy("query_id", "rnk")


@register(
    "ann_ivf_kmeans",
    oracle=f"""
    WITH blocked AS (
      SELECT vec_id,
             list_transform(range(1, 65), i ->
               CASE WHEN (i - 1) // {_BS} = vec_id % {_NBLOCKS}
                    THEN abs(CAST(embedding[i] AS DOUBLE)) + 0.5
                    ELSE 0.0 END) AS e
      FROM embeddings WHERE embedding IS NOT NULL AND len(embedding) = 64 AND len(list_filter(embedding, x -> x IS NULL)) = 0 AND list_aggregate(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum') > 0
    ),
    q AS (
      SELECT vec_id AS query_id, e AS qv FROM blocked WHERE vec_id < 5
    ),
    scored AS (
      SELECT q.query_id, b.vec_id,
             round(list_cosine_similarity(q.qv, b.e), 4) AS sim
      FROM q CROSS JOIN blocked b
      WHERE b.vec_id <> q.query_id
    )
    SELECT query_id, vec_id, sim, rnk
    FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY sim DESC, vec_id) AS rnk
      FROM scored
    )
    WHERE rnk <= 10
    ORDER BY query_id, rnk
    """,
    tags=("similarity", "extension"),
)
def ann_ivf_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF top-10 with LLOYD-REFINED centroids (kmeans_iters=2) probing
    2 of 8 cells, against the exact brute-force oracle (the kmeans path exercised
    under the driver gate, not just pytest). Exactness is by construction, and survives refinement:
    init centroids (first 8 by id) land one per dim-block; every Lloyd
    assignment is block-pure (cross-block cosine is exactly 0,
    same-block >= ~0.11), so each refined centroid is a mean of
    same-block vectors and keeps that block's disjoint support with
    components >= 0.5 — refinement can move centroids WITHIN a block
    but can never merge, swap, or empty blocks. Each query therefore
    still probes its own block's cell first and its true top-10 is
    fully scored at nprobe=2 < ncells=8."""
    corpus = _blocked_emb(spark, sf_dir)
    queries = corpus.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return ivf_topk(
        corpus, queries, ncells=_NBLOCKS, nprobe=2, k=10, kmeans_iters=2
    ).orderBy("query_id", "rnk")


@register(
    "emb_int8_topk",
    oracle="""
    WITH n0 AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ve,
             sqrt(list_aggregate(
               list_transform(CAST(embedding AS DOUBLE[]), x -> x * x),
               'sum')) AS nrm
      FROM embeddings
      WHERE embedding IS NOT NULL AND len(embedding) = 64 AND len(list_filter(embedding, x -> x IS NULL)) = 0 AND list_aggregate(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum') > 0
    ),
    q8 AS (
      SELECT vec_id,
             list_transform(
               ve, x -> CAST(floor(round(x / nrm, 6) * 127 + 0.5) AS BIGINT)
             ) AS qv
      FROM n0
    ),
    scored AS (
      SELECT q.vec_id AS query_id, c.vec_id,
             CAST(list_dot_product(q.qv, c.qv) AS BIGINT) AS qdot
      FROM q8 q
      JOIN q8 c ON c.vec_id <> q.vec_id
      WHERE q.vec_id < 5
    )
    SELECT query_id, vec_id, qdot, rnk
    FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY qdot DESC, vec_id) AS rnk
      FROM scored
    )
    WHERE rnk <= 10
    ORDER BY query_id, rnk
    """,
    tags=("similarity", "extension"),
)
def emb_int8_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar-quantized similarity search: unit-normalize every
    embedding (components quantized to 6 dp), quantize to symmetric
    int8 (q = floor(127x + 0.5)), then rank neighbors of 5 query
    vectors by the INTEGER dot product — exact BIGINT arithmetic, so
    the ranking has no float tie hazard on any engine
    (functions.vectors.l2_normalize / quantize_int8 / dot_long).

    This is the memory/IO story for billion-vector search: int8 codes
    are 4x smaller than float32, the scan stays JVM-side (transform/
    zip_with/aggregate — no Python), and recall vs the exact float
    top-k is pinned by pytest. Output: (query_id, vec_id, qdot, rnk).

    Malformed-embedding ingress (valid_vecs): a zero-norm
    vector has no direction — l2_normalize would divide by zero
    (ANSI raise / engine-specific NaN).
    """
    from corral_spark.operators.similarity import valid_vecs

    emb = valid_vecs(load_table(spark, sf_dir, "embeddings"), dim=64)
    q8 = emb.select(
        "vec_id", quantize_int8(l2_normalize(F.col("embedding"))).alias("qv")
    )
    queries = q8.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("qv").alias("__qqv")
    )
    scored = (
        q8.crossJoin(F.broadcast(queries))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            "vec_id",
            dot_long(F.col("__qqv"), F.col("qv")).alias("qdot"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("qdot"), F.asc("vec_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 10)
        .orderBy("query_id", "rnk")
    )


@register(
    "pq_ann_topk",
    oracle="""
    WITH v AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ve FROM embeddings
      WHERE embedding IS NOT NULL AND len(embedding) = 64 AND len(list_filter(embedding, x -> x IS NULL)) = 0 AND list_aggregate(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum') > 0
    ),
    cbv AS (
      SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS code, ve
      FROM (SELECT vec_id, ve FROM v ORDER BY vec_id LIMIT 16)
    ),
    cb AS (
      SELECT t.m, cbv.code, cbv.ve[t.m*16+1 : t.m*16+16] AS sv
      FROM cbv, (SELECT unnest(range(0, 4)) AS m) t
    ),
    sub AS (
      SELECT v.vec_id, t.m, v.ve[t.m*16+1 : t.m*16+16] AS xv
      FROM v, (SELECT unnest(range(0, 4)) AS m) t
    ),
    enc AS (
      SELECT vec_id, m, code FROM (
        SELECT s.vec_id, s.m, cb.code,
               ROW_NUMBER() OVER (
                 PARTITION BY s.vec_id, s.m
                 ORDER BY round(list_inner_product(s.xv, cb.sv), 6) DESC,
                          cb.code) AS rn
        FROM sub s JOIN cb ON cb.m = s.m
      ) WHERE rn = 1
    ),
    q AS (SELECT vec_id AS query_id, ve FROM v WHERE vec_id < 5),
    lut AS (
      SELECT q.query_id, cb.m, cb.code,
             CAST(round(list_inner_product(
               q.ve[cb.m*16+1 : cb.m*16+16], cb.sv) * 1e6, 0) AS BIGINT) AS t
      FROM q CROSS JOIN cb
    ),
    scored AS (
      SELECT l.query_id, e.vec_id,
             CAST(SUM(l.t) AS BIGINT) AS score_micro
      FROM enc e JOIN lut l ON l.m = e.m AND l.code = e.code
      GROUP BY 1, 2
    )
    SELECT query_id, vec_id, score_micro, rnk
    FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY score_micro DESC, vec_id) AS rnk
      FROM scored WHERE vec_id <> query_id
    )
    WHERE rnk <= 10
    ORDER BY query_id, rnk
    """,
    tags=("similarity", "approx", "extension"),
)
def pq_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantized ADC top-10 for 5 query vectors
    (similarity.pq_topk, 4 subspaces x 16 codes over 64 dims): the
    corpus is encoded once into 4 small integer codes per vector (32x
    smaller than float32), each query broadcasts a 64-entry lookup
    table of subspace dot products in integer micro-units, and
    candidates score by an exact BIGINT sum over a code equi-join —
    the compression step that makes billion-vector search scan bytes
    instead of floats. Codebooks, assignments (6dp-rounded argmax,
    ties to lowest code), LUTs, and integer score sums are all
    bit-replayed by the oracle."""
    from corral_spark.operators.similarity import pq_topk, valid_vecs

    emb = valid_vecs(load_table(spark, sf_dir, "embeddings"), dim=64)
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding")
    )
    return pq_topk(
        emb, queries, k=10, exclude_self=True
    ).orderBy("query_id", "rnk")


@register(
    "emb_near_dup_pairs",
    tags=("similarity", "dedup", "extension"),  # rows-only: LSH recall < 1
)
def emb_near_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-duplicate pairs (cosine >= 0.45) via
    sign-random-projection LSH with exact verification
    (operators.similarity.cosine_near_dup_pairs). Rows-only gate BY
    NATURE: the testdata corpus has no planted embedding dups, so the
    pairs above 0.45 sit exactly where sign-LSH band recall is
    probabilistic (~12% at cosine 0.45 with 24x12 bands) — set
    equality with an exact all-pairs oracle cannot hold. The oracled
    twin is emb_near_dup_planted (guaranteed-recall construction);
    recall on synthetic planted near-dups is pinned by pytest."""
    return cosine_near_dup_pairs(_emb(spark, sf_dir), threshold=0.45).orderBy(
        "id_a", "id_b"
    )


@register(
    "emb_near_dup_planted",
    oracle="""
    WITH aug AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
      WHERE embedding IS NOT NULL AND len(embedding) = 64 AND len(list_filter(embedding, x -> x IS NULL)) = 0 AND list_aggregate(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum') > 0
      UNION ALL
      SELECT vec_id + 100000,
             list_transform(CAST(embedding AS DOUBLE[]), x -> x * 2)
      FROM embeddings WHERE vec_id < 50 AND embedding IS NOT NULL AND len(embedding) = 64 AND len(list_filter(embedding, x -> x IS NULL)) = 0 AND list_aggregate(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum') > 0
    )
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           round(list_cosine_similarity(a.e, b.e), 6) AS cos_sim
    FROM aug a JOIN aug b ON a.vec_id < b.vec_id
    WHERE round(list_cosine_similarity(a.e, b.e), 6) >= 0.99
    ORDER BY id_a, id_b
    """,
    tags=("similarity", "dedup", "extension"),
)
def emb_near_dup_planted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sign-LSH near-dup detection with an exact oracle: plant 50
    scaled duplicates (vec_id+100000, embedding*2) into the corpus and
    find pairs with cosine >= 0.99. Scaling by 2 keeps the hyperplane
    sign pattern bit-identical (doubling is exact in IEEE), so LSH
    candidate recall on the planted pairs is GUARANTEED 1.0 — not
    probabilistic — and cos(a, 2a) rounds to exactly 1.0 in both
    engines. The 0.99 floor (not 0.9) keeps the claim data-
    independent: any NATURAL pair that qualifies is within 8 degrees,
    where 24x12 sign-LSH misses with probability ~1e-9 — at 0.9 a
    natural pair would be missed ~2% of the time, a latent gate flake
    if a corpus drop ever contains one. A hash match proves the full
    pipeline: banding UDF, bucket join, exact verification."""
    emb = _emb(spark, sf_dir)
    dup = emb.filter(F.col("vec_id") < 50).select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.transform("embedding", lambda x: (x * F.lit(2.0)).cast("float")).alias(
            "embedding"
        ),
    )
    aug = emb.select("vec_id", "embedding").unionByName(dup)
    return cosine_near_dup_pairs(aug, threshold=0.99).orderBy("id_a", "id_b")


@register(
    "semantic_dedup_docs",
    oracle="""
    WITH RECURSIVE
    v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ve FROM embeddings
          WHERE embedding IS NOT NULL AND len(embedding) = 64 AND len(list_filter(embedding, x -> x IS NULL)) = 0 AND list_aggregate(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum') > 0),
    cen AS (
      SELECT vec_id AS cell_id, ve AS cv FROM v ORDER BY vec_id LIMIT 16
    ),
    assign AS (
      SELECT vec_id, cell_id AS cell FROM (
        SELECT v.vec_id, cen.cell_id,
               ROW_NUMBER() OVER (
                 PARTITION BY v.vec_id
                 ORDER BY round(list_cosine_similarity(v.ve, cen.cv), 6) DESC,
                          cen.cell_id
               ) AS rn
        FROM v CROSS JOIN cen
      ) WHERE rn = 1
    ),
    edges AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b
      FROM assign a
      JOIN assign b ON a.cell = b.cell AND a.vec_id < b.vec_id
      JOIN v va ON va.vec_id = a.vec_id
      JOIN v vb ON vb.vec_id = b.vec_id
      WHERE round(list_cosine_similarity(va.ve, vb.ve), 4) >= 0.3
    ),
    sym AS (
      SELECT id_a AS u, id_b AS w FROM edges
      UNION
      SELECT id_b AS u, id_a AS w FROM edges
    ),
    reach(node, root) AS (
      SELECT vec_id, vec_id FROM embeddings WHERE embedding IS NOT NULL AND len(embedding) = 64 AND len(list_filter(embedding, x -> x IS NULL)) = 0 AND list_aggregate(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum') > 0
      UNION
      SELECT s.w, r.root FROM reach r JOIN sym s ON s.u = r.node
    )
    SELECT node AS vec_id,
           MIN(root) AS cluster_rep,
           (MIN(root) = node) AS is_rep
    FROM reach
    GROUP BY node
    ORDER BY vec_id
    """,
    tags=("similarity", "dedup", "extension"),
)
def semantic_dedup_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023) end-to-end: assign every embedding
    to its nearest of 16 deterministic coarse centroids (assignment
    cosine quantized to 6 dp, ties to the lowest cell), score ONLY
    within-cell pairs exactly, connect pairs with cosine >= 0.3 into
    components, and give every vector its component's min id as dedup
    representative (operators.similarity.semantic_dedup +
    operators.graph). Cross-cell pairs are skipped BY DESIGN — that
    pruning is what makes semantic dedup tractable at corpus scale —
    and the oracle replays the identical cell restriction, so the
    driver row proves assignment, blocking, scoring, and the
    component fixpoint all at once."""
    from corral_spark.operators.similarity import valid_vecs

    emb = valid_vecs(load_table(spark, sf_dir, "embeddings"), dim=64)
    return semantic_dedup(emb, ncells=16, threshold=0.3).orderBy("vec_id")


# ---------------------------------------------------------------------------
# Lexical retrieval and rank fusion
# ---------------------------------------------------------------------------


@register(
    "tfidf_top_terms",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, unnest({TOKENIZE_SQL.format(col='text')}) AS term
      FROM documents
    ),
    tf AS (
      SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
      FROM tok GROUP BY 1, 2
    ),
    df AS (
      SELECT term, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df
      FROM tok GROUP BY 1
    ),
    n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.term, tf.tf, df.df,
             CAST((tf.tf * n.n_docs * 1000000) // df.df AS BIGINT)
               AS score_micro
      FROM tf JOIN df USING (term), n
    )
    SELECT doc_id, term, tf, df, score_micro,
           CAST(rnk AS INT) AS rnk
    FROM (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY doc_id ORDER BY score_micro DESC, term) AS rnk
      FROM scored
    )
    WHERE rnk <= 3
    ORDER BY doc_id, rnk
    """,
    tags=("text", "tfidf", "extension"),
)
def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 most characteristic terms per document by linear-idf
    TF-IDF (score = tf * N / df, quantized to integer millionths so
    both engines rank on EXACT bigint arithmetic — a log-idf double
    would reintroduce cross-engine ulp risk; the linear variant is
    rank-equivalent for the common single-occurrence df range).
    Two shuffles (tf group-by, df group-by); the df side is
    VOCABULARY-sized, i.e. corpus-scaled, so the tf-df join carries
    the shuffle_hash corpus-scaled-join hint (broadcast audit —
    the earlier "broadcast the tiny df side" was a small-SF estimate
    Catalyst would happily keep at 100 TB through the explode).
    Only the one-row n_docs frame broadcasts. Ties broken by term."""
    docs = load_table(spark, sf_dir, "documents")
    # n_docs joins in lazily (one-row cross join, broadcast) — an
    # eager docs.count() here would run a full-scan job at
    # query-CONSTRUCTION time, paid even by plan-only inspections.
    n = docs.agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
    tok = docs.select(
        "doc_id", F.explode(tokenize(F.col("text"))).alias("term")
    )
    tf = tok.groupBy("doc_id", "term").agg(
        F.count(F.lit(1)).cast("bigint").alias("tf")
    )
    df = tok.groupBy("term").agg(
        F.count_distinct("doc_id").cast("bigint").alias("df")
    )
    scored = (
        tf.join(df.hint("shuffle_hash"), on="term")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "term",
            "tf",
            "df",
            F.expr("CAST((tf * n_docs * 1000000) DIV df AS BIGINT)").alias(
                "score_micro"
            ),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("score_micro").desc(), F.col("term")
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("int"))
        .filter(F.col("rnk") <= 3)
        .select("doc_id", "term", "tf", "df", "score_micro", "rnk")
        .orderBy("doc_id", "rnk")
    )


# BM25. Fixed query vocabulary: three corpus terms spanning the df range.
# k1/b are the Robertson defaults; idf is the Lucene non-negative
# variant ln(1 + (N - df + .5)/(df + .5)). The ONLY transcendental is
# the idf — 3 values per corpus — quantized to 6dp in the stats row,
# so the per-doc score is pure IEEE-rational arithmetic on identical
# doubles in both engines and the micro-integer quantization cannot
# diverge (ln ulp exposure is 3 trials per corpus, not 3-per-doc).

_BM25_TERMS = ("spark", "window", "merge")
_BM25_K1 = 1.2
_BM25_B = 0.75
_BM25_TOPK = 20


def _bm25_scored_sql() -> str:
    """Shared oracle CTE prefix: perdoc/stats/scored — every BM25-
    scored document with its dl, matched-term count, total tf, and
    integer-micro score. Used by the bm25_top_docs oracle and by the
    rrf_hybrid_docs oracle, so the two replays cannot
    drift."""
    tok = TOKENIZE_SQL.format(col="text")
    tf_cols = ",\n             ".join(
        f"CAST(len(list_filter({tok}, x -> x = '{t}')) AS BIGINT) AS tf{i}"
        for i, t in enumerate(_BM25_TERMS)
    )
    df_cols = ",\n             ".join(
        f"CAST(SUM(CASE WHEN tf{i} > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df{i}"
        for i in range(len(_BM25_TERMS))
    )
    idf_cols = ",\n             ".join(
        f"round(ln(1 + (n_docs - df{i} + 0.5) / (df{i} + 0.5)), 6) AS idf{i}"
        for i in range(len(_BM25_TERMS))
    )
    score_terms = "\n           + ".join(
        f"(CASE WHEN tf{i} > 0 THEN CAST(round(idf{i} * (tf{i} * {_BM25_K1 + 1})"
        f" / (tf{i} + {_BM25_K1} * ({1 - _BM25_B} + {_BM25_B} * dl / avg_dl))"
        f" * 1000000) AS BIGINT) ELSE 0 END)"
        for i in range(len(_BM25_TERMS))
    )
    n_terms = " + ".join(
        f"(CASE WHEN tf{i} > 0 THEN 1 ELSE 0 END)"
        for i in range(len(_BM25_TERMS))
    )
    tf_total = " + ".join(f"tf{i}" for i in range(len(_BM25_TERMS)))
    return f"""
    WITH perdoc AS (
      SELECT doc_id, CAST(len({tok}) AS BIGINT) AS dl,
             {tf_cols}
      FROM documents
      WHERE text IS NOT NULL
    ),
    stats0 AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(dl) AS BIGINT) AS sum_dl,
             {df_cols}
      FROM perdoc
    ),
    stats AS (
      SELECT *, CAST(sum_dl AS DOUBLE) / n_docs AS avg_dl,
             {idf_cols}
      FROM stats0
    ),
    scored AS (
      SELECT doc_id, dl, CAST({n_terms} AS INT) AS n_terms,
             CAST({tf_total} AS BIGINT) AS tf_total,
             ({score_terms}) AS bm25_micro
      FROM perdoc, stats
    )
    """


def _bm25_oracle() -> str:
    return (
        _bm25_scored_sql()
        + f"""
    SELECT doc_id, dl, n_terms, bm25_micro
    FROM scored
    WHERE bm25_micro > 0
    ORDER BY bm25_micro DESC, doc_id
    LIMIT {_BM25_TOPK}
    """
    )


def bm25_scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every BM25-scored document (doc_id, dl, n_terms, tf_total,
    bm25_micro) — the shared scoring frame behind bm25_top_docs and
    rrf_hybrid_docs. Plan shape documented on
    bm25_top_docs; the SQL twin is _bm25_scored_sql()."""
    return _bm25_scored_frame(spark, sf_dir)


@register(
    "bm25_top_docs",
    oracle=_bm25_oracle(),
    tags=("text", "retrieval", "extension"),
)
def bm25_top_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 top-20 documents for a 3-term query with no wide
    shuffle: tf per term and doc length are array expressions over
    the tokenize (no explode, no (doc, term) groupBy), corpus stats
    (N, sum dl, df per term) are a single-row aggregate broadcast
    back via crossJoin (BNLJ over ONE row — the audited
    scalar-subquery shape, test_plans allowlist), and the top-20 is
    TakeOrderedAndProject. Two column-pruned scans total. idf is
    quantized to 6dp in the stats row (3 ln calls per corpus, not
    3 per doc) so the per-doc arithmetic is engine-identical IEEE
    rationals; scores emitted as integer micros."""
    scored = bm25_scored(spark, sf_dir).drop("tf_total").filter(
        F.col("bm25_micro") > 0
    )
    return scored.orderBy(F.desc("bm25_micro"), F.asc("doc_id")).limit(
        _BM25_TOPK
    )


def _bm25_scored_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")

    # NB: the predicate must be an ARITY-1 lambda — F.filter treats a
    # two-parameter lambda as (element, index), so the usual
    # ``lambda w, t=t`` closure idiom silently binds t to the index
    # column and the filter matches nothing.
    def _eq(term: str):
        return lambda w: w == F.lit(term)

    # Tokenize in its OWN projection: dl + the per-term tfs reference
    # the array 4x, and CollapseProject declines to re-inline a
    # multiply-referenced non-cheap expression — so the regex
    # tokenizer runs once per row instead of four times (verified in
    # the physical plan: 1 regexp_replace per scan, was 4).
    # NULL text is not a retrievable document (NULL-campaign convention:
    # explicit boundary on BOTH sides, so the semantics don't depend
    # on spark.sql.ansi.enabled / legacy.sizeOfNull — under the
    # repo's legacy session size(NULL) = -1 would otherwise poison
    # sum_dl and shift every doc's avg_dl/bm25_micro).
    with_toks = docs.filter(F.col("text").isNotNull()).select(
        "doc_id", tokenize(F.col("text")).alias("__toks")
    )
    perdoc = with_toks.select(
        "doc_id",
        F.size("__toks").cast("bigint").alias("dl"),
        *[
            F.size(F.filter(F.col("__toks"), _eq(t)))
            .cast("bigint")
            .alias(f"tf{i}")
            for i, t in enumerate(_BM25_TERMS)
        ],
    )
    stats = perdoc.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("dl").cast("bigint").alias("sum_dl"),
        *[
            F.sum((F.col(f"tf{i}") > 0).cast("int"))
            .cast("bigint")
            .alias(f"df{i}")
            for i in range(len(_BM25_TERMS))
        ],
    ).select(
        "*",
        (F.col("sum_dl").cast("double") / F.col("n_docs")).alias("avg_dl"),
        *[
            F.round(
                F.log(
                    F.lit(1)
                    + (F.col("n_docs") - F.col(f"df{i}") + F.lit(0.5))
                    / (F.col(f"df{i}") + F.lit(0.5))
                ),
                6,
            ).alias(f"idf{i}")
            for i in range(len(_BM25_TERMS))
        ],
    )
    joined = perdoc.crossJoin(F.broadcast(stats))
    score_terms = [
        F.when(
            F.col(f"tf{i}") > 0,
            F.round(
                F.col(f"idf{i}")
                * (F.col(f"tf{i}") * F.lit(_BM25_K1 + 1))
                / (
                    F.col(f"tf{i}")
                    + F.lit(_BM25_K1)
                    * (
                        F.lit(1 - _BM25_B)
                        + F.lit(_BM25_B) * F.col("dl") / F.col("avg_dl")
                    )
                )
                * F.lit(1000000)
            ).cast("bigint"),
        ).otherwise(F.lit(0).cast("bigint"))
        for i in range(len(_BM25_TERMS))
    ]
    bm25 = score_terms[0]
    for t in score_terms[1:]:
        bm25 = bm25 + t
    n_terms = None
    for i in range(len(_BM25_TERMS)):
        c = (F.col(f"tf{i}") > 0).cast("int")
        n_terms = c if n_terms is None else n_terms + c
    tf_total = None
    for i in range(len(_BM25_TERMS)):
        c = F.col(f"tf{i}")
        tf_total = c if tf_total is None else tf_total + c
    return joined.select(
        "doc_id",
        "dl",
        n_terms.cast("int").alias("n_terms"),
        tf_total.cast("bigint").alias("tf_total"),
        bm25.alias("bm25_micro"),
    )


# Reciprocal-rank fusion (Cormack, Clarke & Buettcher 2009):
# fused(d) = sum over systems of 1/(k + rank_s(d)), k = 60. The two
# systems are deliberately different retrieval families over the SAME
# fixed query vocabulary (_BM25_TERMS):
#   A. graded lexical — the BM25 scoring frame (shared builder
#      ``bm25_scored``; identical plan to bm25_top_docs), ranked by
#      (bm25_micro DESC, doc_id);
#   B. coordination-level boolean — Lucene-coord-style
#      (n_matching_terms DESC, total tf DESC, doc_id), NO length
#      normalization — the coarse retriever RRF papers fuse against
#      graded ones.
# Each system contributes its top-50; fusion scores are integer micros
# (round(1e6 / (60 + rank)) — exact: no achievable rank in 1..50 puts
# 1e6/(60+r) on a .5 rounding boundary, since 2e6/(60+r) is even for
# every divisor in 61..110), so the fused ordering is an exact BIGINT
# sort both engines replay bit-identically. Each ranking is a
# TakeOrderedAndProject over the shared single-pass scoring frame (no
# global sort) and the two 50-row lists join by doc_id, so at 100 TB
# the cost is ONE corpus scan; everything after is constant-size.
_RRF_K = 60
_RRF_DEPTH = 50  # per-retriever candidate depth
_RRF_OUT = 15


def _rrf_oracle() -> str:
    return (
        _bm25_scored_sql()
        + f""",
    ra AS (
      SELECT doc_id,
             CAST(ROW_NUMBER() OVER (ORDER BY bm25_micro DESC, doc_id)
                  AS INT) AS bm25_rank
      FROM scored WHERE bm25_micro > 0
      ORDER BY bm25_rank LIMIT {_RRF_DEPTH}
    ),
    rb AS (
      SELECT doc_id,
             CAST(ROW_NUMBER() OVER (
               ORDER BY n_terms DESC, tf_total DESC, doc_id)
                  AS INT) AS bool_rank
      FROM scored WHERE n_terms > 0
      ORDER BY bool_rank LIMIT {_RRF_DEPTH}
    ),
    fused AS (
      SELECT COALESCE(ra.doc_id, rb.doc_id) AS doc_id,
             ra.bm25_rank, rb.bool_rank,
             CAST(COALESCE(ROUND(1000000.0 / ({_RRF_K} + ra.bm25_rank)), 0)
                + COALESCE(ROUND(1000000.0 / ({_RRF_K} + rb.bool_rank)), 0)
                AS BIGINT) AS rrf_micro
      FROM ra FULL OUTER JOIN rb ON ra.doc_id = rb.doc_id
    )
    SELECT doc_id, bm25_rank, bool_rank, rrf_micro
    FROM fused
    ORDER BY rrf_micro DESC, doc_id
    LIMIT {_RRF_OUT}
    """
    )


@register(
    "rrf_hybrid_docs",
    oracle=_rrf_oracle(),
    tags=("text", "retrieval", "fusion", "extension"),
)
def rrf_hybrid_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RRF fusion of the BM25 and coordination-boolean rankings (see
    the comment on _RRF_K for semantics and the exactness argument).

    Plan: ONE shared scoring pass (bm25_scored — cached so the two
    rankings don't re-scan the corpus), two TakeOrderedAndProject
    top-50s, a full-outer join of two 50-row frames, and a final
    15-row TakeOrderedAndProject on the exact integer fusion score.
    """
    scored = bm25_scored(spark, sf_dir).cache()
    ra = (
        scored.filter(F.col("bm25_micro") > 0)
        .orderBy(F.desc("bm25_micro"), F.asc("doc_id"))
        .limit(_RRF_DEPTH)
        .select(
            "doc_id",
            F.row_number()
            .over(
                Window.orderBy(F.desc("bm25_micro"), F.asc("doc_id"))
            )
            .cast("int")
            .alias("bm25_rank"),
        )
    )
    rb = (
        scored.filter(F.col("n_terms") > 0)
        .orderBy(
            F.desc("n_terms"), F.desc("tf_total"), F.asc("doc_id")
        )
        .limit(_RRF_DEPTH)
        .select(
            "doc_id",
            F.row_number()
            .over(
                Window.orderBy(
                    F.desc("n_terms"),
                    F.desc("tf_total"),
                    F.asc("doc_id"),
                )
            )
            .cast("int")
            .alias("bool_rank"),
        )
    )

    def _contrib(rank_col: str):
        return F.coalesce(
            F.round(F.lit(1000000.0) / (F.lit(_RRF_K) + F.col(rank_col))),
            F.lit(0.0),
        )

    fused = (
        ra.join(rb, "doc_id", "full_outer")
        .select(
            "doc_id",
            "bm25_rank",
            "bool_rank",
            (_contrib("bm25_rank") + _contrib("bool_rank"))
            .cast("bigint")
            .alias("rrf_micro"),
        )
    )
    return fused.orderBy(F.desc("rrf_micro"), F.asc("doc_id")).limit(
        _RRF_OUT
    )


# ---------------------------------------------------------------------------
# Diversification
# ---------------------------------------------------------------------------


_MMR_K = 5
_MMR_LAM = 0.7
_MMR_QID = 0


def _mmr_oracle(k: int = _MMR_K, lam: float = _MMR_LAM) -> str:
    """Unrolled greedy MMR: round i picks the argmax of
    lam*qsim - (1-lam)*max(pairwise sim to rounds 1..i-1), every
    similarity rounded to 4dp before the argmax, ties to lowest id."""
    parts = [
        f"""q AS (
      SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings
      WHERE vec_id = {_MMR_QID} AND embedding IS NOT NULL AND len(embedding) = 64 AND len(list_filter(embedding, x -> x IS NULL)) = 0 AND list_aggregate(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum') > 0
    ),
    cand AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
             round(list_cosine_similarity(
               CAST(embedding AS DOUBLE[]), q.qv), 4) AS qsim
      FROM embeddings, q
      WHERE vec_id <> {_MMR_QID} AND embedding IS NOT NULL AND len(embedding) = 64 AND len(list_filter(embedding, x -> x IS NULL)) = 0 AND list_aggregate(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum') > 0
    ),
    s1 AS (
      SELECT vec_id, v, qsim, {lam} * qsim AS score
      FROM cand ORDER BY {lam} * qsim DESC, vec_id LIMIT 1
    ),
    sel1 AS (SELECT vec_id, v FROM s1)"""
    ]
    for i in range(2, k + 1):
        parts.append(f"""s{i} AS (
      SELECT vec_id, ANY_VALUE(v) AS v, qsim,
             {lam} * qsim - {1 - lam} * MAX(pairsim) AS score
      FROM (
        SELECT c.vec_id, c.v, c.qsim,
               round(list_cosine_similarity(c.v, s.v), 4) AS pairsim
        FROM cand c CROSS JOIN sel{i - 1} s
        WHERE c.vec_id NOT IN (SELECT vec_id FROM sel{i - 1})
      )
      GROUP BY vec_id, qsim
      ORDER BY score DESC, vec_id LIMIT 1
    ),
    sel{i} AS (SELECT vec_id, v FROM sel{i - 1}
               UNION ALL SELECT vec_id, v FROM s{i})""")
    unions = "\n      UNION ALL ".join(
        f"SELECT {i} AS rnk, vec_id, qsim AS relevance,"
        f" round(score, 4) AS mmr_score FROM s{i}"
        for i in range(1, k + 1)
    )
    return (
        "\n    WITH "
        + ",\n    ".join(parts)
        + f"""
    SELECT CAST(rnk AS INT) AS rnk, vec_id, relevance, mmr_score
    FROM ({unions})
    ORDER BY rnk
    """
    )


@register(
    "mmr_diverse_topk",
    oracle=_mmr_oracle(),
    tags=("similarity", "diversity", "extension"),
)
def mmr_diverse_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy MMR-diversified top-5 of the embeddings corpus against
    the vec_id=0 query vector (lambda 0.7): k distributed argmax
    rounds (TakeOrderedAndProject each — no full sort), selected
    vectors re-entering as broadcast literals in the next round's
    penalty expression (operators.similarity.mmr_topk). Similarities
    quantized to 4dp before every argmax so the unrolled SQL oracle
    replays the selection bit-exactly."""
    from corral_spark.operators.similarity import valid_vecs

    emb = valid_vecs(load_table(spark, sf_dir, "embeddings"), dim=64)
    qrow = (
        emb.filter(F.col("vec_id") == _MMR_QID)
        .select(
            F.transform("embedding", lambda x: x.cast("double")).alias("qv")
        )
        .collect()
    )
    if not qrow:  # empty corpus / missing query vector -> empty result
        return spark.createDataFrame(
            [], "rnk int, vec_id long, relevance double, mmr_score double"
        )
    qv = list(qrow[0]["qv"])
    return mmr_topk(
        emb, qv, k=_MMR_K, lam=_MMR_LAM, exclude_ids=(_MMR_QID,)
    )
