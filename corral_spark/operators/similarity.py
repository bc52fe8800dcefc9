"""Similarity search over embedding columns (array<float>).

North-star extension (SURVEY §2.4). Two paths:

* ``cosine_topk`` — brute force: broadcast the (small) query set
  against the corpus, score with JVM-side zip_with/aggregate, take
  top-k per query with a window. Exact; scales linearly in corpus
  size and is embarrassingly parallel — the right baseline even at
  100 TB when the query set is small.
* ``ivf_topk`` — IVF (inverted-file) approximate path: partition the
  corpus by nearest centroid (the coarse quantizer), then probe only
  the ``nprobe`` nearest cells for each query. Corpus scoring cost
  drops by ~ncells/nprobe. Centroids here are chosen deterministically
  (first ``ncells`` vectors by id) so results are reproducible without
  an iterative k-means job; swap in k-means centroids for better
  recall at real scale.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from corral_spark.functions.vectors import cosine_sim, dot


def _as_double(col):
    return F.transform(col, lambda x: x.cast("double"))


def valid_vecs(
    df: DataFrame, vec_col: str = "embedding", dim: int | None = None
) -> DataFrame:
    """Drop MALFORMED embeddings at ingress: NULL vectors, vectors
    containing NULL elements, zero-norm vectors, and (when ``dim`` is
    given) wrong-length vectors.

    NULL is absence of a vector (the COUNT(DISTINCT) convention);
    the extreme-value campaign extended the rule to the other
    degenerate shapes 100 TB production data actually contains: a
    zero vector has no direction (cosine is 0/0 — NaN, with
    engine-specific NaN ordering downstream), a NULL element or a
    ragged length poisons dot products (DuckDB's
    list_cosine_similarity RAISES on both; Spark's zip_with silently
    null-pads the shorter side — silently-wrong beats nothing only
    if you never look). All four checks are cheap JVM array
    expressions fused into the scan. Pass ``dim`` at the corpus
    boundary (queries pass the corpus's declared dimension); the
    oracles mirror the full predicate inline."""
    c = F.col(vec_col)
    cond = (
        c.isNotNull()
        & ~F.exists(c, lambda x: x.isNull())
        & (F.aggregate(c, F.lit(0.0), lambda a, x: a + x * x) > 0)
    )
    if dim is not None:
        cond = cond & (F.size(c) == dim)
    return df.filter(cond)


def _drop_null_vecs(df: DataFrame, vec_col: str) -> DataFrame:
    """Operator-internal ingress: the dimension-blind half of
    ``valid_vecs`` (callers enforce ``dim`` at the corpus boundary,
    where the declared dimension lives)."""
    return valid_vecs(df, vec_col, dim=None)


def cosine_near_dup_pairs(
    corpus: DataFrame,
    threshold: float = 0.45,
    bands: int = 24,
    bits: int = 12,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
) -> DataFrame:
    """Embedding near-duplicate pairs via sign-random-projection LSH:
    each vector gets ``bands`` bucket keys (each key = ``bits`` packed
    hyperplane signs); candidates are rows sharing a (band, key);
    candidates are verified with the exact cosine and filtered at
    ``threshold``.

    Parameter discipline matters more than the idea: per-band
    collision for an UNRELATED pair is 2^-bits, so small keys swamp
    the verifier (4-bit bands collided on ~64% of all pairs at sf0.1 —
    effectively a cross join, ~100s; 12-bit bands collide on 0.6%).
    With 24x12, a cosine-0.9 pair is recalled with ~98% probability
    (p_band = (1 - theta/pi)^12). Sign projections are scale-
    invariant, so no pre-normalization pass is needed; the exact
    verifier computes the full cosine. Hyperplanes are a fixed seeded
    Gaussian matrix applied as one numpy matmul per Arrow batch.
    Output: (id_a, id_b, cos_sim) with id_a < id_b.
    """
    import numpy as np
    from pyspark.sql.types import ArrayType, LongType

    @F.pandas_udf(ArrayType(LongType()))
    def band_keys(vecs: pd.Series) -> pd.Series:
        M = np.array(vecs.tolist(), dtype=np.float64)
        if len(M) == 0:  # empty Arrow batch (filters upstream can
            return pd.Series([], dtype=object)  # starve a partition)
        H = np.random.RandomState(seed).randn(M.shape[1], bands * bits)
        signs = (M @ H) > 0  # (n, bands*bits)
        weights = (1 << np.arange(bits, dtype=np.int64))
        keys = signs.reshape(len(M), bands, bits) @ weights  # pack bits
        # Prefix each key with its band index so bands never collide.
        keys = keys + (np.arange(bands, dtype=np.int64) << 32)
        return pd.Series(list(keys))

    from corral_spark.operators.dedup import bucket_id_pairs

    corpus = _drop_null_vecs(corpus, vec_col)
    # Two-step candidate/verify (the MinHash kernel's sig-free band
    # join): only (band key, id) crosses the pair self-join and its
    # barrier — the previous shape shipped each 512-byte vector once
    # per (band x side) through the join; vectors now attach to the
    # (much smaller) candidate set by id for exact verification.
    keyed = corpus.select(
        F.col(id_col).alias("id"),
        F.explode(band_keys(F.col(vec_col))).alias("bk"),
    )
    cand = bucket_id_pairs(keyed, "bk", "id")
    vecs = corpus.select(F.col(id_col).alias("id"), F.col(vec_col).alias("__v"))
    a = vecs.select(F.col("id").alias("id_a"), F.col("__v").alias("__va"))
    b = vecs.select(F.col("id").alias("id_b"), F.col("__v").alias("__vb"))
    sim = F.round(
        cosine_sim(_as_double(F.col("__va")), _as_double(F.col("__vb"))), 6
    )
    return (
        # The vector table is corpus-scaled — shuffle_hash per the
        # bucket_pairs rule, never an estimate-based broadcast.
        cand.join(a.hint("shuffle_hash"), "id_a")
        .join(b.hint("shuffle_hash"), "id_b")
        .select("id_a", "id_b", sim.alias("cos_sim"))
        .filter(F.col("cos_sim") >= threshold)
    )


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_sim: int | None = 4,
) -> DataFrame:
    """Exact top-k cosine neighbors of each query vector.

    ``queries`` must have (query_id, embedding). Self-matches
    (query_id == corpus id) are excluded. Similarity is computed in
    double precision; ``round_sim`` quantizes before ranking so that
    cross-engine ulp noise cannot flip the ranking (ties broken by
    neighbor id).
    Output: (query_id, vec_id, sim, rnk).
    """
    corpus = _drop_null_vecs(corpus, vec_col)
    queries = _drop_null_vecs(queries, vec_col)
    q = F.broadcast(
        queries.select(
            F.col("query_id"), _as_double(F.col(vec_col)).alias("__qv")
        )
    )
    c = corpus.select(F.col(id_col), _as_double(F.col(vec_col)).alias("__cv"))
    sim = cosine_sim(F.col("__qv"), F.col("__cv"))
    if round_sim is not None:
        sim = F.round(sim, round_sim)
    scored = (
        c.crossJoin(q)
        .filter(F.col("query_id") != F.col(id_col))
        .select("query_id", id_col, sim.alias("sim"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc(id_col))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
    )


def ivf_assign(
    corpus: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_sim: int | None = None,
) -> DataFrame:
    """Assign each corpus vector to its nearest centroid (max cosine).

    One broadcast of the centroid set; no corpus shuffle. Output:
    corpus columns + cell (centroid id). ``round_sim`` quantizes the
    assignment similarity before the argmax (ties then break to the
    LOWEST cell id) — set it when a SQL oracle must replicate the
    assignment bit-for-bit, since an unquantized argmax can flip on
    cross-engine ulp noise between two near-equidistant centroids.
    """
    cen = F.broadcast(
        centroids.select(
            F.col("cell_id"), _as_double(F.col(vec_col)).alias("__cenv")
        )
    )
    corpus = _drop_null_vecs(corpus, vec_col)
    scored = corpus.select(
        F.col(id_col), F.col(vec_col), _as_double(F.col(vec_col)).alias("__v")
    ).crossJoin(cen)
    sim = cosine_sim(F.col("__v"), F.col("__cenv"))
    if round_sim is not None:
        sim = F.round(sim, round_sim)
    # argmax via max_by on a (sim, -cell_id) struct: a partial-aggregating
    # single pass — a row_number window here would shuffle + sort the
    # whole corpus by vector id.
    best = F.max_by(
        F.col("cell_id"), F.struct(sim.alias("s"), (-F.col("cell_id")).alias("t"))
    )
    return (
        scored.groupBy(id_col)
        .agg(F.first(vec_col).alias(vec_col), best.alias("cell"))
        .select(id_col, vec_col, "cell")
    )


def deterministic_centroids(
    corpus: DataFrame,
    ncells: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """First ``ncells`` vectors by id as coarse centroids (reproducible
    k-means init; the IVF plumbing is identical either way)."""
    return (
        _drop_null_vecs(corpus, vec_col).orderBy(F.asc(id_col))
        .limit(ncells)
        .select(F.col(id_col).alias("cell_id"), F.col(vec_col))
    )


def kmeans_centroids(
    corpus: DataFrame,
    ncells: int,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Lloyd-refined coarse centroids: deterministic init (first
    ``ncells`` by id), then ``iters`` assign+mean rounds, all in
    DataFrame ops — assignment broadcasts the centroids, the mean is
    one hash aggregate over zip_with-summed vectors. Deterministic:
    no RNG, fixed iteration count, quantized means. At real scale run
    this on a sample (centroid quality needs only ~100x ncells points).

    Measured caveat: on the driver's STRUCTURE-LESS uniform embeddings
    refinement does not help (recall 0.92 -> 0.84 at sf0.01, 16 cells
    / probe 4) — Lloyd rounds only pay when the corpus genuinely
    clusters (verified on synthetic clustered data in
    tests/test_operators.py); hence ``kmeans_iters=0`` is the default
    in ivf_topk."""
    from corral_spark.materialize import materialize

    cen = deterministic_centroids(corpus, ncells, id_col, vec_col)
    for _ in range(iters):
        assigned = ivf_assign(corpus, cen, id_col, vec_col)
        # Per-dimension means via posexplode + hash agg (spill-safe;
        # a collect_list of full vectors per cell would not be).
        dims = (
            assigned.select(
                "cell", F.posexplode(_as_double(F.col(vec_col))).alias("d", "x")
            )
            .groupBy("cell", "d")
            # Quantize: avg() accumulation order varies run to run;
            # 6dp makes the refined centroids (and thus IVF results)
            # reproducible.
            .agg(F.round(F.avg("x"), 6).alias("m"))
        )
        cen = dims.groupBy("cell").agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("d", "m"))),
                lambda s: s.getField("m"),
            ).alias(vec_col)
        ).select(F.col("cell").alias("cell_id"), vec_col)
        # Checkpoint the ncells-row centroid frame per round: without
        # the barrier round i's lineage NESTS every earlier round, and
        # each downstream consumer (the assignment broadcast AND the
        # query-probe broadcast in ivf_topk) re-executes the whole
        # stack — measured ~7 corpus passes for iters=2 where 3 are
        # fundamental (one assign+mean per round plus the final
        # assignment). The frame is O(ncells) rows and every mean is
        # 6dp-quantized, so the checkpoint changes no value.
        cen = materialize(cen, eager=True)
    return cen


def semantic_near_dup_pairs(
    corpus: DataFrame,
    ncells: int = 16,
    threshold: float = 0.3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_sim: int = 4,
) -> DataFrame:
    """SemDeDup-style semantic near-duplicate candidate pairs: assign
    every vector to its nearest coarse centroid (deterministic
    first-``ncells``-by-id init, assignment cosine quantized to 6 dp
    so the argmax is engine-stable), then score ONLY within-cell pairs
    with the exact cosine and keep those at or above ``threshold``.

    This is the SemDeDup pruning (Abbas et al. 2023): cross-cluster
    comparisons are skipped BY DESIGN, turning the O(n^2) semantic
    pair search into per-cell blocks. Scale shape: the centroid table
    broadcasts (ncells rows), assignment is a scan-side argmax with
    no corpus shuffle, and the pair join is one hash equi-join on the
    cell id — so cost is sum of squares of CELL sizes, controlled by
    growing ``ncells`` with the corpus (ncells ~ n/10^4 keeps blocks
    bounded at any scale). Output: (id_a, id_b, cos_sim) with
    id_a < id_b, cos_sim quantized to ``round_sim`` dp.
    """
    from corral_spark.operators.dedup import bucket_id_pairs

    centroids = deterministic_centroids(corpus, ncells, id_col, vec_col)
    assigned = ivf_assign(corpus, centroids, id_col, vec_col, round_sim=6)
    # Two-step candidate/verify (the MinHash kernel's sig-free band
    # join): only (cell, id) crosses the within-cell pair join —
    # the previous shape shipped each vector once per pair SIDE
    # through the block join (sum-of-squares of cell sizes x 512 B);
    # vectors now attach to the candidate pairs by id.
    keyed = assigned.select(F.col("cell"), F.col(id_col).alias("id"))
    cand = bucket_id_pairs(keyed, "cell", "id")
    vecs = corpus.select(F.col(id_col).alias("id"), F.col(vec_col).alias("__v"))
    a = vecs.select(F.col("id").alias("id_a"), F.col("__v").alias("__va"))
    b = vecs.select(F.col("id").alias("id_b"), F.col("__v").alias("__vb"))
    sim = F.round(
        cosine_sim(_as_double(F.col("__va")), _as_double(F.col("__vb"))),
        round_sim,
    )
    return (
        # Corpus-scaled vector table — shuffle_hash per the
        # bucket_pairs rule.
        cand.join(a.hint("shuffle_hash"), "id_a")
        .join(b.hint("shuffle_hash"), "id_b")
        .select("id_a", "id_b", sim.alias("cos_sim"))
        .filter(F.col("cos_sim") >= threshold)
    )


def semantic_dedup(
    corpus: DataFrame,
    ncells: int = 16,
    threshold: float = 0.3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Semantic dedup resolution: within-cell cosine pairs at
    ``threshold`` become clusters via connected components; every
    vector gets its component's min id as representative. Output:
    (id_col, cluster_rep, is_rep) — drop ``is_rep == false`` rows to
    apply the dedup."""
    from corral_spark.operators.graph import dedup_clusters

    corpus = _drop_null_vecs(corpus, vec_col)
    pairs = semantic_near_dup_pairs(corpus, ncells, threshold, id_col, vec_col)
    return dedup_clusters(corpus, pairs, id_col)


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    ncells: int = 16,
    nprobe: int = 4,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_sim: int | None = 4,
    kmeans_iters: int = 0,
) -> DataFrame:
    """Approximate top-k: search only the ``nprobe`` cells nearest to
    each query. ``kmeans_iters`` > 0 refines the coarse centroids with
    that many Lloyd rounds (better-balanced cells -> better recall at
    the same nprobe). Output: (query_id, vec_id, sim, rnk)."""
    if kmeans_iters > 0:
        # Already checkpointed per Lloyd round inside kmeans_centroids.
        centroids = kmeans_centroids(corpus, ncells, kmeans_iters, id_col, vec_col)
    else:
        from corral_spark.materialize import materialize

        # Checkpoint the ncells-row top-k init so the corpus
        # top-ncells scan runs once, not once per consumer.
        centroids = materialize(
            deterministic_centroids(corpus, ncells, id_col, vec_col),
            eager=True,
        )
    assigned = ivf_assign(corpus, centroids, id_col, vec_col)

    # Which cells does each query probe? ONE broadcast build for the
    # centroid frame: the previous shape
    # broadcast the checkpointed centroids a SECOND time here, and
    # Spark cannot reuse the assignment's exchange — broadcast builds
    # over LogicalRDD (checkpoint) scans never canonicalize as the
    # same subtree (measured on the executed plan: 2 builds, 0
    # ReusedExchange, for BOTH the per-consumer-projection and the
    # shared pre-doubled-frame shapes). So flip THIS cross join:
    # scan the centroid frame and broadcast the query set instead.
    # Row-for-row identical output (cross join is symmetric; the
    # nprobe window is unchanged), and the right posture at scale —
    # ncells grows with the corpus (ncells ~ n/10^4) while the query
    # set is the small side by contract, so the ncells-scaled frame
    # is built into executor memory ONCE, never twice.
    cen = centroids.select(
        "cell_id", _as_double(F.col(vec_col)).alias("__cenv")
    )
    q = F.broadcast(
        _drop_null_vecs(queries, vec_col).select(
            F.col("query_id"), _as_double(F.col(vec_col)).alias("__qv")
        )
    )
    qsim = cosine_sim(F.col("__qv"), F.col("__cenv"))
    wq = Window.partitionBy("query_id").orderBy(F.desc(qsim), F.asc("cell_id"))
    probes = (
        cen.crossJoin(q)
        .withColumn("__rn", F.row_number().over(wq))
        .filter(F.col("__rn") <= nprobe)
        .select("query_id", F.col("cell_id").alias("cell"), "__qv")
    )

    # Score queries only against their probed cells.
    scored = probes.join(assigned, on="cell").filter(
        F.col("query_id") != F.col(id_col)
    )
    sim = cosine_sim(F.col("__qv"), _as_double(F.col(vec_col)))
    if round_sim is not None:
        sim = F.round(sim, round_sim)
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc(id_col))
    return (
        scored.select("query_id", id_col, sim.alias("sim"))
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
    )


# ---------------------------------------------------------------------------
# Product quantization (PQ): the billion-vector compression step.
#
# Split the D-dim space into m_sub subspaces and quantize each
# subvector to one of ksub codebook entries: a vector becomes m_sub
# small integer codes (here 4 codes over 64 dims = 32x smaller than
# float32), and approximate inner products against a query need only
# a per-query lookup table of subspace dot products (ADC —
# asymmetric distance computation). At 100 TB of embeddings this is
# the difference between scanning floats and scanning bytes: the
# corpus is encoded ONCE, queries broadcast their tiny LUTs, and the
# score join moves integer codes, never vectors.
#
# Determinism/oracle contract (the ivf_topk discipline): codebooks
# are the subvectors of the first ksub corpus vectors by id;
# assignments argmax a 6dp-rounded dot (ties to the lowest code); ADC
# terms are integer MICRO-units (round(dot * 1e6) as BIGINT), so
# per-candidate scores are exact integer sums — order-independent,
# rank-stable, and bit-replayable by a SQL oracle.
# ---------------------------------------------------------------------------


def _subvectors(vec_col, m_sub: int, dsub: int):
    """array of m_sub dsub-wide slices of a vector column."""
    v = _as_double(vec_col)
    return F.transform(
        F.sequence(F.lit(0), F.lit(m_sub - 1)),
        lambda m: F.slice(v, m * dsub + 1, dsub),
    )


def pq_codebooks(
    corpus: DataFrame,
    m_sub: int = 4,
    ksub: int = 16,
    dims: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Deterministic PQ codebooks: subspace m's codebook is the m-th
    subvector of the first ``ksub`` corpus vectors by id (code =
    dense rank 0..ksub-1 — the deterministic_centroids discipline,
    reproducible with no RNG and replayable by an oracle). Output:
    (m, code, subvec). Real deployments Lloyd-refine these per
    subspace on a sample; the plumbing is identical."""
    if dims % m_sub != 0:
        raise ValueError("m_sub must divide dims")
    dsub = dims // m_sub
    from pyspark.sql.window import Window

    first = (
        _drop_null_vecs(corpus, vec_col).orderBy(F.asc(id_col))
        .limit(ksub)
        .select(
            (
                F.row_number().over(Window.orderBy(F.asc(id_col))) - 1
            ).alias("code"),
            F.col(vec_col),
        )
    )
    return first.select(
        "code",
        F.posexplode(_subvectors(F.col(vec_col), m_sub, dsub)).alias(
            "m", "subvec"
        ),
    ).select("m", "code", "subvec")


def pq_encode(
    corpus: DataFrame,
    codebooks: DataFrame,
    m_sub: int = 4,
    dims: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Encode every corpus vector as m_sub integer codes: per
    subspace, the code maximizing the 6dp-rounded dot with the
    subvector (ties to the LOWEST code — cross-engine stable).
    Codebooks broadcast; argmax is one partial-aggregating max_by per
    (vector, subspace); no corpus shuffle beyond the code collapse.
    Output: (id_col, codes array<int> ordered by subspace)."""
    dsub = dims // m_sub
    sub = _drop_null_vecs(corpus, vec_col).select(
        F.col(id_col),
        F.posexplode(_subvectors(F.col(vec_col), m_sub, dsub)).alias(
            "m", "__x"
        ),
    )
    scored = sub.join(F.broadcast(codebooks), "m")
    sim = F.round(dot(F.col("__x"), F.col("subvec")), 6)
    best = F.max_by(
        F.col("code"), F.struct(sim.alias("s"), (-F.col("code")).alias("t"))
    )
    per_m = scored.groupBy(id_col, "m").agg(best.alias("code"))
    return per_m.groupBy(id_col).agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("m", "code"))),
            lambda s: s.getField("code"),
        ).alias("codes")
    )


def pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    m_sub: int = 4,
    ksub: int = 16,
    dims: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    qid_col: str = "query_id",
    exclude_self: bool = False,
) -> DataFrame:
    """ADC top-k: approximate inner-product search over the PQ-encoded
    corpus. Each query precomputes its LUT of subspace dot products
    against the codebooks in integer micro-units; candidates score by
    summing m_sub LUT entries matched on (subspace, code) — a
    broadcast equi-join moving only integer codes. Scores are exact
    BIGINT sums (order-independent), ranks break ties by candidate
    id, so the whole readout is bit-replayable. Output: (qid_col,
    id_col, score_micro, rnk <= k)."""
    from pyspark.sql.window import Window

    dsub = dims // m_sub
    cb = pq_codebooks(corpus, m_sub, ksub, dims, id_col, vec_col)
    codes = pq_encode(corpus, cb, m_sub, dims, id_col, vec_col)
    qsub = _drop_null_vecs(queries, vec_col).select(
        F.col(qid_col),
        F.posexplode(_subvectors(F.col(vec_col), m_sub, dsub)).alias(
            "m", "__q"
        ),
    )
    lut = qsub.join(F.broadcast(cb), "m").select(
        qid_col,
        "m",
        "code",
        F.round(dot(F.col("__q"), F.col("subvec")) * 1e6, 0)
        .cast("long")
        .alias("t_micro"),
    )
    cand = codes.select(
        F.col(id_col), F.posexplode("codes").alias("m", "code")
    )
    scored = (
        cand.join(F.broadcast(lut), ["m", "code"])
        .groupBy(qid_col, id_col)
        .agg(F.sum("t_micro").alias("score_micro"))
    )
    if exclude_self:
        # Queries drawn from the corpus itself (the benchmark shape):
        # a vector is trivially its own best match — drop it.
        scored = scored.filter(F.col(id_col) != F.col(qid_col))
    w = Window.partitionBy(qid_col).orderBy(
        F.desc("score_micro"), F.asc(id_col)
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select(qid_col, id_col, "score_micro", "rnk")
    )


def mmr_topk(
    corpus: DataFrame,
    query_vec: list[float],
    k: int = 5,
    lam: float = 0.7,
    exclude_ids: tuple[int, ...] = (),
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_sim: int = 4,
) -> DataFrame:
    """Greedy maximal-marginal-relevance selection (Carbonell &
    Goldstein 1998): pick ``k`` corpus vectors maximizing
    ``lam * sim(query, d) - (1 - lam) * max_{s in selected} sim(d, s)``
    — diversified retrieval, the standard de-redundancy step when
    sampling demonstration/eval sets from an embedded corpus.

    MMR is inherently sequential (round i's penalty depends on rounds
    1..i-1), so the operator is a bounded driver-side control loop —
    the k-means-iteration shape already used by ``kmeans_centroids``
    and ``phrases.learn_phrases``: each round is ONE distributed
    argmax over the candidate projection (TakeOrderedAndProject — no
    full sort, no shuffle beyond the per-partition top-1 reduce) with
    the <= k selected vectors embedded as broadcast literals in the
    scoring expression. Total cost is k linear scans of a 2-column
    projection; the candidate frame is cached across rounds so the
    parquet scan is paid once. No UDFs anywhere — similarity is
    JVM-side ``zip_with``/``aggregate`` expression code.

    Determinism: the query similarity and every pairwise penalty are
    quantized to ``round_sim`` decimals BEFORE the argmax, and the
    combination ``lam*q - (1-lam)*p`` is plain IEEE arithmetic on
    those identical doubles, so an unrolled SQL oracle reproduces the
    selection bit-exactly (ties break to the lowest id).

    Output: one row per selection — (rnk, id, relevance, mmr_score),
    rnk 1..k in pick order. The result is O(k) control rows built on
    the driver; the heavy lifting per round is distributed.
    """
    from pyspark import StorageLevel

    qlit = F.array(*[F.lit(float(x)) for x in query_vec])
    base = _drop_null_vecs(corpus, vec_col)
    if exclude_ids:
        base = base.filter(~F.col(id_col).isin(list(exclude_ids)))
    cand = base.select(
        F.col(id_col).alias("__id"),
        _as_double(F.col(vec_col)).alias("__v"),
        F.round(
            cosine_sim(_as_double(F.col(vec_col)), qlit), round_sim
        ).alias("__qsim"),
    ).persist(StorageLevel.MEMORY_AND_DISK)
    try:
        picked: list[tuple] = []  # (id, vector) in pick order
        rows: list[tuple] = []
        for rnk in range(1, k + 1):
            c = cand
            if picked:
                c = c.filter(~F.col("__id").isin([p[0] for p in picked]))
                pens = [
                    F.round(
                        cosine_sim(
                            F.col("__v"),
                            F.array(*[F.lit(float(x)) for x in vec]),
                        ),
                        round_sim,
                    )
                    for _, vec in picked
                ]
                penalty = pens[0] if len(pens) == 1 else F.greatest(*pens)
            else:
                penalty = F.lit(0.0)
            score = F.lit(lam) * F.col("__qsim") - F.lit(1.0 - lam) * penalty
            top = (
                c.select("__id", "__v", "__qsim", score.alias("__score"))
                .orderBy(F.desc("__score"), F.asc("__id"))
                .limit(1)
                .collect()
            )
            if not top:
                break  # corpus exhausted before k picks
            r = top[0]
            picked.append((r["__id"], list(r["__v"])))
            rows.append((rnk, r["__id"], r["__qsim"], r["__score"]))
        spark = corpus.sparkSession
        out = spark.createDataFrame(
            rows, schema=f"rnk int, {id_col} long, relevance double, __raw double"
        )
        return out.select(
            "rnk",
            id_col,
            "relevance",
            F.round(F.col("__raw"), round_sim).alias("mmr_score"),
        ).orderBy("rnk")
    finally:
        cand.unpersist(False)
