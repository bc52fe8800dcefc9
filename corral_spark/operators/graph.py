"""Graph utilities for dedup cluster resolution.

Near-dup pair lists (MinHash/SimHash/Jaccard/embedding LSH) become
dedup GROUPS via connected components: every document in a component
keeps one canonical representative. This is the standard last step of
large-scale fuzzy dedup (SURVEY §2.4).

Algorithm: two paths behind one conf-tunable edge-count threshold.
Below it (near-dup graphs are tiny relative to the corpus) the
components run as ONE Arrow-batched collect + driver union-find.
Above it, the distributed path runs alternating large-star /
small-star rounds (Kiveris et al. 2014): each round is a constant
number of equi-join/groupBy shuffles and converges in O(log^2 n)
rounds REGARDLESS of graph diameter — one-hop min-label propagation
(the earlier implementation) needs O(diameter) rounds and silently
mislabels chains longer than max_iter; non-fixpoint exit now raises.
Per-round lineage is truncated with iter_barrier
(corral_spark.materialize; cache -> count -> checkpoint -> unpersist)
so plans don't grow and checkpoint stats stay ACTUAL — estimated
stats compound through iterated self-joins into a Catalyst
BigInteger overflow.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from corral_spark.materialize import iter_barrier, materialize


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 25,
    collect_threshold: int = 2_000_000,
) -> DataFrame:
    """Label each node with the minimum node id reachable from it.

    ``edges`` is undirected input (one row per pair, either order).
    Returns (node, component) where component = min node id in the
    connected component. Deterministic.

    Near-dup graphs are tiny relative to the corpus (LSH pairs, not
    all rows), so below ``collect_threshold`` edges the component
    computation runs as driver-side union-find — one collect instead
    of many distributed iterations (measured: 14s -> ~2s on the
    capstone pipeline). Larger graphs take the distributed two-phase
    (large-star/small-star) path below — O(log^2 n) rounds regardless
    of graph diameter; duplication chains in web-scale near-dup
    graphs routinely exceed ``max_iter`` HOPS, which silently broke
    the earlier one-hop label-propagation loop, and a non-fixpoint
    exit now raises instead of mislabeling.
    """
    spark = edges.sparkSession
    # Tunable without code changes (driver-memory dependent bound).
    conf_thresh = spark.conf.get("corral.cc.collectThreshold", None)
    if conf_thresh is not None:
        collect_threshold = int(conf_thresh)
    # The edge list is consumed 2-3 times below (count + either the
    # driver iterator or the sym-union build). Callers' edge lineage is
    # typically the expensive part of a dedup pipeline (MinHash/Jaccard
    # candidate generation), so truncate it once up front instead of
    # recomputing per consumer (measured: capstone pretrain pipeline
    # ~12s -> ~8s at sf0.1 warm).
    # Lazy barrier: the count() below is the first action and
    # materializes the checkpoint as a side effect — an eager
    # materialize would pay one extra job for the same result.
    edges = materialize(edges, eager=False)
    n_edges = edges.count()
    if n_edges == 0:
        # A clean corpus (no near-dup pairs) is a valid input: empty
        # (node, component) frame with the edge column's type — a
        # schema-less createDataFrame([]) would raise.
        return edges.select(
            F.col(src).alias("node"), F.col(src).alias("component")
        ).limit(0)
    if n_edges <= collect_threshold:
        parent: dict = {}

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        def union(a, b):
            ra, rb = find(a), find(b)
            if ra != rb:
                # Union by min id keeps the min-root invariant simple.
                if rb < ra:
                    ra, rb = rb, ra
                parent[rb] = ra

        # ONE Arrow-batched job, not toLocalIterator: the iterator runs
        # one sequential job per partition (32 scheduling round-trips
        # for a tiny frame — measured ~4s of pure latency at sf0.1),
        # and Arrow columns are ~50x smaller than pickled Rows
        # (2M edges of 2 int64s = 32 MB, fine under the threshold).
        pdf = edges.select(src, dst).toPandas()
        for a, b in zip(pdf[src].tolist(), pdf[dst].tolist()):
            parent.setdefault(a, a)
            parent.setdefault(b, b)
            union(a, b)
        # Two passes: path-compress, then min-root per component.
        roots = {x: find(x) for x in parent}
        comp_min: dict = {}
        for x, r in roots.items():
            comp_min[r] = min(comp_min.get(r, x), x)
        rows = [(x, comp_min[roots[x]]) for x in sorted(roots)]
        return spark.createDataFrame(rows, ["node", "component"])

    # Distributed path: alternating large-star / small-star (Kiveris
    # et al. 2014, "Connected Components in MapReduce and Beyond") —
    # each round is a constant number of shuffles and the edge set
    # converges to a star per component in O(log^2 n) rounds (~10
    # measured on 3000-node adversarially-shuffled path graphs,
    # ~5 on random graphs). The earlier loop was one-hop min-label
    # propagation, which needs O(diameter) rounds: a duplication
    # CHAIN longer than max_iter — entirely plausible in the 2M+-edge
    # near-dup graphs that are the only inputs reaching this path —
    # exhausted the loop and returned silently-wrong labels (found by
    # the fuzz campaign's shuffled-chain graphs, where hop-only
    # and hop+pointer-chase variants both ran 60+ rounds without
    # converging while two-phase took 10). Every per-round frame goes
    # through iter_barrier, not materialize: checkpoint stats
    # inheritance compounds through iterated self-joins into a
    # Catalyst stats overflow (see iter_barrier's docstring).
    nodes = iter_barrier(
        edges.select(
            F.explode(F.array(F.col(src), F.col(dst))).alias("node")
        ).distinct()
    )
    # with_count reuses the count job the barrier already pays to
    # materialize its cache — no second count job per round.
    E, n_e = iter_barrier(
        edges.filter(F.col(src) != F.col(dst))
        .select(
            F.greatest(F.col(src), F.col(dst)).alias("hi"),
            F.least(F.col(src), F.col(dst)).alias("lo"),
        )
        .distinct(),
        with_count=True,
    )
    for _ in range(max_iter):
        if n_e == 0:
            break  # already a (possibly empty) set of isolated nodes
        # large-star: every node u connects its STRICTLY LARGER
        # neighbors to m = min(N(u) + {u}). Centers need the full
        # adjacency, so explode both orientations.
        adj = E.select(
            F.col("hi").alias("c"), F.col("lo").alias("n")
        ).union(E.select(F.col("lo").alias("c"), F.col("hi").alias("n")))
        lmin = adj.groupBy("c").agg(
            F.least(F.min("n"), F.first("c")).alias("m")
        )
        e1 = iter_barrier(
            adj.filter(F.col("n") > F.col("c"))
            .join(lmin, "c")
            # n > c >= m, so (n, m) is already canonical hi/lo.
            .select(F.col("n").alias("hi"), F.col("m").alias("lo"))
            .distinct()
        )
        # small-star: every node u connects its smaller-or-equal
        # neighbors AND ITSELF to m = min of its smaller neighbors.
        # The canonical (hi, lo) orientation IS the smaller-neighbor
        # adjacency, no explode needed.
        smin = e1.groupBy("hi").agg(F.min("lo").alias("m"))
        e2, n_e2 = iter_barrier(
            e1.join(smin, "hi")
            .filter(F.col("lo") != F.col("m"))
            # lo > m within the group (m is the group min), canonical.
            .select(F.col("lo").alias("hi"), F.col("m").alias("lo"))
            .union(smin.select(F.col("hi"), F.col("m").alias("lo")))
            .distinct(),
            with_count=True,
        )
        converged = (
            n_e2 == n_e
            and e2.join(E, ["hi", "lo"], "left_anti").count() == 0
        )
        E, n_e = e2, n_e2
        if converged:
            break
    else:
        # Exhausting max_iter without a fixpoint would silently
        # mislabel components. Two-phase converges in O(log^2 n)
        # rounds, so reaching this guard indicates something
        # structurally wrong (or a truly astronomical graph), not a
        # tuning issue.
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} "
            "two-phase rounds; raise max_iter or lower "
            "collect_threshold to use the exact driver-side union-find"
        )
    # Converged E is one star per component: (member, min). Nodes
    # absent from E (isolated via self-loops or filtered duplicates)
    # label themselves.
    return nodes.join(E, nodes.node == E.hi, "left").select(
        "node", F.coalesce(F.col("lo"), F.col("node")).alias("component")
    )


def dedup_clusters(
    df: DataFrame, pair_df: DataFrame, id_col: str, id_a: str = "id_a", id_b: str = "id_b"
) -> DataFrame:
    """Assign every row of ``df`` a dedup cluster representative:
    min id of its connected component in ``pair_df``; rows without
    near-dup edges represent themselves. Output: (id_col, cluster_rep,
    is_rep)."""
    comp = connected_components(pair_df, id_a, id_b)
    return (
        df.select(F.col(id_col))
        .join(comp, df[id_col] == comp.node, "left")
        .select(
            id_col,
            F.coalesce(F.col("component"), F.col(id_col)).alias("cluster_rep"),
        )
        .withColumn("is_rep", (F.col(id_col) == F.col("cluster_rep")).cast("boolean"))
    )


def dedup_keep_best(
    df: DataFrame,
    pair_df: DataFrame,
    id_col: str,
    score_col: str,
    id_a: str = "id_a",
    id_b: str = "id_b",
) -> DataFrame:
    """Quality-aware near-dup survivor selection: within each connected
    component of ``pair_df``, keep the single row with the HIGHEST
    ``score_col`` (ties broken by smallest id — deterministic); rows
    with no near-dup edge keep themselves.

    The min-id winner of ``dedup_clusters`` is reproducible but
    arbitrary; production corpus prep (RefinedWeb-style) keeps the
    best copy of a duplicate cluster — the longest or
    highest-quality-scored document — so content survives dedup at its
    best available version. Any scoring column works (n_chars for
    keep-longest, quality.quality_logistic_score for model-based).

    Scale shape: the component map is bounded by the docs that appear
    in pairs (a small fraction of the corpus), the join back to ``df``
    is on the id key, and the winner is one row_number window
    partitioned by component — no shuffle of doc payloads beyond the
    score column. Deterministic given deterministic pairs, so a DuckDB
    oracle replays it exactly (driver row dedup_keep_longest_docs).
    """
    comp = connected_components(pair_df, id_a, id_b)
    withc = (
        df.join(comp, df[id_col] == comp.node, "left")
        .drop("node")
        .withColumn(
            "__comp", F.coalesce(F.col("component"), F.col(id_col))
        )
        .drop("component")
    )
    w = Window.partitionBy("__comp").orderBy(
        F.col(score_col).desc(), F.col(id_col).asc()
    )
    return (
        withc.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn", "__comp")
    )


def bfs_hops(
    edges: DataFrame,
    seeds: DataFrame,
    src: str = "src",
    dst: str = "dst",
    seed_col: str = "node",
    max_hops: int = 3,
) -> DataFrame:
    """Multi-source breadth-first search: minimum hop distance from
    the ``seeds`` node set over the undirected ``edges``, bounded at
    ``max_hops``. Returns (node, hops) for every reachable node
    (seeds included at 0); unreachable nodes are absent.

    This is the Pregel iteration shape that connected_components
    shares, but distance-valued and seeded — the building block for
    "everything within k links of X" questions (contamination blast
    radius through near-dup links, related-item expansion through
    co-occurrence graphs). Each iteration joins ONLY the previous
    frontier (nodes first reached last hop) against the symmetrized
    edge list — an equi-join on node id plus a min-aggregation, never
    the whole distance table — then folds new nodes in with a
    union + min. Lineage is truncated per iteration with a
    materialize() barrier, and the loop exits as soon as a frontier
    comes back empty, so cost is O(edges touched per hop) for
    diameter-many bounded iterations. Integer hop labels over
    deterministic joins: a DuckDB recursive CTE replays the result
    exactly.
    """
    # Barrier choice per frame (measured at sf0.1: every iter_barrier
    # adds one count job per hop, so it goes only where it buys a
    # structural win): the FRONTIER gets iter_barrier — its accurate
    # stats let Catalyst BROADCAST a small frontier against the edge
    # table instead of sort-merge-shuffling sym every hop (with
    # checkpoint-estimate stats every frame looks infinite). sym and
    # the dist union chain keep plain materialize: their estimates
    # grow only linearly (no self-join squaring — see
    # materialize.iter_barrier), sym is never the broadcast side, and
    # the dist anti-join's strategy doesn't change with stats.
    # Canonicalize-then-mirror: dedup ONE canonical (min, max)
    # row per undirected edge, checkpoint it, and mirror the
    # checkpoint. The previous shape unioned both directions FIRST
    # and deduplicated the doubled table — twice the rows through the
    # distinct's exchange, and the un-checkpointed input subtree
    # appeared once per union half. The mirrored halves are disjoint
    # by construction (u < v vs u > v; the self-loop guard keeps
    # (u, u) out of the second half), so no second distinct is
    # needed and the symmetrized row SET is identical.
    und = materialize(
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("u"),
            F.greatest(F.col(src), F.col(dst)).alias("v"),
        ).distinct(),
        eager=True,
    )
    sym = und.union(
        und.filter(F.col("u") != F.col("v")).select(
            F.col("v").alias("u"), F.col("u").alias("v")
        )
    )
    dist = seeds.select(
        F.col(seed_col).alias("node"), F.lit(0).alias("hops")
    ).distinct()
    dist = materialize(dist, eager=True)
    frontier = iter_barrier(dist)
    for hop in range(1, max_hops + 1):
        reached = (
            sym.join(frontier, sym.u == frontier.node)
            .select(F.col("v").alias("node"), F.lit(hop).alias("hops"))
            .distinct()
        )
        # New frontier: nodes not already reached at a smaller hop.
        # ``reached`` is already distinct and the anti-join only
        # removes rows, so no re-distinct is needed (was a
        # redundant exchange per hop).
        frontier = reached.join(dist.select("node"), "node", "left_anti")
        # with_count folds the loop-exit emptiness check into the
        # count job the barrier already pays (was a separate
        # isEmpty job per hop).
        frontier, n_frontier = iter_barrier(frontier, with_count=True)
        if n_frontier == 0:
            break
        # Lazy union of ALREADY-CHECKPOINTED frames: each hop's
        # frontier is its own barrier, so re-materializing the whole
        # accumulated distance table every hop (one count job +
        # one O(|dist|) checkpoint write per hop) bought nothing —
        # the union's leaves never recompute and its depth is bounded
        # by max_hops.
        dist = dist.unionByName(frontier)
    return dist


def triangle_counts(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """Per-node triangle participation counts — the clustering /
    community-density primitive that rounds out the graph family
    (components = connectivity, BFS = reach, triangles = cohesion).

    Algorithm: DEGREE-ORDERED orientation (the standard distributed
    trick): every edge points from its (degree, id)-smaller endpoint
    to the larger, wedges are enumerated only at each triangle's
    smallest vertex, and the closing edge is probed with one more
    equi-join. Wedge volume is then O(m^1.5) worst-case instead of
    sum(degree^2) — a hub with a million neighbors contributes no
    wedges at all (its edges all point INTO it), which is the
    difference between a plan that survives a social-graph skew and
    one that explodes. The RESULT is orientation-independent, so the
    oracle replays the plain id-ordered triple join.

    Input may list edges in any orientation, with duplicates;
    self-loops are dropped. Output: (node, n_triangles) for nodes in
    at least one triangle."""
    e0 = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("u"),
            F.greatest(F.col(src), F.col(dst)).alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )
    e0 = materialize(e0, eager=True)
    deg = (
        e0.select(F.col("u").alias("node"))
        .union(e0.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    du = deg.select(F.col("node").alias("u"), F.col("deg").alias("du"))
    dv = deg.select(F.col("node").alias("v"), F.col("deg").alias("dv"))
    keyed = e0.join(du, "u").join(dv, "v")
    u_first = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    oriented = keyed.select(
        F.when(u_first, F.col("u")).otherwise(F.col("v")).alias("a"),
        F.when(u_first, F.col("v")).otherwise(F.col("u")).alias("b"),
        F.when(u_first, F.col("dv")).otherwise(F.col("du")).alias("db"),
    )
    oriented = materialize(oriented, eager=True)
    o1 = oriented.select("a", F.col("b").alias("w1"), F.col("db").alias("d1"))
    o2 = oriented.select("a", F.col("b").alias("w2"), F.col("db").alias("d2"))
    wedges = o1.join(o2, "a").filter(
        (F.col("d1") < F.col("d2"))
        | ((F.col("d1") == F.col("d2")) & (F.col("w1") < F.col("w2")))
    )
    closing = oriented.select(
        F.col("a").alias("w1"), F.col("b").alias("w2")
    )
    tri = wedges.join(closing, ["w1", "w2"]).select(
        F.col("a"), F.col("w1").alias("b"), F.col("w2").alias("c")
    )
    return (
        tri.select(
            F.explode(F.array(F.col("a"), F.col("b"), F.col("c"))).alias(
                "node"
            )
        )
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )


def pagerank_fixed_point(
    edges: DataFrame,
    iters: int = 3,
    scale: int = 10**12,
    damp_num: int = 85,
    damp_den: int = 100,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """PageRank over an UNDIRECTED edge list in FIXED-POINT integer
    arithmetic: ranks are BIGINTs scaled by ``scale`` and every step —
    contribution split (rank DIV out-degree), damping
    (damp_num * sum DIV damp_den), teleport — is integer division and
    exact BIGINT addition. Why fixed point instead of doubles: a
    float PageRank's per-node sums accumulate in partition order, so
    two runs of the same job (or Spark vs an oracle) disagree in the
    last ulps and no rounding decimal-place is safe at every
    boundary; integer folds are associative/commutative, making the
    result BIT-exact, order-independent, and replayable by any SQL
    engine with integer division — the property every other exact
    operator in this engine leans on. The cost is deterministic
    floor-rounding drift of < iters * n_nodes / scale total mass —
    at scale=1e12 that is ~1e-9 relative, far below ranking
    resolution.

    Iteration shape (the Pregel pattern, like bfs_hops): each of the
    ``iters`` rounds is one equi-join of the rank vector onto the
    edge list plus one partial-aggregated groupBy on dst — the rank
    vector (n_nodes rows) is materialized per round so the plan depth
    stays O(1) per iteration instead of compounding. Every node in
    the edge list has out-degree >= 1 (undirected edges are emitted
    both ways), so no dangling-mass term is needed. At 100 TB scale
    the join partitions by node id; a hub's incoming contributions
    are partial-aggregated map-side before the shuffle.

    Output: (node, pr_e12) with pr_e12 the scaled BIGINT rank after
    ``iters`` rounds from a uniform start (scale DIV n per node).
    """
    # Canonicalize-then-mirror (the bfs_hops shape): dedup ONE
    # canonical (least, greatest) row per undirected edge, checkpoint
    # it, and mirror the checkpoint — half the rows through the
    # distinct's exchange, one subtree compute, and the stored
    # barrier holds |E| rows instead of 2|E|. The halves are disjoint
    # (self-loops guarded), so the symmetrized SET is identical.
    # Plain materialize throughout: PageRank's rank<->edges join is
    # large-vs-large at every scale (no broadcast to unlock), and its
    # linear iteration chain cannot compound estimates into the
    # overflow (see materialize.iter_barrier) — the accurate-stats
    # barrier would add one count job per round for zero structural
    # gain, so only operators that NEED it (self-join loops, or a
    # broadcastable small side like the BFS frontier) pay it.
    und = materialize(
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("u"),
            F.greatest(F.col(src), F.col(dst)).alias("v"),
        ).distinct(),
        eager=True,
    )
    both = und.union(
        und.filter(F.col("u") != F.col("v")).select(
            F.col("v").alias("u"), F.col("u").alias("v")
        )
    )
    deg = both.groupBy("u").agg(F.count(F.lit(1)).alias("outdeg"))
    deg = materialize(deg, eager=True)
    n = deg.count()
    if n == 0:
        return edges.sparkSession.createDataFrame([], "node long, pr_e12 long")
    init = F.lit(int(scale) // n).cast("long")
    teleport = F.lit((int(scale) // n) * (damp_den - damp_num) // damp_den)
    ranks = deg.select(F.col("u").alias("node"), init.alias("pr"))
    for _ in range(iters):
        contribs = (
            both.join(
                ranks.join(deg, ranks["node"] == deg["u"]).select(
                    F.col("node").alias("cu"),
                    F.expr("pr div outdeg").alias("contrib"),
                ),
                both["u"] == F.col("cu"),
            )
            .groupBy("v")
            .agg(F.sum("contrib").alias("s"))
        )
        # Plain materialize, NOT iter_barrier (ablation, calm
        # epoch, min-of-3 sf0.1: 2.91s vs 3.93s): unlike the BFS
        # frontier, ranks is one row PER NODE — at 100x node counts
        # it is never the broadcastable side of the contribution
        # join (both sides scale with the graph, sort-merge is the
        # right strategy at every size), so the accurate-stats count
        # job per round buys nothing structural.
        ranks = materialize(
            contribs.select(
                F.col("v").alias("node"),
                (
                    teleport
                    + F.expr(f"{damp_num} * s div {damp_den}").cast("long")
                ).alias("pr"),
            ),
            eager=True,
        )
    return ranks.select("node", F.col("pr").alias("pr_e12"))
