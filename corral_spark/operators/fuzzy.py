"""Fuzzy (edit-distance) joins via symmetric-delete blocking.

All-pairs Levenshtein is O(n^2) string comparisons — a cross join that
no cluster survives at corpus scale. The symmetric-delete scheme
(publicly known from the SymSpell spell-checker) blocks provably
completely for distance <= 1: if lev(a, b) <= 1 then the deletion
neighborhoods D(a) ∪ {a} and D(b) ∪ {b} intersect, where D(x) is the
set of strings obtained by deleting exactly one character of x —
  * substitution at position i: both share a[..i)+a[i+1..] = deletion
    of position i on each side;
  * insertion/deletion: the shorter string IS a member of the longer
    string's deletion neighborhood;
  * equality: x intersects trivially.
So exploding each row into len+1 variant keys and equi-joining on the
variant yields a candidate superset, refined by one exact levenshtein
per candidate. Cost: O(n x avg_len) index rows + candidates — linear,
shuffle on variant key, no cross join anywhere.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from corral_spark.materialize import materialize


def _deletion_variants(col: Column) -> Column:
    """Array of the string itself plus every one-character deletion."""
    n = F.length(col)
    deletions = F.transform(
        F.sequence(F.lit(1), n),
        lambda i: F.concat(
            col.substr(F.lit(1), i - 1),
            col.substr(i + 1, n),
        ),
    )
    return F.array_union(F.array(col), deletions)


def _deletion_neighborhood(col: Column, depth: int) -> Column:
    """All strings reachable from ``col`` by deleting 0..depth chars.

    Depth d is the deletion closure D^d(x) ∪ ... ∪ D^0(x); computed by
    applying the one-deletion expansion d times and deduplicating —
    pure column expressions, JVM-side, no UDF. Neighborhood size is
    O(len^d / d!), so keep depth small (SymSpell's published guidance:
    2 is the practical ceiling; 3 only for short dictionary terms).
    """
    out = _deletion_variants(col)
    for _ in range(depth - 1):
        out = F.array_distinct(
            F.flatten(F.transform(out, lambda v: _deletion_variants(v)))
        )
    return out


def fuzzy_join_lev1(
    df: DataFrame,
    text_col: str,
    id_col: str,
    max_block: int | None = None,
    cap_per_block: int | None = None,
) -> DataFrame:
    """All pairs of rows whose ``text_col`` values are within
    Levenshtein distance 1 (including exact equals), id_a < id_b.

    Two boilerplate-ceiling guards for degenerate corpora (millions of
    near-identical strings), both trading completeness on hot keys for
    bounded fan-out:

    * ``max_block`` drops variant keys shared by more than that many
      rows entirely — cheap (one aggregate), but all-or-nothing.
    * ``cap_per_block`` instead keeps the ``cap_per_block`` rows with
      the SMALLEST (id, text) on each variant key (row_number over the
      key; text is the tiebreaker so duplicate ids — which the generic
      signature permits — still rank deterministically).  The kept set
      depends only on the data, not on partitioning, so the capped
      output is exactly reproducible by an oracle that applies the
      same rank-and-cap rule.  Fan-out per key is bounded at cap^2
      candidate pairs.  The window shuffles on ``__v``, the same key
      the join shuffles on, so AQE reuses the exchange rather than
      adding one.

    Output: (id_a, id_b, text_a, text_b, lev).
    """
    return fuzzy_join(
        df, text_col, id_col, max_dist=1,
        max_block=max_block, cap_per_block=cap_per_block,
    )


def fuzzy_join(
    df: DataFrame,
    text_col: str,
    id_col: str,
    max_dist: int = 1,
    max_block: int | None = None,
    cap_per_block: int | None = None,
) -> DataFrame:
    """All pairs within Levenshtein distance ``max_dist`` (id_a < id_b).

    Generalized symmetric-delete blocking: explode each row into its
    deletion neighborhood of depth ``max_dist`` and equi-join on the
    variant. Completeness for lev(a, b) <= d: every optimal alignment
    decomposes the differences into substitutions (delete the aligned
    position on BOTH sides), insertions (delete the inserted char on
    the longer side), and deletions (delete on the other side) — at
    most d deletions per side total, so the depth-d neighborhoods
    share the common reduced string. Candidates are refined by one
    exact ``levenshtein`` per pair, so precision is exact.

    Cost grows as O(n * len^d / d!) index rows — linear in n always,
    but depth 2 on long strings multiplies the explode by ~len/2; use
    it on short keys (names, titles), not document bodies. The
    ``max_block`` / ``cap_per_block`` guards mean hot variant keys
    stay bounded exactly as in the distance-1 case.
    """
    return _fuzzy_stages(
        df, text_col, id_col, max_dist, max_block, cap_per_block
    )[2]


def _fuzzy_stages(
    df: DataFrame,
    text_col: str,
    id_col: str,
    max_dist: int,
    max_block: int | None,
    cap_per_block: int | None,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """``fuzzy_join`` returning its stage frames ``(raw, cands, out)``:
    the variant-key join products before the pair dedup, the distinct
    candidate pairs, and the verified output. The operator and its
    funnel canary ``fuzzy_candidate_counts`` both build through here,
    so the canary counts the frames the operator runs."""
    from corral_spark.operators.dedup import spread_input

    slim = df.select(
        F.col(id_col).alias("id"), F.col(text_col).alias("txt")
    )
    # The neighborhood explode multiplies each row ~len^d / d!-fold
    # (len+1 variants at depth 1, +len*(len-1)/2 at depth 2), so a
    # small single-row-group scan would serialize minutes of variant
    # generation on one core. spread_input's byte gate sees the SCAN
    # size; pass the explode's multiplier (cost model: short join
    # keys, len ~ 16 — the operator's documented domain) so the gate
    # reflects post-explode volume. At scale the partition-count gate
    # no-ops this entirely.
    _fact = 1
    for _i in range(2, max_dist + 1):
        _fact *= _i
    ex = spread_input(slim, expansion=16.0**max_dist / _fact).select(
        "id",
        "txt",
        F.explode(_deletion_neighborhood(F.col("txt"), max_dist)).alias("__v"),
    )
    if max_block is not None:
        keep = (
            ex.groupBy("__v")
            .agg(F.count(F.lit(1)).alias("c"))
            .filter(F.col("c") <= max_block)
            .select("__v")
        )
        ex = ex.join(keep, on="__v")
    if cap_per_block is not None:
        from pyspark.sql import Window

        rn = F.row_number().over(
            Window.partitionBy("__v").orderBy("id", "txt")
        )
        ex = (
            ex.withColumn("__rn", rn)
            .filter(F.col("__rn") <= cap_per_block)
            .drop("__rn")
        )
    # The variant join and the pair dedup move ONLY ids: on a
    # template-heavy corpus the raw candidate volume is tens of
    # millions of rows (hot variant keys), and carrying both texts
    # through that shuffle multiplies its byte volume severalfold for
    # nothing — the texts are re-attached from the (distinct) input
    # AFTER the pair set is deduplicated, one row per surviving pair.
    # Requires id_col to uniquely identify rows (with duplicate ids
    # the text choice per pair was already nondeterministic).
    #
    # Two measured fixes on the self-join itself (sf0.1 customer
    # lev<=2: join+dedup 32.4s -> 4.9s, ablated separately):
    # * SHUFFLE-HASH, never sort-merge. SMJ is pathological under
    #   hot variant keys (zero-run deletions collide): each
    #   duplicate-key group is buffered and re-scanned quadratically
    #   inside the merge while producing the 63M-row key product —
    #   6.3x slower than hash-probing the same product (32.4s vs
    #   5.1s, string keys). Build-side memory = |index| / shuffle
    #   partitions per task — size partitions up at scale, AND lower
    #   spark.sql.adaptive.advisoryPartitionSizeInBytes with them:
    #   AQE coalescing re-merges the exchange to ~advisory-sized
    #   partitions and each SHJ build must hold one WHOLE coalesced
    #   partition (measured at a 97M-row depth-2 index: 256
    #   partitions coalesced back to 43 and the build died with
    #   "Can't acquire 64MB"; 16m advisory ran clean — SCALE.md).
    #   The max_block / cap_per_block guards already
    #   bound the worst per-key product.
    # * Join on xxhash64(variant), not the variant STRING: the 8-byte
    #   key halves the shuffle bytes of the widest exchange in the
    #   plan. On the EXACT path a hash collision can only ADD a
    #   candidate pair, and every candidate is verified by exact
    #   levenshtein — the output is collision-proof by construction.
    #   The guarded paths (max_block / cap_per_block) keep the string
    #   key: there the candidate set IS the output contract ("pairs
    #   sharing a SURVIVING variant key"), so a collision could
    #   resurrect a capped-away qualifying pair — not a superset
    #   situation verification can repair.
    exact_path = max_block is None and cap_per_block is None
    key = F.xxhash64("__v").alias("__k") if exact_path else F.col("__v").alias("__k")
    # Both self-join sides consume the variant index; checkpoint it so
    # the O(len^d) explode (and any block guards) run ONCE, not once
    # per side. Only (id, key) is kept — the variant string itself
    # never crosses the self-join on the exact path, so drop it
    # before the barrier rather than carrying ~2x the bytes.
    ex = materialize(ex.select("id", key), eager=True)
    a = ex.select(F.col("id").alias("id_a"), "__k")
    b = ex.select(F.col("id").alias("id_b"), "__k")
    raw = (
        a.join(b.hint("shuffle_hash"), on="__k")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
    )
    cands = raw.dropDuplicates(["id_a", "id_b"])
    texts = slim.dropDuplicates(["id"])
    ta = texts.select(
        F.col("id").alias("id_a"), F.col("txt").alias("text_a")
    )
    tb = texts.select(
        F.col("id").alias("id_b"), F.col("txt").alias("text_b")
    )
    # Banded verification: levenshtein with the threshold argument
    # runs the O(len * d) early-exit DP and returns -1 past the
    # band, instead of the full O(len^2) matrix — the returned value
    # for every SURVIVING pair is the exact distance (measured 2.1x
    # on the verify stage).
    lev = F.levenshtein("text_a", "text_b", max_dist)
    out = (
        cands.join(ta, "id_a")
        .join(tb, "id_b")
        .select("id_a", "id_b", "text_a", "text_b", lev.alias("lev"))
        .filter(F.col("lev") >= 0)
    )
    return raw, cands, out


def fuzzy_counts(
    df: DataFrame,
    text_col: str,
    id_col: str,
    max_dist: int = 1,
) -> dict[str, int]:
    """Scaling diagnostic: the two volume drivers
    of the exact fuzzy join, as noise-free linearity evidence in the
    style of ``dedup.minhash_pair_counts``. On the marker-perturbed
    ``customer_fuzzy`` corpus (tools/scale_data.py) cross-replica
    pairs are impossible by construction, so at R disjoint replicas a
    linear engine must read EXACTLY R x both counters:

    * ``variant_rows`` — the deletion-neighborhood index size (the
      widest exchange in the plan; per-row neighborhood size depends
      only on the string, so replicas contribute identically);
    * ``pairs`` — the verified lev <= max_dist output (the
      blocking-completeness contract of ``fuzzy_join``: a superlinear
      ratio here means candidates leaked across blocks; a sublinear
      one means blocking dropped qualifying pairs).
    """
    variant_rows = fuzzy_counts_variant_rows(df, text_col, max_dist)
    pairs = fuzzy_join(df, text_col, id_col, max_dist=max_dist).count()
    return {"variant_rows": int(variant_rows), "pairs": int(pairs)}


def fuzzy_candidate_counts(
    df: DataFrame,
    text_col: str,
    id_col: str,
    max_dist: int = 1,
) -> dict[str, int]:
    """Extended linearity diagnostic: the FULL candidate funnel of the
    exact fuzzy join, counted off the very frames the operator builds
    (``_fuzzy_stages`` — no reimplementation that could drift):

    * ``variant_rows`` — deletion-neighborhood index size;
    * ``raw_pairs`` — variant-key join products before the pair dedup
      (the widest stream in the plan);
    * ``distinct_candidates`` — the deduplicated candidate pair set
      (what verification actually pays for);
    * ``verified_pairs`` — the lev <= max_dist output.

    On R disjoint marker-perturbed replicas every counter must read
    EXACTLY R x its base value — cross-replica candidates are
    impossible by construction (tools/scale_data.py).
    """
    raw, cands, out = _fuzzy_stages(df, text_col, id_col, max_dist, None, None)
    return {
        "variant_rows": fuzzy_counts_variant_rows(df, text_col, max_dist),
        "raw_pairs": raw.count(),
        "distinct_candidates": cands.count(),
        "verified_pairs": out.count(),
    }


def fuzzy_counts_variant_rows(
    df: DataFrame, text_col: str, max_dist: int
) -> int:
    """Shared variant-index-size counter (one definition for
    fuzzy_counts and fuzzy_candidate_counts)."""
    txt = F.col(text_col)
    total = (
        df.select(
            F.size(_deletion_neighborhood(txt, max_dist)).alias("nv")
        )
        # SUM over zero rows is NULL, not 0 — coalesce so an empty
        # input reports 0 instead of raising on int(None).
        .agg(F.coalesce(F.sum("nv"), F.lit(0)).alias("s"))
        .collect()[0]["s"]
    )
    return int(total)
