"""Deduplication operators for large-scale text corpora.

North-star extension (SURVEY §2.4); no reference analog — the
reference's closest primitive is groupByKey (reference job.go:104-153),
which exact dedup composes.

Scale design notes (100 TB posture):

* Exact dedup is ONE shuffle on the dedup key (hash of the content,
  not the content itself, so the shuffle carries 8-byte keys).
* MinHash/LSH near-dup never compares all pairs: shingle -> k seeded
  min-hashes -> band keys -> candidates are rows sharing a band key
  (one shuffle per self-join side on an 8-byte band key). Verification
  runs only on candidates.
* SimHash pairs uses the pigeonhole banding trick: hamming(a,b) <= 3
  implies one of 4 16-bit bands is identical, so candidates come from
  4 equi-joins on short keys, never a cross join.
* Everything is built-in expressions (xxhash64, explode, groupBy) —
  no Python in the hot path.
"""

from __future__ import annotations

import re
from functools import reduce

import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    ByteType,
    IntegerType,
    LongType,
    ShortType,
    StringType,
)
from pyspark.sql.window import Window

from corral_spark.functions.metrics import stage_counts
from corral_spark.functions.text import (
    _NON_ALNUM as _NON_ALNUM_RE,
    split_words,
    tokenize,
)
from corral_spark.materialize import materialize


#: Document-frequency cap for the short-doc exact inverted index: a
#: shingle contained in more than this many SHORT documents never
#: becomes an index key (see _short_cands for the completeness
#: argument). 64 bounds any one shingle's join fan-out at 64x64 pairs
#: while leaving typical short-corpus shingles (df 1-3) untouched.
SHORT_DF_MAX = 64


#: spread_input's per-task byte floor (conf `spark.corral.spread.
#: minBytesPerTask`): below it a 1-task stage finishes faster than the
#: repartition exchange costs (measured at sf0.1: +0.3-0.5s of pure
#: exchange overhead on a 255 KB input vs -50% wall on a 2.6 MB one).
SPREAD_MIN_BYTES_PER_TASK = 1 * 1024 * 1024


def spread_input(df: DataFrame, expansion: float = 1.0) -> DataFrame:
    """Re-spread ``df`` across the cluster when its source scan
    under-parallelizes, before an expensive per-row stage (the Arrow
    shingle UDF, regex normalization, window explodes).

    A small or single-row-group parquet file yields a 1-task scan
    (splits cannot cross row-group boundaries), which serializes every
    downstream narrow stage on one core — the guide §2.5 "unsplittable
    input" case. The fix is conditional and SCALE-ADAPTIVE on two
    axes, so no constant is tuned to either local mode or the cluster:

    * only when the scan's partition count is below the cluster's
      default parallelism (at 100 TB a scan has thousands of splits —
      permanent no-op; no extra corpus shuffle is ever paid at scale);
    * only when the plan's estimated bytes per existing task exceed
      ``spark.corral.spread.minBytesPerTask`` (default 1 MB): under
      it, a single task finishes faster than the repartition exchange
      costs (measured both directions at sf0.1 vs the 10x corpus).

    The inserted round-robin repartition is deterministic
    (sort-before-repartition, SPARK-23207) and both probes are plan
    metadata, not jobs.

    ``expansion`` scales the byte estimate for callers whose
    downstream per-row stage MULTIPLIES the input (a row-explode such
    as the SymSpell deletion neighborhood, which turns one short key
    into O(len^d) variant rows): the cost the spread parallelizes is
    the post-explode volume, not the scan bytes, so the gate compares
    ``est * expansion`` per task against the threshold. At 100 TB the
    partition-count gate above still short-circuits first — the
    factor can never add a shuffle to an already-parallel scan.
    """
    spark = df.sparkSession
    par = spark.sparkContext.defaultParallelism
    n_part = df.rdd.getNumPartitions()
    if n_part >= par:
        return df
    min_bytes = int(
        spark.conf.get(
            "spark.corral.spread.minBytesPerTask",
            str(SPREAD_MIN_BYTES_PER_TASK),
        )
    )
    est = int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    if est * expansion / max(n_part, 1) <= min_bytes:
        return df
    return df.repartition(par)


# ---------------------------------------------------------------------------
# Exact dedup
# ---------------------------------------------------------------------------


def dedup_exact(df: DataFrame, key_cols: list[str], id_col: str) -> DataFrame:
    """Keep exactly one row per key: the one with the smallest id.

    Deterministic alternative to ``dropDuplicates`` (which keeps an
    arbitrary row). One hash-shuffle on the key; min-id rule makes the
    result reproducible run-to-run — required for the hash gate and
    good hygiene in training-data pipelines (stable winners across
    re-runs).
    """
    w = Window.partitionBy(*key_cols).orderBy(F.col(id_col).asc())
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


# ---------------------------------------------------------------------------
# Shingles
# ---------------------------------------------------------------------------


def word_shingles(text: Column, n: int = 5) -> Column:
    """Distinct word n-gram shingles of the tokenized text — pure
    JVM-expression form (tokenize + transform/slice/array_join).

    NOTE: prefer ``word_shingles_arrow`` in operator hot paths. The
    higher-order functions here are interpreted per element (not
    codegen'd): measured 15s for 250k shingles at sf0.1 vs 0.8s for
    the Arrow-batched pandas UDF. This form remains for contexts where
    a Python runtime is unavailable or the shingle count is small.
    Documents shorter than n words contribute their full token join
    (one shingle), so no document is silently dropped.
    """
    toks = tokenize(text)
    n_sh = F.greatest(F.size(toks) - F.lit(n - 1), F.lit(1))
    idx = F.sequence(F.lit(1), n_sh)
    grams = F.transform(
        idx, lambda i: F.array_join(F.slice(toks, i, n), " ")
    )
    return F.array_distinct(grams)


def word_shingles_arrow(text: Column, n: int = 5) -> Column:
    """Distinct word n-gram shingles via an Arrow-batched pandas UDF.

    Same semantics as ``word_shingles`` (reference word-count
    tokenizer rules, short-doc clamp, distinct shingles, first-
    occurrence order). UDFs are normally the slow path, but Spark's
    interpreted higher-order functions lose here by ~18x measured
    (see word_shingles); string n-gramming is exactly the vectorized-
    Python sweet spot. Also measured: a pure-JVM rolling
    xor-rotate hash over pre-materialized word-hash arrays lands at
    ~1.4s vs this UDF's ~1.2s at sf0.1 — no win, and it loses the
    string shingles the exact-verification joins reuse. (The naive
    JVM form without materializing the word-hash array first is
    catastrophically non-CSE'd: element_at inside transform() re-runs
    the inner transform per access, 340s.)
    """
    pat = re.compile(_NON_ALNUM_RE)

    @F.pandas_udf(ArrayType(StringType()))
    def _shingles(texts: pd.Series) -> pd.Series:
        out = []
        for t in texts:
            words = pat.sub(" ", t or "").lower().split()
            if len(words) <= n:
                out.append([" ".join(words)] if words else [])
            else:
                grams = (" ".join(words[i : i + n]) for i in range(len(words) - n + 1))
                out.append(list(dict.fromkeys(grams)))
        return pd.Series(out)

    return _shingles(text)


# ---------------------------------------------------------------------------
# Bucket-pair generation (shared by every LSH/banding operator)
# ---------------------------------------------------------------------------


def bucket_pairs(keyed: DataFrame, key_col: str, id_col: str) -> DataFrame:
    """All unordered distinct pairs of rows sharing a bucket key.

    ``keyed`` must have (key_col, id_col, payload...). The upstream
    lineage (often an expensive UDF/explode pipeline) is materialized
    ONCE via materialize() (localCheckpoint by default), then
    candidates come from a codegen'd
    self equi-join on the bucket key. Two formulations were measured
    at sf0.1: collect_list + in-array pair enumeration loses badly
    (60-120s vs 6s) once buckets grow past a few dozen members —
    interpreted per-element pair construction — while the hash join
    handles large buckets natively; the checkpoint removes the join's
    double-evaluation of the upstream.
    Output: (a: struct, b: struct) with a[id_col] < b[id_col],
    deduplicated across buckets.
    """
    payload = F.struct(*[F.col(c) for c in keyed.columns if c != key_col])
    slim = keyed.select(
        F.col(key_col).alias("__k"), payload.alias("__p")
    )
    slim = materialize(slim, eager=True)

    left = slim.select(F.col("__k"), F.col("__p").alias("a"))
    right = slim.select(F.col("__k"), F.col("__p").alias("b"))
    # CORPUS-SCALED JOIN RULE (found by the sf3=30x canary): both
    # sides here are the whole keyed corpus, but Catalyst's size
    # estimate reaches this join through parquet-scan bytes x
    # column-pruning ratios x explode/aggregate guesses and lands
    # UNDER the autoBroadcast threshold — the static plan then builds
    # the ENTIRE bucket table as a driver-side broadcast hash
    # relation. That fit at sf<=1 by luck and OOM'd an 8 GiB heap at
    # sf3; at 100 TB it is catastrophic. Any join where BOTH sides
    # scale with the corpus must carry an explicit shuffle_hash hint:
    # per-partition hash build, no driver relation, no estimate
    # trusted. (Bounded frames — hot lists, count-gated sides — stay
    # hintless so genuinely-small builds can still broadcast.)
    return (
        left.join(right.hint("shuffle_hash"), on="__k")
        .filter(F.col("a")[id_col] < F.col("b")[id_col])
        .select(
            "a",
            "b",
            F.col("a")[id_col].alias("__ida"),
            F.col("b")[id_col].alias("__idb"),
        )
        .dropDuplicates(["__ida", "__idb"])
        .select("a", "b")
    )


# ---------------------------------------------------------------------------
# Exact n-gram / token Jaccard via inverted index
# ---------------------------------------------------------------------------


def jaccard_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    threshold: float = 0.5,
    shingle_n: int = 5,
    max_df: int | None = None,
) -> DataFrame:
    """Exact n-gram (word-shingle) Jaccard similarity for all pairs
    sharing >= 1 shingle, via an inverted index (shingle -> doc)
    self-join — never a document cross join.

    Shingles, not single tokens, are the index key: tokens in a
    natural corpus follow Zipf (a handful of stopwords hit every
    document, making the token index join quadratic — observed 200s at
    sf0.1 vs ~2s with shingles), while n-gram shingles are selective.
    ``max_df`` additionally drops shingles occurring in more than that
    many documents — the standard boilerplate-ceiling guard for a full
    100 TB corpus.
    Output: (id_a, id_b, jaccard) with id_a < id_b, jaccard >= threshold.
    """
    sh = word_shingles_arrow(F.col(text_col), shingle_n)
    # The shingle UDF lineage is referenced three times below (sizes +
    # both self-join sides); checkpoint so it evaluates once.
    tok = df.select(F.col(id_col).alias("id"), F.explode(sh).alias("token"))
    tok = materialize(tok, eager=True)
    if max_df is not None:
        # Keep-list inversion: "keep tokens with df <= max_df"
        # used to broadcast the KEEP list — but most shingles are
        # unique, so that list is CORPUS-SCALED (billions at 100 TB;
        # an explicit F.broadcast of it is exactly the driver-OOM the
        # sf3 canary exposed in the banded path). Anti-join against
        # the HOT list instead: identical semantics, and hot is
        # bounded by total_incidences/max_df (the _short_cands
        # argument), not by the corpus.
        hot = (
            tok.groupBy("token")
            .agg(F.count(F.lit(1)).alias("df"))
            .filter(F.col("df") > max_df)
            .select("token")
        )
        tok = tok.join(hot, on="token", how="left_anti")
    sizes = tok.groupBy("id").agg(F.count(F.lit(1)).alias("n"))

    a = tok.select(F.col("id").alias("id_a"), "token")
    b = tok.select(F.col("id").alias("id_b"), "token")
    inter = (
        # Corpus-scaled both sides — shuffle_hash per the bucket_pairs
        # rule (never an estimate-based broadcast of a corpus table).
        a.join(b.hint("shuffle_hash"), on="token")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    sa = sizes.select(F.col("id").alias("id_a"), F.col("n").alias("n_a"))
    sb = sizes.select(F.col("id").alias("id_b"), F.col("n").alias("n_b"))
    jac = F.col("inter").cast("double") / (
        F.col("n_a") + F.col("n_b") - F.col("inter")
    )
    return (
        # sizes is per-doc (corpus-scaled) — same shuffle_hash rule.
        inter.join(sa.hint("shuffle_hash"), on="id_a")
        .join(sb.hint("shuffle_hash"), on="id_b")
        .select("id_a", "id_b", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------


def minhash_signatures(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n_hashes: int = 64,
    shingle_n: int = 5,
) -> DataFrame:
    """Per-document MinHash signature via densified one-permutation
    hashing (OPH): ONE xxhash64 per shingle, bucketed into
    ``n_hashes`` bins by hash mod n, min per bin; empty bins densified
    deterministically from the document's global min.

    OPH needs 1 hash/shingle instead of n (the k-seeded formulation
    cost 96M interpreted hash evals at sf0.1, ~20s; this runs in ~1s)
    and lowers to explode + hash-aggregate — whole-stage-codegen'd,
    partial-aggregated map-side, spill-safe. Identical documents get
    identical signatures, and bin agreement is an unbiased Jaccard
    estimate just like classic MinHash.
    Output: (id_col, sig: array<bigint>, n_shingles: int).
    """
    sh = word_shingles_arrow(F.col(text_col), shingle_n)
    tok = df.select(F.col(id_col), F.explode(sh).alias("__s"))
    return _signatures_from_tokens(tok, id_col, "__s", n_hashes)


def _signatures_from_tokens(
    tok: DataFrame, id_col: str | list[str], tok_col: str, n_hashes: int
) -> DataFrame:
    """OPH signature aggregation over pre-exploded (id, token) rows —
    split out so callers that already materialized the shingle set
    (e.g. minhash_verified_pairs) don't re-run the shingle UDF.
    ``id_col`` may be a list of key columns (the cross-corpus path
    aggregates one tagged union keyed by (side, id) so identical id
    values on the two sides can never merge)."""
    keys = [id_col] if isinstance(id_col, str) else list(id_col)
    ex = tok.select(
        *keys,
        F.xxhash64(tok_col).alias("__h"),
        F.pmod(F.xxhash64(tok_col), F.lit(n_hashes)).alias("__b"),
    )
    # Bin i is the min hash that landed in it; an empty bin is
    # densified to xxhash64(i, global min). Written as one SQL
    # expression because each Column call is a py4j round trip: the
    # 2 x n_hashes Column form takes ~0.6 s to build.
    sig = F.expr(
        "array("
        + ", ".join(
            f"coalesce(min(if(__b = {i}, __h, NULL)), xxhash64({i}, min(__h)))"
            for i in range(n_hashes)
        )
        + ")"
    )
    return ex.groupBy(*keys).agg(
        sig.alias("sig"), F.count(F.lit(1)).alias("n_shingles")
    )


def _band_keys(sig_df: DataFrame, keys: list[str], bands: int) -> DataFrame:
    """(*keys, sig, band, key): one row per (document, band); key is
    the xxhash64 of that band's signature slice. ONE definition shared
    by the estimate path (minhash_lsh_pairs) and the verified MinHash
    kernel so the banding rule cannot drift between them."""
    n_hashes_col = F.size("sig")
    rows_per_band = F.floor(n_hashes_col / F.lit(bands))
    band_key = F.explode(
        F.transform(
            F.sequence(F.lit(0), F.lit(bands - 1)),
            lambda b: F.struct(
                b.alias("band"),
                F.xxhash64(
                    F.array_join(
                        F.transform(
                            F.slice(
                                F.col("sig"),
                                b * rows_per_band + 1,
                                rows_per_band,
                            ),
                            lambda v: v.cast("string"),
                        ),
                        ",",
                    )
                ).alias("key"),
            ),
        )
    )
    return sig_df.select(*keys, F.col("sig"), band_key.alias("__bk")).select(
        *keys,
        "sig",
        F.col("__bk.band").alias("band"),
        F.col("__bk.key").alias("key"),
    )


def bucket_id_pairs(
    keyed: DataFrame, key_col: str, id_col: str, dedup: bool = True
) -> DataFrame:
    """Payload-free ``bucket_pairs``: only (key, id) crosses the
    self-join and its materialization barrier; callers re-attach
    payloads to the (much smaller) candidate-pair set with id joins
    (guide §2.3 — decide with small rows, move heavy columns once).
    Use when the downstream verification needs per-row payloads
    (vectors, arrays) that would otherwise ship once per (bucket
    membership x side) through the pair join.
    Output: (id_a, id_b) with id_a < id_b; ``dedup=False`` leaves
    cross-bucket duplicates for a caller-level dropDuplicates.
    """
    slim = keyed.select(
        F.col(key_col).alias("__k"), F.col(id_col).alias("__id")
    )
    slim = materialize(slim, eager=True)
    left = slim.select("__k", F.col("__id").alias("id_a"))
    right = slim.select("__k", F.col("__id").alias("id_b"))
    out = (
        # Corpus-scaled both sides — shuffle_hash per the bucket_pairs
        # rule (never an estimate-based broadcast of a corpus table).
        left.join(right.hint("shuffle_hash"), on="__k")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
    )
    return out.dropDuplicates(["id_a", "id_b"]) if dedup else out


def minhash_lsh_pairs(
    sig_df: DataFrame,
    id_col: str,
    bands: int = 16,
    threshold: float = 0.5,
) -> DataFrame:
    """Candidate near-duplicate pairs from banded MinHash signatures,
    scored by the signature-agreement estimate of Jaccard similarity.

    bands * rows_per_band must equal len(sig). A pair is a candidate
    iff it agrees on at least one full band (standard LSH S-curve);
    candidates are then scored exactly on their signatures and
    filtered at ``threshold``. Shuffles: one groupBy on (band, key)
    per side — never all-pairs.
    Output: (id_a, id_b, est_jaccard) with id_a < id_b.
    """
    banded = _band_keys(
        sig_df.select(F.col(id_col).alias("id"), "sig"), ["id"], bands
    ).select("id", "sig", F.struct("band", "key").alias("bk"))

    cand = bucket_pairs(banded, "bk", "id")
    agree = F.size(
        F.filter(
            F.zip_with(F.col("a.sig"), F.col("b.sig"), lambda x, y: x == y),
            lambda x: x,
        )
    )
    est = agree.cast("double") / F.size(F.col("a.sig")).cast("double")
    return (
        cand.select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            est.alias("est_jaccard"),
        )
        .filter(F.col("est_jaccard") >= threshold)
    )


def minhash_verified_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    threshold: float = 0.5,
    n_hashes: int = 64,
    bands: int = 32,
    shingle_n: int = 5,
    short_df_max: int = SHORT_DF_MAX,
) -> DataFrame:
    """Production-shape two-phase LSH dedup: MinHash-banded candidate
    generation, then EXACT shingle-Jaccard verification of candidates
    only — never all pairs.

    This is the standard scalable fuzzy-dedup pipeline: phase 1 cost
    is linear in corpus size (signatures + banded equi-join), phase 2
    cost is linear in CANDIDATE count (array_intersect on the two
    shingle sets of each candidate pair). Verification makes the
    output exact — and therefore oracle-checkable: when band recall is
    1.0 on the corpus's actual near-dup pairs (deterministic given the
    data — xxhash64 has no RNG), the result set equals the exact
    all-pairs Jaccard >= threshold set.

    Banding default is 32 bands x 2 rows, NOT the estimate path's
    16 x 4: the S-curve midpoint drops to (1/32)^(1/2) ~= 0.18, so
    recall at the 0.5 threshold is ~1 - (1 - 0.25)^32 ~= 0.9999
    (measured: 16 x 4 missed 8 of 256 true pairs at sf0.1 — pairs
    sitting right at the threshold). The extra sub-threshold
    candidates this admits only cost verification compute; the exact
    filter removes them from the OUTPUT either way.

    SHORT-DOC completeness: OPH signatures degrade when a document
    has far fewer shingles than bins (most bins densified — measured
    at sf0.1: 0.86-0.94-Jaccard pairs with 6-18 shingles banded to
    zero agreement). Any affected pair has min(|a|,|b|) < n_hashes
    and therefore max <= min/threshold, so every pair whose smaller
    side has <= small_max = n_hashes/threshold shingles is generated
    EXACTLY via a df-capped shingle inverted index (probe side: the
    short docs; index side: the partner population, docs of size
    <= small_max/threshold — the Jaccard length filter's bound on a
    short doc's possible partners). Docs at or below small_max skip
    the signature aggregate and the band join entirely: they
    contribute only exactly-covered pairs, so banding them would be
    throwaway work. Only docs ABOVE small_max are banded, which covers
    all remaining (long, long) pairs. Candidates stay a superset of
    the exact Jaccard >= t set by construction, and verification
    decides membership either way.

    The shingle UDF runs ONCE (materialize barrier), feeding both the
    signature aggregation and the verification join.
    Output: (id_a, id_b, jaccard) exact, id_a < id_b.
    """
    return _minhash_kernel(
        df, None, text_col, id_col, threshold, n_hashes, bands, shingle_n,
        short_df_max,
    )["pairs"]


def minhash_pair_counts(
    df: DataFrame,
    text_col: str,
    id_col: str,
    threshold: float = 0.5,
    n_hashes: int = 64,
    bands: int = 32,
    shingle_n: int = 5,
    short_df_max: int = SHORT_DF_MAX,
) -> dict[str, int]:
    """Scaling diagnostic: the CANDIDATE-pair and verified-pair counts
    of the minhash pipeline, counted off the kernel's own stage frames
    (``stage_counts``: the pair count reads the cached candidate
    set). Counts are noise-free linearity evidence that wall-clock
    timings on a shared host are not: if the corpus grows k-fold and
    candidates grow ~k-fold, the banded-LSH stage is linear and any
    superlinear *timing* is host noise; a superlinear candidate count
    is the real O(n^2) signal (this engine's analog of the reference's
    reducer-memory bound — the thing that breaks silently at scale).

    Also counts the df-capped short-doc index's own volume drivers: if
    hot_heavy_docs or short_candidates ever grows superlinearly in
    corpus size, the degenerate stop-shingle population is taking
    over the fallback."""
    return stage_counts(
        _minhash_kernel(
            df, None, text_col, id_col, threshold, n_hashes, bands,
            shingle_n, short_df_max,
        )
    )


def minhash_pairs_across(
    existing: DataFrame,
    incoming: DataFrame,
    text_col: str,
    id_col: str,
    threshold: float = 0.5,
    n_hashes: int = 64,
    bands: int = 32,
    shingle_n: int = 5,
    short_df_max: int = SHORT_DF_MAX,
) -> DataFrame:
    """Near-duplicate pairs BETWEEN two corpora — the incremental-
    ingest counterpart of minhash_verified_pairs: "is this new
    document a near-dup of anything already in the training set?"
    bloom_new_rows answers that for EXACT keys; this answers it for
    Jaccard >= threshold content overlap, the question continuous
    ingest actually asks before admitting data.

    The same pipeline as minhash_verified_pairs, run over the union of
    both corpora tagged by side: MinHash-banded candidates come from
    an equi-join of the two corpora's band keys — a shuffle on (band,
    key), linear per side, NEVER |A| x |B| — and the short-document
    path covers every cross pair whose smaller side has
    <= n_hashes/threshold shingles. Candidates are verified with exact
    shingle Jaccard, so the output equals the all-pairs A x B
    Jaccard >= threshold set whenever band recall is 1.0 on the data's
    true pairs.

    The id columns may differ in type only when both are integral
    (byte/short/int/long): they are then joined as long and each
    output id column keeps its own corpus's declared type. Any other
    id type mismatch raises ``ValueError`` before any job runs.
    Output: (id_a from existing, id_b from incoming, jaccard) — NOT
    id-ordered: the sides are different tables, so both orientations
    of the same id value are meaningful.
    """
    return _minhash_kernel(
        existing, incoming, text_col, id_col, threshold, n_hashes,
        bands, shingle_n, short_df_max,
    )["pairs"]


def minhash_across_counts(
    existing: DataFrame,
    incoming: DataFrame,
    text_col: str,
    id_col: str,
    threshold: float = 0.5,
    n_hashes: int = 64,
    bands: int = 32,
    shingle_n: int = 5,
    short_df_max: int = SHORT_DF_MAX,
) -> dict[str, int]:
    """minhash_pair_counts for the CROSS-corpus admission check: at a
    k-fold corpus with disjoint-replica structure every number must
    grow ~k-fold."""
    return stage_counts(
        _minhash_kernel(
            existing, incoming, text_col, id_col, threshold, n_hashes,
            bands, shingle_n, short_df_max,
        )
    )


_INTEGRAL_TYPES = (ByteType, ShortType, IntegerType, LongType)


def _minhash_kernel(
    existing: DataFrame,
    incoming: DataFrame | None,
    text_col: str,
    id_col: str,
    threshold: float,
    n_hashes: int,
    bands: int,
    shingle_n: int,
    short_df_max: int,
) -> dict[str, DataFrame]:
    """The MinHash candidate + verification pipeline behind
    minhash_verified_pairs, minhash_pairs_across and their counts,
    over ONE side-tagged shingle frame (__side, id, __sh).

    ``incoming=None`` is the self-join: one side, every row __side 0.
    Otherwise ``existing`` is side 0 and ``incoming`` side 1, and both
    share one Arrow shingle pass, one barrier and one signature
    aggregate. Every stage keys on (__side, id), so equal id values on
    the two sides never merge.

    Pair rule, the same for every route: the left row comes from side
    0, the right row from the last side, and a pair is kept when
    struct(__side, id) is smaller on the left. For the self-join that
    is id_a < id_b; across corpora it is id_a from existing, id_b from
    incoming, each cross pair once.

    Returns the lazy stage frames by name: ``candidates``, the output
    ``pairs``, and the short-path canary frames ``short_candidates``,
    ``hot_shingles`` and ``hot_heavy_docs``.
    """
    sides = [existing] if incoming is None else [existing, incoming]
    last = len(sides) - 1
    id_types = [s.select(F.col(id_col)).schema[0].dataType for s in sides]
    id_type = id_types[0]
    if id_types[-1] != id_type:
        if not all(isinstance(t, _INTEGRAL_TYPES) for t in id_types):
            raise ValueError(
                f"minhash_pairs_across: id column {id_col!r} is "
                f"{id_types[0].simpleString()} in existing but "
                f"{id_types[-1].simpleString()} in incoming; only "
                "integral id types (byte/short/int/long) can be mixed"
            )
        id_type = LongType()
    # Narrow projection first (only side, id and text cross any spread
    # shuffle), then re-spread when the source scan under-parallelizes
    # so the Arrow shingle UDF runs on every core (spread_input is a
    # no-op on an already-parallel scan).
    src = spread_input(
        reduce(
            DataFrame.unionByName,
            [
                s.select(
                    F.lit(side).alias("__side"),
                    F.col(id_col).cast(id_type).alias("id"),
                    F.col(text_col).alias("__t"),
                )
                for side, s in enumerate(sides)
            ],
        )
    )
    shing = src.select(
        "__side",
        "id",
        word_shingles_arrow(F.col("__t"), shingle_n).alias("__sh"),
    )
    # Lazy barrier: the first action to touch this is the eager band-key
    # checkpoint below, whose lineage reads shing through a SINGLE leg
    # (tok -> sigs -> band keys) — it computes and stores the shingle
    # partitions as a side effect, so an eager job here would be pure
    # scheduling latency. Every later consumer (ptok, the verification
    # legs) hits the stored partitions. A frame consumed by two legs of
    # ONE job (keyed) must stay eager — a lazy first action would race
    # both legs into computing the same partitions.
    shing = materialize(shing, eager=False)
    # Length-filtered candidate routing (guide §1.2 "don't compute
    # what you throw away" + the PPJoin length-filter family):
    #
    # * small_max = n_hashes/t is the exact-path population bound: any
    #   pair the OPH bands can miss has min(|a|,|b|) < n_hashes and
    #   therefore both sides <= n_hashes/t (Jaccard length filter
    #   t*|b| <= |a∩b| <= |a|).
    # * Banding therefore only needs docs ABOVE small_max: a qualifying
    #   pair with min <= small_max has max <= small_max/t (same length
    #   filter), so it is covered EXACTLY by the partner-extended
    #   inverted index below. Every doc below the bound skips the
    #   signature aggregate and the band join entirely.
    # * The verified output is invariant: candidates remain a superset
    #   of the exact Jaccard >= t pair set (per route: above and in
    #   _short_cands), and the exact verification join rejects
    #   everything else.
    small_max = int(n_hashes / max(threshold, 0.1))
    sz = F.size("__sh")
    is_short = sz <= small_max
    # Partner bound, admit-direction slack (cf. the ppjoin ceil slack):
    # J >= t and |a| <= small_max force t*|b| <= small_max.
    is_partner = (sz * F.lit(float(threshold))) <= F.lit(small_max + 1e-6)
    tok = shing.filter(~is_short).select(
        "__side", "id", F.explode("__sh").alias("__s")
    )
    sigs = _signatures_from_tokens(tok, ["__side", "id"], "__s", n_hashes)
    # Every band collision is a candidate and the exact verifier (not
    # the signature estimate) decides membership, so only (__side, id,
    # band, key) crosses the pair join — the 64-long signature array
    # would be 512 bytes/row of pure shuffle weight (guide §2.3:
    # project before the exchange). Materialized because both join
    # sides read it.
    keyed = materialize(
        _band_keys(sigs, ["__side", "id"], bands).select(
            "__side", "id", "band", "key"
        ),
        eager=True,
    )
    left = keyed.filter(F.col("__side") == 0).select(
        "band", "key", F.col("__side").alias("__sa"), F.col("id").alias("id_a")
    )
    right = keyed.filter(F.col("__side") == last).select(
        "band", "key", F.col("__side").alias("__sb"), F.col("id").alias("id_b")
    )
    cands = (
        # Corpus-scaled both sides — shuffle_hash per the bucket_pairs
        # rule (never an estimate-based broadcast of a corpus table).
        # Dedup is deferred to the single dropDuplicates after the
        # short-path union.
        left.join(right.hint("shuffle_hash"), on=["band", "key"])
        .filter(_side_key("__sa", "id_a") < _side_key("__sb", "id_b"))
        .select("id_a", "id_b")
    )
    # Exact candidates for every pair with min(|a|,|b|) <= small_max.
    # Token rows re-derive from the materialized shingle checkpoint
    # with a filter+explode — a narrow map, no extra exchange.
    ptok = shing.filter(is_partner).select(
        "__side", "id", is_short.alias("__p"), F.explode("__sh").alias("__s")
    )
    short_cands, short_diag = _short_cands(ptok, threshold, last, short_df_max)
    cands = cands.unionByName(short_cands).dropDuplicates(["id_a", "id_b"])

    def shingles(side: int, suffix: str) -> DataFrame:
        return shing.filter(F.col("__side") == side).select(
            F.col("id").alias(f"id_{suffix}"), F.col("__sh").alias(f"__sh{suffix}")
        )

    inter = F.size(F.array_intersect("__sha", "__shb"))
    union = F.size("__sha") + F.size("__shb") - inter
    jac = inter.cast("double") / union.cast("double")
    verified = (
        # The shingle-ARRAY frames are the heaviest corpus-scaled
        # frames in the plan; never broadcast-built.
        cands.join(shingles(0, "a").hint("shuffle_hash"), "id_a")
        .join(shingles(last, "b").hint("shuffle_hash"), "id_b")
        .select(
            F.col("id_a").cast(id_types[0]).alias("id_a"),
            F.col("id_b").cast(id_types[-1]).alias("id_b"),
            jac.alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )
    # Deduped diag frame — the count canary reports distinct short-path
    # candidate pairs, while the pipeline defers dedup to the union.
    return {
        "candidates": cands,
        "pairs": verified,
        "short_candidates": short_cands.dropDuplicates(["id_a", "id_b"]),
        **short_diag,
    }


def _side_key(side_col: str, id_col: str) -> Column:
    """struct(side, id): the pair rule's ordering key (side first)."""
    return F.struct(F.col(side_col).alias("side"), F.col(id_col).alias("id"))


def _short_cands(
    ptok: DataFrame,
    threshold: float,
    last: int,
    df_max: int,
) -> tuple[DataFrame, dict[str, DataFrame]]:
    """Exact candidate pairs for every qualifying pair whose SMALLER
    side is short (<= n_hashes/t distinct shingles — the population the
    OPH bands cannot be trusted with), bounded in corpus skew by a
    document-frequency cap.

    ``ptok`` holds one row per (__side, id, distinct shingle __s) for
    the PARTNER population — every doc with t*|doc| <= n_hashes/t, i.e.
    every doc a short doc could reach at Jaccard >= t (length filter:
    t*|b| <= |a∩b| <= |a| <= small_max) — with ``__p`` true on the
    short docs themselves. The probe side of the inverted index is the
    short rows; the index side is the whole partner population, so a
    (short, medium) pair is admitted exactly rather than through the
    short side's degraded OPH signature.

    Why a cap is safe (completeness argument): for Jaccard(A,B) >= t,
    the shared-shingle count |A∩B| >= t*|A∪B| >= t*max(|A|,|B|), i.e.
    at least ceil(t*|A|) AND ceil(t*|B|) shingles are shared. The
    inverted index is restricted to shingles whose document frequency
    over the partner population is <= df_max; a qualifying pair (A
    short, B partner) can evade it only if EVERY shared shingle is hot
    (df > df_max), which by the bound forces hot_count(X) >=
    ceil(t*|X|) on BOTH sides. Such "hot-heavy" docs are routed to a
    fallback equi-join on their HOT shingles restricted to the
    hot-heavy set — so no qualifying pair is lost, while NO path ever
    joins an uncapped shingle against the full population (joining
    short-doc shingles against a whole corpus's token table lets one
    stop-phrase 5-gram shared by a short doc and 1% of a 100 TB corpus
    become the dominant candidate generator). The df cap bounds any
    one shingle's index fan-out at df_max^2 pairs. Sub-threshold
    candidates either path admits are removed by the exact
    verification downstream.

    Orientation (the kernel's pair rule over struct(__side, id)):
    short-short pairs appear on both probe rows and keep the one whose
    probe key is smaller; (short, medium) pairs exist once and are
    oriented with least/greatest; a pair is then kept only if its
    smaller key is on side 0 and its larger on side ``last`` (across
    corpora: cross-side pairs only). Output (id_a, id_b) is raw —
    duplicates across shared shingles possible — so callers pay one
    union-level dropDuplicates.

    Returns (candidates, diag) where diag maps canary names to lazy
    frames (hot shingles, hot-heavy docs) for the count diagnostics.
    """
    dfreq = ptok.groupBy("__s").agg(F.count(F.lit(1)).alias("__df"))
    cold = F.col("__df") <= df_max
    # One df-annotation join over the partner population's token rows
    # (dfreq is vocabulary-sized — corpus-scaled, shuffle_hash per the
    # bucket_pairs rule); probe/index/hot frames are filters over it,
    # and per-doc totals and hot counts come from a single aggregate.
    ann = materialize(
        ptok.join(dfreq.hint("shuffle_hash"), on="__s"), eager=False
    )

    def pairs_from(probe: DataFrame, index: DataFrame) -> DataFrame:
        joined = probe.select(
            F.col("__side").alias("__sa"),
            F.col("id").alias("__ia"),
            F.col("__s").alias("__t"),
        ).join(
            index.select(
                F.col("__side").alias("__sb"),
                F.col("id").alias("__ib"),
                F.col("__p").alias("__pb"),
                F.col("__s").alias("__t"),
            ).hint("shuffle_hash"),
            on="__t",
        )
        ka, kb = _side_key("__sa", "__ia"), _side_key("__sb", "__ib")
        lo, hi = F.least(ka, kb), F.greatest(ka, kb)
        return (
            joined.filter(~F.col("__pb") | (ka < kb))
            .select(lo.alias("__lo"), hi.alias("__hi"))
            .filter((F.col("__lo.side") == 0) & (F.col("__hi.side") == last))
            .select(F.col("__lo.id").alias("id_a"), F.col("__hi.id").alias("id_b"))
        )

    cands = pairs_from(ann.filter(cold & F.col("__p")), ann.filter(cold))
    stats = ann.groupBy("__side", "id").agg(
        F.count(F.lit(1)).alias("__n"),
        F.count(F.when(~cold, True)).alias("__hc"),
    )
    # Float-ceil completeness slack, as in the ppjoin prefix lengths:
    # double rounding can overshoot an exact-integer t*n and exclude a
    # boundary doc from the fallback — the one direction that loses
    # pairs. The slack only ever ADMITS more docs (verification
    # prunes); it is binary-exact at the shipped t=0.5.
    hh = stats.filter(
        F.col("__hc") >= F.ceil(F.lit(threshold) * F.col("__n") - F.lit(1e-6))
    ).select("__side", "id")
    # Hot-heavy id lists and hot-token rows can reach corpus scale on a
    # boilerplate-heavy corpus (every short doc holding one
    # stop-phrase) — shuffle_hash per the corpus-scaled rule.
    hot = ann.filter(~cold).join(hh.hint("shuffle_hash"), on=["__side", "id"])
    fallback = pairs_from(hot.filter("__p"), hot)
    diag = {
        "hot_shingles": dfreq.filter(~cold).select("__s"),
        "hot_heavy_docs": hh,
    }
    return cands.unionByName(fallback), diag


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------


def simhash64(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """64-bit SimHash over tokens: bit b of the result is 1 iff more
    than half the (frequency-weighted) token hashes have bit b set.

    Lowered to explode + one hash-aggregate with 64 codegen'd
    ``sum((h >> b) & 1)`` expressions — partial-aggregated map-side;
    the interpreted higher-order-function formulation cost 64 array
    traversals per row (~8s at sf0.1 vs ~1s here).
    Output: (id_col, simhash: bigint, n_tokens: int).
    """
    toks = tokenize(F.col(text_col))
    ex = df.select(F.col(id_col), F.explode(toks).alias("__t")).select(
        id_col, F.xxhash64("__t").alias("__h")
    )
    aggs = [
        F.sum(F.shiftright("__h", b).bitwiseAND(F.lit(1))).alias(f"__c{b}")
        for b in range(64)
    ]
    g = ex.groupBy(id_col).agg(*aggs, F.count(F.lit(1)).alias("n_tokens"))

    half = F.col("n_tokens").cast("double") / 2.0
    sim = None
    for b in range(64):
        bit = F.when(F.col(f"__c{b}") > half, F.lit(1).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        term = F.shiftleft(bit, b)
        sim = term if sim is None else sim.bitwiseXOR(term)

    return g.select(id_col, sim.alias("simhash"), F.col("n_tokens"))


def simhash_md5(
    df: DataFrame, text_col: str, id_col: str, bits: int = 60
) -> DataFrame:
    """SimHash with md5-derived token hashes — identical construction
    to :func:`simhash64` but the per-token hash is the top 15 hex
    chars of md5 (60 bits, sign-safe in every engine), so the whole
    fingerprint computation has an exact SQL twin in any engine with
    md5 + integer bit ops (the same trick doc_fingerprint_md5 uses to
    make hashing oracle-checkable; xxhash64 stays the fast in-engine
    default). Same codegen'd explode + 60-sum aggregate shape.
    Output: (id_col, simhash: bigint, n_tokens: int).
    """
    toks = tokenize(F.col(text_col))
    ex = df.select(F.col(id_col), F.explode(toks).alias("__t")).select(
        id_col,
        F.conv(F.substring(F.md5("__t"), 1, 15), 16, 10)
        .cast("bigint")
        .alias("__h"),
    )
    aggs = [
        F.sum(F.shiftright("__h", b).bitwiseAND(F.lit(1))).alias(f"__c{b}")
        for b in range(bits)
    ]
    g = ex.groupBy(id_col).agg(*aggs, F.count(F.lit(1)).alias("n_tokens"))
    half = F.col("n_tokens").cast("double") / 2.0
    sim = None
    for b in range(bits):
        bit = F.when(F.col(f"__c{b}") > half, F.lit(1).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        term = F.shiftleft(bit, b)
        sim = term if sim is None else sim.bitwiseXOR(term)
    return g.select(id_col, sim.alias("simhash"), F.col("n_tokens"))


def simhash_pairs(
    sim_df: DataFrame, id_col: str, max_hamming: int = 3, width: int = 16
) -> DataFrame:
    """Near-dup pairs with hamming(simhash_a, simhash_b) <= max_hamming.

    Pigeonhole banding: with 4 disjoint ``width``-bit bands, any pair
    within hamming distance 3 matches exactly on >= 1 band, so
    candidates come from 4 equi-joins on band keys — never a cross
    join. ``width=15`` covers the 60-bit md5 variant.
    Output: (id_a, id_b, hamming) with id_a < id_b.
    """
    bands = 4
    band_key = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(b).alias("band"),
                    F.shiftrightunsigned(F.col("simhash"), b * width)
                    .bitwiseAND(F.lit((1 << width) - 1))
                    .alias("key"),
                )
                for b in range(bands)
            ]
        )
    )
    banded = sim_df.select(
        F.col(id_col).alias("id"), F.col("simhash"), band_key.alias("bk")
    )
    cand = bucket_pairs(banded, "bk", "id")
    hamming = F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash")))
    return (
        cand.select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            hamming.alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
    )


# ---------------------------------------------------------------------------
# Text hygiene: segment dedup, boilerplate removal, sliding-gram dedup
# ---------------------------------------------------------------------------
#
# One implementation per operator, over a words frame ``(__id, __w
# array<string>)``. The public operators tokenize once into that frame
# (``_words_base``), run a core, and rebuild the text contract in
# ``_text_contract``; ``prepare_pretraining_corpus`` chains the same
# cores on its own words frame without reassembling text in between.
# Every core returns ``(__id, __w, n_kept, n_total)``: ``__w`` the kept
# words, ``n_kept``/``n_total`` in the operator's own unit (segments for
# the segment operators, tokens for sliding-gram dedup).


def _size_or_null(arr: Column) -> Column:
    """``size`` that is NULL for a NULL array in every session:
    ``size(NULL)`` is -1 in legacy mode and NULL under ANSI."""
    return F.when(arr.isNotNull(), F.size(arr))


def _words_base(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """The ``(__id, __w)`` words frame of a text input, lazily
    checkpointed: every core reads it twice (the segment/window explode
    and the final id join), so documents are tokenized once.
    spread_input first: the explodes downstream must not fan out from a
    1-split scan's single task (no-op on an already-parallel input)."""
    return materialize(
        spread_input(df.select(F.col(id_col), F.col(text_col))).select(
            F.col(id_col).alias("__id"),
            split_words(F.col(text_col)).alias("__w"),
        ),
        eager=False,
    )


def _text_contract(kept: DataFrame, id_col: str) -> DataFrame:
    """A core's output as the public ``(id_col, clean_text, n_kept,
    n_total)`` contract. The single-space join of the kept words
    equals the join of the kept segments, since segments are
    single-space joins of non-empty words."""
    return kept.select(
        F.col("__id").alias(id_col),
        F.concat_ws(" ", "__w").alias("clean_text"),
        "n_kept",
        "n_total",
    )


def _segment_keep_words(
    base: DataFrame, seg_words: int, kept_segments
) -> DataFrame:
    """Segment scaffold shared by ``segment_dedup`` and boilerplate
    removal: split every document into fixed-width ``seg_words``
    segments, let ``kept_segments`` pick the surviving ``(__id,
    seg_idx)`` rows from the exploded ``(__id, seg_idx, seg)`` frame,
    and keep the words of those segments in original order. NULL and
    empty documents have no segments and keep nothing (n_total 0).

    Only the surviving (id, idx) INTS ride the doc-keyed exchanges;
    the words are re-read from the checkpointed ``__w`` array at the
    final join (shuffle keys, not payloads)."""
    w = F.col("__w")
    n = _size_or_null(w)
    nseg = F.ceil(n / F.lit(seg_words)).cast("int")
    segs = F.when(
        n > 0,
        F.transform(
            F.sequence(F.lit(0), nseg - 1),
            lambda j: F.concat_ws(" ", F.slice(w, j * seg_words + 1, seg_words)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    exploded = base.select("__id", F.posexplode(segs).alias("seg_idx", "seg"))
    kept_idx = (
        kept_segments(exploded)
        .groupBy("__id")
        .agg(F.array_sort(F.collect_list("seg_idx")).alias("__kp"))
    )
    kept = F.col("__kp").isNotNull()
    kept_words = F.flatten(
        F.transform(
            F.col("__kp"), lambda j: F.slice(w, j * seg_words + 1, seg_words)
        )
    )
    # kept_idx is doc-scale — corpus-scaled, never an estimate-based
    # broadcast build (bucket_pairs rule).
    return base.join(kept_idx.hint("shuffle_hash"), on="__id", how="left").select(
        "__id",
        F.when(kept, kept_words)
        .otherwise(F.array().cast("array<string>"))
        .alias("__w"),
        F.when(kept, F.size("__kp")).otherwise(F.lit(0)).alias("n_kept"),
        F.coalesce(nseg, F.lit(0)).alias("n_total"),
    )


def segment_dedup(
    df: DataFrame,
    text_col: str,
    id_col: str,
    seg_words: int = 10,
) -> DataFrame:
    """Corpus-level segment (pseudo-paragraph) deduplication —
    CCNet-style: split every document into fixed-width word segments,
    keep only the FIRST occurrence of each distinct segment across the
    whole corpus (first = minimum (doc id, segment index) — a total
    order, so the kept set is data-determined and oracle-checkable),
    and reassemble each document from its surviving segments in
    original order.

    Scale shape: the first-occurrence winner per segment is a MIN
    aggregation over (doc id, segment index), not a window — min is
    partial-aggregating, so a boilerplate segment appearing in 10% of
    all documents collapses to one row per map task before the
    exchange instead of hot-spotting a single window reducer. One
    segment-keyed shuffle, then one doc-keyed group-by to reassemble.
    No self-join, no cross join; cost is linear in total segment
    count. Documents whose every segment was seen earlier survive
    with ``clean_text = ''`` (the caller's length filter decides
    their fate), so the output is row-complete.

    Output: (id_col, clean_text, n_kept, n_total) ordered by nothing —
    callers order.
    """

    def first_occurrences(exploded: DataFrame) -> DataFrame:
        # A hash aggregate with map-side combine, deliberately NOT a
        # row_number window (windows shuffle every occurrence of a hot
        # segment to one task).
        return (
            exploded.groupBy("seg")
            .agg(F.min(F.struct("__id", "seg_idx")).alias("__f"))
            .select(
                F.col("__f.__id").alias("__id"),
                F.col("__f.seg_idx").alias("seg_idx"),
            )
        )

    base = _words_base(df, text_col, id_col)
    return _text_contract(
        _segment_keep_words(base, seg_words, first_occurrences), id_col
    )


def _boilerplate_keep_words(
    base: DataFrame,
    seg_words: int = 10,
    max_df: int = 2,
    broadcast_rows: int = 500_000,
) -> DataFrame:
    """Boilerplate-removal core over a words frame (see
    ``remove_boilerplate_segments``): drop every segment whose text
    appears in more than ``max_df`` distinct documents."""

    def not_hot(exploded: DataFrame) -> DataFrame:
        hot = materialize(
            exploded.groupBy("seg")
            .agg(F.count_distinct("__id").alias("__df"))
            .filter(F.col("__df") > max_df)
            .select("seg"),
            eager=False,
        )
        # Counted broadcast gate: the hot set is the Zipf head (usually
        # small) but grows with corpus size / shrinking max_df — never
        # an unconditional broadcast.
        hot_side = hot if hot.count() > broadcast_rows else F.broadcast(hot)
        # The anti-join keys on the segment text — that is the join's
        # semantics.
        return exploded.join(hot_side, on="seg", how="left_anti")

    return _segment_keep_words(base, seg_words, not_hot)


def remove_boilerplate_segments(
    df: DataFrame,
    text_col: str,
    id_col: str,
    seg_words: int = 10,
    max_df: int = 2,
    broadcast_rows: int = 500_000,
) -> DataFrame:
    """Boilerplate removal (C4/CCNet-style): drop EVERY copy of any
    fixed-width word segment that appears in more than ``max_df``
    distinct documents; segments at or below the ceiling keep all
    their copies. Complements ``segment_dedup`` (first-occurrence-
    wins): dedup keeps one copy of repeated content, boilerplate
    removal decides repeated-enough content is template noise and
    keeps none.

    Scale shape: one partial-aggregated document-frequency count over
    segments, then the hot set (df > max_df — usually small: it is
    the Zipf head, i.e. the boilerplate) feeds a left_anti join on the
    exploded segments. The hot set is COUNTED first and only
    broadcast when it has at most ``broadcast_rows`` rows (~10-word
    segments ≈ tens of MB at the default ceiling); above that it
    grows with corpus size / shrinking ``max_df`` and an unconditional
    broadcast hint would OOM the driver or blow the broadcast ceiling
    on a 100 TB run, so the guard falls back to a plain shuffle
    anti-join (same counted-threshold discipline as the textanalysis
    model joins). The count itself is one extra job over the
    already-materialized segment-frequency aggregate, amortized across
    the corpus-sized anti-join it protects. Reassembly is the same
    doc-keyed group-by as segment_dedup.

    Output: (id_col, clean_text, n_kept, n_total), row-complete.
    """
    base = _words_base(df, text_col, id_col)
    return _text_contract(
        _boilerplate_keep_words(base, seg_words, max_df, broadcast_rows), id_col
    )


def _gram_windows(base: DataFrame, k: int) -> DataFrame:
    """One row per sliding k-word window ``(__id, pos, gram)`` of a
    words frame. Shared by the sliding-gram core and its linearity
    canary ``gram_dedup_counts``, so the canary counts the windows the
    operator actually builds. NULL and shorter-than-k documents have
    no windows."""
    n = _size_or_null(F.col("__w"))
    return base.filter(n >= k).select(
        "__id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), n - k),
                lambda j: F.concat_ws(" ", F.slice(F.col("__w"), j + 1, k)),
            )
        ).alias("pos", "gram"),
    )


def _gram_keep_words(base: DataFrame, k: int = 8) -> DataFrame:
    """Sliding-gram dedup core over a words frame (see
    ``sliding_gram_dedup``). Docs shorter than ``k`` keep every token;
    docs whose every window was seen earlier keep none; NULL docs keep
    nothing and report n_total NULL."""
    firsts = _gram_windows(base, k).groupBy("gram").agg(
        F.min(F.struct(F.col("__id"), F.col("pos"))).alias("__f")
    )
    # Winner rows per doc: at most n-k+1 ints/doc, totalling one row
    # per DISTINCT gram corpus-wide — the smallest frame in the
    # pipeline. Only these ints cross the doc-keyed exchanges.
    keep_pos = (
        firsts.select(
            F.col("__f.__id").alias("__id"), F.col("__f.pos").alias("pos")
        )
        .groupBy("__id")
        .agg(F.collect_list("pos").alias("__kp"))
    )
    # Kept token positions = union of the k-wide intervals of the
    # doc's first-occurrence windows. Per-doc array work only.
    kept_pos = F.array_sort(
        F.array_distinct(
            F.flatten(
                F.transform(
                    F.col("__kp"),
                    lambda p: F.sequence(p, p + F.lit(k - 1)),
                )
            )
        )
    )
    n_total = _size_or_null(F.col("__w"))
    short = n_total < k
    won = F.col("__kp").isNotNull()
    # keep_pos is doc-scale — corpus-scaled, never an estimate-based
    # broadcast build (bucket_pairs rule); the words-array payload
    # crosses only this one exchange.
    return base.join(keep_pos.hint("shuffle_hash"), on="__id", how="left").select(
        "__id",
        F.when(short, F.col("__w"))
        .when(
            won,
            F.transform(kept_pos, lambda i: F.element_at(F.col("__w"), i + 1)),
        )
        .otherwise(F.array().cast("array<string>"))
        .alias("__w"),
        F.when(short, n_total)
        .when(won, F.size(kept_pos))
        .otherwise(F.lit(0))
        .alias("n_kept"),
        n_total.alias("n_total"),
    )


def sliding_gram_dedup(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 8,
) -> DataFrame:
    """Exact SUBSTRING dedup over sliding k-word windows — the
    distributed approximation of suffix-array substring deduplication
    (the "train-data dedup" family): any k-gram already seen earlier
    in the corpus is redundant text, and a token survives only if at
    least one window covering it is a global FIRST occurrence (or no
    window covers it at all — docs shorter than ``k`` are untouched).
    First occurrence is min (doc_id, pos) lexicographically, so the
    result is deterministic and engine-independent. Complements the
    fixed-boundary operators: segment_dedup dedups aligned segments,
    remove_boilerplate drops corpus-hot segments, and this removes
    UNALIGNED repeats a shifted copy would hide from both.

    Scale shape — everything is bounded and linear in corpus tokens:
    one window explode (~n rows/doc), one partial-aggregated min-
    struct per distinct gram (vocabulary-sized, same discipline as
    segment_dedup's min-winner — hot grams never serialize to one
    task), then a per-doc INTERVAL-UNION rebuild: a token survives
    iff at least one window covering it is a global first occurrence,
    and the first-occurrence windows are exactly the min-winners —
    so the kept positions of a doc are the union of [pos, pos+k-1]
    over ITS winner rows, computed as an array expression against the
    checkpointed words array. The rebuild needs no second window
    explode, no gram-keyed occurrence join, no k-way coverage explode
    and no token-scale anti-join, and the word payload crosses exactly
    ONE exchange, the final doc join ("move heavy rows once"). No
    windows over the corpus, no all-pairs, no driver-side state.

    Output: (id_col, clean_text, n_kept, n_total), row-complete;
    n_kept and n_total count tokens (n_total is NULL for NULL text).
    """
    base = _words_base(df, text_col, id_col)
    return _text_contract(_gram_keep_words(base, k), id_col)


def gram_dedup_counts(
    df: DataFrame, text_col: str, id_col: str, k: int = 8
) -> dict:
    """Intermediate-size canary for ``sliding_gram_dedup`` (the same
    noise-free linearity discipline as ``minhash_pair_counts``): the
    operator's two largest intermediates, counted exactly.

    ``windows`` is the sliding-window explode row count (one row per
    k-gram occurrence); ``coverage_rows`` is ``windows * k`` by
    construction — the volume of the k-way coverage explode an
    earlier version of the operator materialized (the interval-union
    rebuild replaced it; the counter is kept for comparability with
    older measurements and still tracks the same corpus property);
    ``distinct_grams`` is the vocabulary the min-winner aggregate
    shuffles. On a disjoint-replica 10x corpus all three must grow
    ~10x — any superlinear ratio is an engine artifact, not noise.

    Counts the core's own ``_gram_windows`` over the same words base,
    so the canary cannot drift from the construction it certifies.
    """
    wins = _gram_windows(_words_base(df, text_col, id_col), k)
    agg = wins.agg(
        F.count(F.lit(1)).alias("windows"),
        F.count_distinct("gram").alias("distinct_grams"),
    ).collect()[0]
    return {
        "windows": agg["windows"],
        "coverage_rows": agg["windows"] * k,
        "distinct_grams": agg["distinct_grams"],
    }


# ---------------------------------------------------------------------------
# Exact word-set Jaccard join (PPJoin prefix filtering)
# ---------------------------------------------------------------------------


def prefix_filter_jaccard_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    threshold: float = 0.5,
) -> DataFrame:
    """EXACT word-set Jaccard join (all pairs with J >= threshold) via
    PPJoin-style prefix filtering — the deterministic complement to
    MinHash-LSH (no probabilistic recall) and the fix for the reason
    ``jaccard_pairs`` must use shingles: a full token inverted index
    is quadratic under Zipf (stopwords hit every doc). Prefix
    filtering indexes only each document's first
    p = n - ceil(t*n) + 1 tokens under a GLOBAL rarest-first order
    (document frequency asc, token asc), so the ubiquitous tokens
    sort LAST and fall outside almost every prefix: the index holds
    ~the (1-t) rarest slice of each doc, and candidate lists stay
    short exactly where a naive index explodes.

    Completeness (the prefix principle): suppose J(A,B) >= t but the
    prefixes are disjoint. Each prefix omits the ceil(t*n)-1 tokens
    ranked highest in its own set, so every common token would have
    to rank beyond position p in A or in B; but
    |A ∩ B| >= t/(1+t) * (|A|+|B|) > (|A| - p_A) + (|B| - p_B) common
    tokens cannot all hide in the two suffixes of those lengths —
    contradiction. (The registry oracle is the TRUE all-pairs
    Jaccard, so a hash match also re-proves completeness on the
    data.) Candidates are then verified with exact intersection
    counts over the candidate pairs only.

    Three additions (ablated at sf0.1 — registry query 20.0s ->
    7.4s min-of-3 — with identical 964,854 output rows; sf1 56.3s ->
    35.1s with pairs exactly 10.0x):

    * **Single-pass set grouping.** gid = min(id) as a window over
      partitionBy(toks) replaces groupBy(toks) + join-back-on-toks:
      one shuffle on the set key instead of a shuffle plus an
      array-keyed join, and one materialization fewer. Same
      membership relation, same no-wide-row property.
    * **Asymmetric index prefix (PPJoin's index-prefix reduction,
      Xiao et al. 2008 §3.2).** Orient every pair so the probe side
      A is the LARGER set ((n_b, gb) < (n_a, ga) lexicographically —
      total, so each pair joins in exactly one orientation) and give
      the indexed side B the shorter prefix
      l_B = n_B - ceil(2t/(1+t) * n_B) + 1. Completeness: J >= t
      gives alpha = |A∩B| >= t/(1+t)(n_A+n_B); with n_B <= n_A that
      is >= 2t/(1+t) * n_B, and with n_B >= t*n_A (length filter)
      it is >= t*n_A — so alpha >= ceil of both, and the standard
      prefix lemma (overlap >= alpha forces the (n-alpha+1)-prefixes
      to intersect) applies to p_A and l_B, both >= their
      (n-alpha+1). The index side shrinks ~2x at t=0.9 (10514 ->
      6820 prefix rows at sf0.1), trimming the widest join's probe
      volume even though the distinct candidate count barely moves
      on this templated corpus.
    * **Ceil slack.** Prefix lengths subtract 1e-6 inside ceil():
      float ceil(18/19 * n) overshoots the exact integer at
      n = 133, 247, ... (double product lands just above the
      integer), which would SHORTEN the index prefix by one and
      break completeness; the slack only ever lengthens a prefix
      (safe direction; exact for any doc under ~10^6 distinct
      tokens, fractional parts of t*n for rational t are >> 1e-6).

    One exact reduction (guide §2.3 narrower types; outputs
    proven exceptAll-identical both ways before landing):

    * **Dense BIGINT token ids end to end.** Candidate generation
      joins prefixes on a deterministic dense id (two-level
      bucket+rank, injective, no global window) and verification
      intersects sorted id ARRAYS instead of string arrays — the
      intersect size is invariant under any injective relabeling,
      and the heaviest join payloads shrink from ~20 B/token strings
      to 8 B longs. Measured at sf0.1: verification stage 2.91 ->
      1.36 s over the same 1,809,812 candidates.

    Three earlier exact reductions (each preserves the qualifying pair
    set bit-for-bit, re-proven by the unchanged TRUE-all-pairs
    oracle):

    * **Set-equality grouping.** Jaccard depends only on the token
      SET, and template-heavy corpora (the 100 TB pretraining case)
      are full of exact set duplicates (sf0.1: 5000 docs -> 3935
      distinct sets, largest class 248 docs). Docs are grouped by
      their sorted distinct-token array; the candidate join and
      verification run over one REPRESENTATIVE per distinct set, and
      verified group pairs expand through the membership lists.
      Within-group pairs are emitted directly with jaccard = 1.0
      (identical sets; 1.0 >= t for any valid threshold). A group
      pair's verified jaccard is definitionally every expanded doc
      pair's jaccard. Empty/NULL token sets are dropped up front —
      they can never pair under the base algorithm (no tokens -> no
      prefix rows) and J(∅,∅) is undefined, so the empty-set GROUP
      must not self-pair either.
    * **Positional filter (the 'PP' in PPJoin, Xiao et al. 2008).**
      Both docs rank their tokens under the SAME global total order
      (tdf asc, token asc — strict), so common tokens appear in the
      same relative order in both. For a shared prefix token at
      ranks (i, j): common tokens ordered before it number at most
      min(i-1, j-1), after it at most min(n_a-i, n_b-j), so
      |A ∩ B| <= min(i,j) + min(n_a-i, n_b-j). A candidate row whose
      bound falls below the required overlap t/(1+t)(n_a+n_b) is
      dropped BEFORE the pair distinct. (A pair with several shared
      prefix tokens survives if ANY row passes — a superset of the
      qualifying pairs, which is all candidate generation promises;
      verification stays exact.)
    * **Per-row token de-dup.** ``array_distinct`` inside the row
      replaces the global ``.distinct()`` shuffle — the token set is
      a per-document property.

    Output: (id_a, id_b, jaccard 6dp) with id_a < id_b.

    ``id_col`` must be UNIQUE per row (the same contract
    ``fuzzy_join`` documents): a repeated id with two different
    texts lands in two set-groups, and the cross-group expansion
    would otherwise emit its self-pair. The expansion guards
    ``ia != ib`` so a duplicate id degrades to dropped self-pairs
    rather than an ``id_a == id_b`` contract violation — but the
    (a, b) pair can still carry whichever duplicate's jaccard
    verified, so dedupe ids upstream.
    """
    return _ppjoin_stages(df, text_col, id_col, threshold)["output_pairs"]


def _ppjoin_stages(
    df: DataFrame, text_col: str, id_col: str, threshold: float
) -> dict[str, DataFrame]:
    """``prefix_filter_jaccard_pairs`` returning its stage frames by
    name: ``candidate_group_pairs`` (distinct candidate group pairs),
    ``verified_group_pairs`` (with their jaccard) and the expanded
    doc-pair output ``output_pairs``. The operator and its funnel
    canary ``ppjoin_counts`` both build through here, so the canary
    counts the frames the operator runs."""
    from pyspark.sql.window import Window

    t = float(threshold)
    sets = df.select(
        F.col(id_col).alias("id"),
        F.sort_array(F.array_distinct(tokenize(F.col(text_col)))).alias(
            "toks"
        ),
    ).filter(F.size("toks") > 0)
    # One row per DISTINCT token set; gid = min member id computed as
    # a window over partitionBy(toks) — ONE shuffle on the set key
    # (replaces groupBy(toks) + join-back-on-toks, which paid
    # the same shuffle plus an array-keyed join). At 100 TB the
    # array-valued shuffle key is still the right call: hashing the
    # array would need a collision re-check anyway, and the shuffle
    # carries each doc's set exactly once either way. Membership
    # stays a (id, gid) DataFrame, NEVER a collect_list array: a
    # giant exact-duplicate class (boilerplate at corpus scale) would
    # otherwise assemble one row holding millions of ids — a
    # single-executor memory cliff. Join-based expansion below
    # produces the same pair product with no wide row anywhere.
    mem = materialize(
        sets.withColumn(
            "gid", F.min("id").over(Window.partitionBy("toks"))
        ),
        eager=True,
    )
    groups = materialize(
        mem.filter(F.col("id") == F.col("gid")).select("gid", "toks"),
        eager=True,
    )
    members = mem.select("id", "gid")

    tok = groups.select(
        "gid",
        F.explode("toks").alias("token"),
        F.size("toks").alias("n"),
    )
    dfreq = tok.groupBy("token").agg(F.count(F.lit(1)).alias("tdf"))
    # Narrow-types rewrite (guide §2.3): every downstream consumer
    # — the candidate equi-join, the positional filter, and the
    # verification intersect — needs only an INJECTIVE token identity,
    # never the string. A dense BIGINT id shrinks the widest join key
    # and turns the 1.8M-candidate array_intersect from string hashing
    # into long equality (measured at sf0.1: verification stage 2.91
    # -> 1.36 s, outputs exceptAll-identical both ways). The id is a
    # deterministic two-level rank — row_number per xxhash64 bucket,
    # tid = rank * B + bucket — injective by construction and free of
    # the single-partition global-window cliff a corpus-scale
    # vocabulary would hit (each bucket window holds ~|vocab|/B rows).
    # xxhash64 is ONLY the bucket spreader here: a collision merely
    # co-buckets two tokens, it cannot merge their ids.
    _B = 1 << 10
    vocab = dfreq.select(
        "token",
        "tdf",
        (
            F.row_number().over(
                Window.partitionBy(
                    F.pmod(F.xxhash64("token"), F.lit(_B))
                ).orderBy("token")
            )
            * _B
            + F.pmod(F.xxhash64("token"), F.lit(_B))
        ).alias("tid"),
    )
    # vocab is vocabulary-sized (corpus-scaled) — shuffle_hash per the
    # corpus-scaled join rule (broadcast audit). The GLOBAL token
    # order stays (tdf asc, token asc) — tid replaces the string only
    # as an identity, never as the ranking key.
    ranked = tok.join(vocab.hint("shuffle_hash"), "token").select(
        "gid",
        "tid",
        "n",
        F.row_number()
        .over(
            Window.partitionBy("gid").orderBy(
                F.asc("tdf"), F.asc("token")
            )
        )
        .alias("rnk"),
    )
    # One checkpoint of the int-narrow ranked token table feeds BOTH
    # the prefix filter (pa/pb) and the per-group int-array rebuild —
    # the join+window run once (before the narrow-types rewrite only
    # the ~10% prefix slice was checkpointed, but the verification
    # arrays then had to stay strings).
    ranked = materialize(ranked, eager=True)
    # Probe prefix p = n - ceil(t*n) + 1; the 1e-6 inside ceil only
    # ever LENGTHENS a prefix (docstring: float ceil can overshoot an
    # exact-integer product and silently shorten it — completeness
    # must never ride on double rounding luck).
    prefix = ranked.filter(
        F.col("rnk")
        <= F.col("n") - F.ceil(F.lit(t) * F.col("n") - F.lit(1e-6)) + 1
    ).select("gid", "tid", "rnk", "n")
    # Verification-side int arrays: sorted dense ids per group. The
    # collect_list is keyed by gid over that group's DISTINCT tokens —
    # bounded by document length (the same width as the `toks` array
    # the group row already carries), NOT by duplicate-class size, so
    # the no-wide-rows expansion rule is untouched. Lazy barrier: two
    # consumers (va/vb), one aggregate.
    gi = materialize(
        ranked.groupBy("gid").agg(
            F.sort_array(F.collect_list("tid")).alias("itoks")
        ),
        eager=False,
    )
    # Candidate generation = prefix-token equi-join + LENGTH filter:
    # J(A,B) >= t implies t * max(|A|,|B|) <= min(|A|,|B|) (from
    # |A∩B| <= min and |A∩B| >= t/(1+t)(|A|+|B|)), so size-mismatched
    # pairs drop BEFORE the distinct — on a templated corpus where
    # near-copies share even their rare tokens, this is the filter
    # that still bites when the prefix filter cannot (measured at
    # sf0.1: 12.5M token-sharing pairs -> 3.8M length-compatible).
    # The 1e-9 slack keeps exact-boundary pairs (t * max evaluates in
    # float and must not exceed min by ulps when equality holds);
    # candidates are a SUPERSET by contract — verification decides.
    pa = prefix.select(
        F.col("gid").alias("ga"),
        "tid",
        F.col("rnk").alias("rnk_a"),
        F.col("n").alias("n_a"),
    )
    # Indexed side: the SHORTER index prefix (docstring completeness
    # proof) — a subset of the probe prefix (both filters over the
    # ranked checkpoint), so it costs one filter, not a second ranked
    # pass.
    pb = prefix.filter(
        F.col("rnk")
        <= F.col("n")
        - F.ceil(F.lit(2 * t / (1 + t)) * F.col("n") - F.lit(1e-6))
        + 1
    ).select(
        F.col("gid").alias("gb"),
        "tid",
        F.col("rnk").alias("rnk_b"),
        F.col("n").alias("n_b"),
    )
    # Positional bound (docstring): |A∩B| <= min(i,j) + min(n_a-i,
    # n_b-j); required overlap is t/(1+t)(n_a+n_b). Same 1e-9
    # boundary slack, keep side.
    pos_bound = F.least(F.col("rnk_a"), F.col("rnk_b")) + F.least(
        F.col("n_a") - F.col("rnk_a"), F.col("n_b") - F.col("rnk_b")
    )
    cands = (
        pa.join(pb, "tid")
        # Orientation: probe side strictly larger under the total
        # order (n, gid) — each unordered pair joins in exactly one
        # orientation, which is what lets the indexed side keep the
        # short prefix (docstring proof needs n_b <= n_a).
        .filter(
            (F.col("n_b") < F.col("n_a"))
            | ((F.col("n_b") == F.col("n_a")) & (F.col("gb") < F.col("ga")))
        )
        .filter(
            F.lit(t) * F.greatest("n_a", "n_b")
            <= F.least("n_a", "n_b") + F.lit(1e-9)
        )
        .filter(
            pos_bound.cast("double") + F.lit(1e-9)
            >= F.lit(t / (1.0 + t)) * (F.col("n_a") + F.col("n_b"))
        )
        .select("ga", "gb")
        .distinct()
    )
    # Verification over the SORTED dense-id arrays: one row per
    # candidate GROUP pair and a single array_intersect per row —
    # never exploding candidates back onto the token table
    # (|cands| x tokens-per-doc shuffle rows). Intersecting BIGINT
    # arrays instead of the original string arrays both narrows the
    # heaviest attach join's payload and replaces per-element string
    # hashing with long equality (the measurement in the docstring); the
    # intersection SIZE is identical because token -> tid is
    # injective.
    va = gi.select(
        F.col("gid").alias("ga"),
        F.col("itoks").alias("toks_a"),
        F.size("itoks").alias("n_a"),
    )
    vb = gi.select(
        F.col("gid").alias("gb"),
        F.col("itoks").alias("toks_b"),
        F.size("itoks").alias("n_b"),
    )
    joined = cands.join(va, "ga").join(vb, "gb").withColumn(
        "inter", F.size(F.array_intersect("toks_a", "toks_b"))
    )
    jac = F.col("inter").cast("double") / (
        F.col("n_a") + F.col("n_b") - F.col("inter")
    )
    # Threshold on the UNROUNDED ratio and round only in the final
    # select (the oracle's WHERE-before-ROUND shape): filtering the
    # 6dp-rounded value would admit pairs with true J in
    # [t - 5e-7, t) that the exact filter rejects.
    gpairs = joined.filter(jac >= t).select(
        "ga", "gb", F.round(jac, 6).alias("jaccard")
    )
    # Expand verified group pairs through the (id, gid) membership
    # relation — plain equi-joins, so the pair product materializes
    # as ROWS across partitions, never as one wide array. Within-
    # group pairs (identical sets) emit at jaccard = 1.0 via a
    # membership self-join on gid; that join's per-key product IS
    # the output, and the shuffle_hash hint keeps a hot duplicate
    # class from hitting sort-merge's quadratic group rescan (the
    # fuzzy-join lesson).
    ma = members.select(F.col("gid").alias("ga"), F.col("id").alias("ia"))
    mb = members.select(F.col("gid").alias("gb"), F.col("id").alias("ib"))
    cross = (
        gpairs.join(ma, "ga")
        .join(mb, "gb")
        # Guard for the documented unique-id contract: a duplicate id
        # spanning two groups must not surface as a self-pair.
        .filter(F.col("ia") != F.col("ib"))
        .select(
            F.least("ia", "ib").alias("id_a"),
            F.greatest("ia", "ib").alias("id_b"),
            "jaccard",
        )
    )
    wa = members.select("gid", F.col("id").alias("ia"))
    wb = members.select("gid", F.col("id").alias("ib"))
    within = (
        wa.join(wb.hint("shuffle_hash"), on="gid")
        .filter(F.col("ia") < F.col("ib"))
        .select(
            F.col("ia").alias("id_a"),
            F.col("ib").alias("id_b"),
            F.lit(1.0).alias("jaccard"),
        )
    )
    return {
        "candidate_group_pairs": cands,
        "verified_group_pairs": gpairs,
        "output_pairs": cross.unionByName(within),
    }


def ppjoin_counts(
    df: DataFrame,
    text_col: str,
    id_col: str,
    threshold: float = 0.5,
) -> dict[str, int]:
    """Linearity diagnostic for ``prefix_filter_jaccard_pairs`` (the
    minhash_pair_counts discipline applied to the PPJoin path): the
    candidate funnel's volume drivers, counted off the exact frames
    the operator builds (``_ppjoin_stages``), each stage read from the
    cached one before it rather than recomputed.

    * ``candidate_group_pairs`` — distinct group pairs surviving the
      prefix + length + positional filters (what verification pays);
    * ``verified_group_pairs`` — group pairs at jaccard >= threshold;
    * ``output_pairs`` — the expanded doc-pair output (cross-group +
      within-group).

    On R disjoint token-renamed replicas every counter must read
    EXACTLY R x its base value — cross-replica token sets share no
    tokens by construction, so prefixes can never collide across
    replicas.
    """
    return stage_counts(_ppjoin_stages(df, text_col, id_col, threshold))
