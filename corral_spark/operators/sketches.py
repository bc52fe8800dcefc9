"""Frequency sketches: exact heavy hitters via a Misra-Gries
candidate pass plus an exact verification pass.

Why not a single ``groupBy(item).count()``: at 100 TB the full
distinct-item shuffle is the cost — every token of every document
crosses the network once, and a Zipf head key can hot-spot a reducer.
The classic two-pass heavy-hitter scheme avoids it:

  pass 1 (narrow, no shuffle): each partition runs a Misra-Gries
    summary of capacity ``c`` over its local items.  MG guarantees the
    stored count of any item undercounts its true partition frequency
    by at most ``n_p/(c+1)`` (Misra & Gries 1982; merge rule from
    Agarwal et al., "Mergeable Summaries", PODS 2012).  So every item
    with partition frequency > n_p/(c+1) survives the partition's
    summary.  By pigeonhole, an item with GLOBAL frequency
    >= (num/den) * n must have frequency >= (num/den) * n_p in at
    least one partition p, and with c = ceil(den/num) that exceeds
    n_p/(c+1) — so the union of the per-partition candidate sets is a
    PROVABLE SUPERSET of the true heavy hitters.  Output size is
    bounded by c * num_partitions rows regardless of data size.
  pass 2 (tiny shuffle): broadcast the candidate set, semi-join to
    keep only candidate items, exact-count just those, and filter
    cnt * den >= num * n.  The shuffle now carries only rows whose
    item is one of <= c * P candidates — the Zipf head, which
    map-side partial aggregation collapses to one row per (partition,
    item) before the exchange.

The verification pass makes the result EXACT — identical to
``GROUP BY item HAVING COUNT(*) * den >= num * n`` — which is what
lets the driver oracle hash-check a sketch-based operator.

Reference parity: the reference engine has no sketch operator; its
closest analog is the word_count reducer
(/root/reference/examples/word_count/word_count.go:29-43), which
exact-counts every key.  This module is part of the §2.4 extension
surface (LLM-pipeline vocabulary/boilerplate analysis).
"""

from __future__ import annotations

import math
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from corral_spark.materialize import materialize


def _mg_candidates(item_df: DataFrame, capacity: int) -> DataFrame:
    """Per-partition Misra-Gries summary: candidate rows (``item``
    set, ``n`` null) plus ONE sentinel row per partition (``item``
    null, ``n`` = the partition's non-null item count).  Folding the
    total count into the same pass saves a whole extra scan of the
    input — at 100 TB a third of the operator's I/O.

    mapInPandas (Arrow-batched) rather than a row-at-a-time UDF: the
    per-batch work is one vectorized ``value_counts`` merged into a
    dict bounded at ``capacity`` entries, so Python-side cost is
    O(batch) with tiny constant state — and the stage stays narrow
    (no exchange before it in the plan).
    """

    item_type = item_df.schema["item"].dataType.simpleString()

    def mg(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        counts: dict = {}
        n_part = 0
        for pdf in batches:
            col = pdf["item"].dropna()
            if col.empty:
                continue
            n_part += len(col)
            for item, c in col.value_counts().items():
                counts[item] = counts.get(item, 0) + int(c)
            if len(counts) > capacity:
                # Mergeable-summaries shrink: subtract the (c+1)-th
                # largest stored count from every entry and drop the
                # non-positive ones — at most `capacity` survive, and
                # total undercount stays <= n_p/(c+1).
                dec = sorted(counts.values(), reverse=True)[capacity]
                counts = {k: v - dec for k, v in counts.items() if v > dec}
        yield pd.DataFrame(
            {
                "item": list(counts.keys()) + [None],
                "n": [None] * len(counts) + [n_part],
            }
        )

    # Schema follows the input item type — the operator is not
    # string-specific (heavy hitters over user ids are bigint).
    return item_df.mapInPandas(mg, schema=f"item {item_type}, n long")


def frequent_items(
    items: DataFrame,
    item_col: str,
    *,
    num: int = 1,
    den: int = 1000,
) -> DataFrame:
    """Items whose frequency is >= (num/den) of the total item count,
    with their EXACT counts.  NULL items are excluded.

    Output: (item, cnt) — exactly the rows of
    ``SELECT item, COUNT(*) FROM items GROUP BY item
      HAVING COUNT(*) * den >= num * total``.
    """
    if num <= 0 or den <= 0:
        raise ValueError("num and den must be positive")
    slim = items.select(F.col(item_col).alias("item")).filter(
        F.col("item").isNotNull()
    )
    capacity = max(1, math.ceil(den / num))
    # The summary is <= (capacity + 1) * num_partitions rows by
    # construction, so materializing it (lazy localCheckpoint: runs
    # with the first action, reused by both consumers below) is cheap
    # and keeps the operator at TWO scans of the input — without it,
    # the candidate branch and the total branch would each re-execute
    # the MG pass.
    summary = materialize(_mg_candidates(slim, capacity), eager=False)
    # Candidate items need no dedup: the LeftSemi build side hashes to
    # a set anyway, and skipping distinct() avoids a shuffle stage.
    cands = summary.filter(F.col("item").isNotNull()).select("item")
    total = summary.agg(
        F.coalesce(F.sum("n"), F.lit(0)).alias("__n")
    )
    # Forcing broadcast is provably safe here (bounded candidate set),
    # unlike a data-scaling dim table.
    exact = (
        slim.join(F.broadcast(cands), on="item", how="leftsemi")
        .groupBy("item")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    return (
        exact.join(F.broadcast(total))
        .filter(F.col("cnt") * F.lit(den) >= F.lit(num) * F.col("__n"))
        .select("item", "cnt")
    )


def grouped_top_k(
    items: DataFrame,
    group_col: str,
    item_col: str,
    k: int,
    count_col: str = "cnt",
    rank_col: str = "rank",
) -> DataFrame:
    """Exact per-group top-k items by frequency (groupwise heavy
    hitters, e.g. top tokens per language).

    Shape: one partial-aggregated ``groupBy(group, item).count()``
    (map-side combine collapses the Zipf head before the exchange),
    then a ``row_number`` window partitioned by group.  Spark's
    WindowGroupLimit pushes the ``rank <= k`` bound below the window
    exchange — each map task keeps only its local top-k per group
    before shuffling — so the window stage moves O(k * groups * tasks)
    rows, not the whole (group, item) frequency table.  Ties break by
    item value ascending for cross-engine determinism.
    """
    from pyspark.sql import Window

    counts = items.groupBy(group_col, item_col).agg(
        F.count(F.lit(1)).alias(count_col)
    )
    w = Window.partitionBy(group_col).orderBy(
        F.desc(count_col), F.asc(item_col)
    )
    return counts.withColumn(rank_col, F.row_number().over(w)).filter(
        F.col(rank_col) <= k
    )


# ---------------------------------------------------------------------------
# Expression-native Bloom filter (incremental-ingest prefilter)
# ---------------------------------------------------------------------------
#
# Spark's internal bloom_filter_agg/might_contain expressions are not
# registered as public SQL routines, so this is a from-scratch Bloom
# filter built ENTIRELY from whole-stage-codegen expressions: k probe
# positions per key via seeded xxhash64, bits packed into an
# array<long> of m/64 words (built with one bit_or aggregation), and
# membership tested with element_at + bitwise AND against the single
# broadcast filter row. No UDF anywhere; the probe math runs inside
# the scan projection.
#
# Use case (100 TB posture): incremental ingest against a huge seen
# corpus. A plain anti-join shuffles BOTH sides on the key; with the
# filter, rows whose probes miss are provably unseen (Bloom filters
# have no false negatives) and skip the shuffle entirely — only the
# ~fpp fraction of "maybe" rows pays the exact anti-join, so shuffle
# volume drops from O(incoming + corpus) to O(corpus_keys + fpp *
# incoming). The dense word array is assembled ENTIRELY JVM-side (one
# bit_or aggregation folded into a map, then a sequence/transform
# projection — the driver never materializes the words) and its size
# is bounded by the filter, independent of data size.
#
# Sizing ceiling: m_bits must grow with the build set's cardinality to
# hold the fpp (~ -n*ln(p)/ln(2)^2 bits: 10^9 keys @1% ≈ 2^33 bits),
# and past BLOOM_DENSE_MAX_BITS a single-row array is the broadcast /
# task-memory ceiling. Above it the filter lives as a DISTRIBUTED
# register file — (word-index, word) rows, the hll_registers
# discipline — and probing becomes a word-index equi-join instead of a
# broadcast lookup (k*incoming probe rows + m/64 register rows — still
# far below the corpus-key shuffle it replaces whenever the filter is
# smaller than the corpus, which is the definition of a useful Bloom
# filter). Exactness of bloom_new_rows is preserved either way by the
# anti-join verification of "maybe" rows.

BLOOM_DENSE_MAX_BITS = 1 << 27  #: 128 Mbit = 16 MB/row — past this the
#: filter is a register-file DataFrame, never a single array row.


def _shl1(bits):
    """1L << bits with a COLUMN shift amount (F.shiftleft only takes a
    literal int count; call_function routes to the SQL builtin)."""
    return F.call_function("shiftleft", F.lit(1).cast("long"), bits.cast("int"))


def _bloom_probes(key, m_bits: int, k: int):
    return [
        F.pmod(F.xxhash64(key, F.lit(i)), F.lit(m_bits)) for i in range(k)
    ]


def bloom_build(
    df: DataFrame, key_col: str, m_bits: int = 1 << 20, k: int = 5
) -> DataFrame:
    """One-row DataFrame (bf: array<long>, m_bits, k) encoding a Bloom
    filter of ``df[key_col]``. m_bits must be a multiple of 64 and at
    most BLOOM_DENSE_MAX_BITS (use bloom_build_registers above that —
    a single dense row past ~16 MB is the broadcast ceiling). The
    dense array never touches the driver, and its assembly is
    O(nwords log nwords): a generated word-index frame left-joins the
    sparse (w, m) rows, and the dense array is the m-projection of the
    index-sorted collect_list — never a per-index map lookup (Spark's
    MapType element_at is a linear key scan, so a map-based expansion
    would cost O(nwords * touched_words) in one task — a multi-hour
    cliff at the 2^27-bit ceiling)."""
    if m_bits % 64:
        raise ValueError("m_bits must be a multiple of 64")
    if m_bits > BLOOM_DENSE_MAX_BITS:
        raise ValueError(
            f"m_bits={m_bits} exceeds BLOOM_DENSE_MAX_BITS="
            f"{BLOOM_DENSE_MAX_BITS}; use bloom_build_registers / "
            "bloom_new_rows (which auto-selects the register-file path)"
        )
    nwords = m_bits // 64
    idx = df.sparkSession.range(nwords).select(
        F.col("id").cast("long").alias("w")
    )
    dense = idx.join(
        _bloom_sparse_words(df, key_col, m_bits, k), on="w", how="left"
    ).select("w", F.coalesce("m", F.lit(0).cast("long")).alias("m"))
    return (
        dense.groupBy()
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("w", "m"))),
                lambda s: s["m"],
            ).alias("bf")
        )
        .select(
            "bf",
            F.lit(m_bits).cast("long").alias("m_bits"),
            F.lit(k).cast("int").alias("k"),
        )
    )


def _bloom_sparse_words(
    df: DataFrame, key_col: str, m_bits: int, k: int
) -> DataFrame:
    """(w, m) rows — word index and OR-folded 64-bit word — for every
    word touched by some key's probes. Partial-aggregated bit_or, so
    the exchange carries at most min(k * keys, m/64) rows per map
    task."""
    probes = F.array(*_bloom_probes(F.col(key_col), m_bits, k))
    return (
        df.select(F.explode(probes).alias("p"))
        .select(
            (F.col("p") / 64).cast("long").alias("w"),
            _shl1(F.col("p") % 64).alias("m"),
        )
        .groupBy("w")
        .agg(F.bit_or("m").alias("m"))
    )


def bloom_build_registers(
    df: DataFrame, key_col: str, m_bits: int, k: int = 5
) -> DataFrame:
    """Register-file form of the Bloom filter: (w, m) rows, DISTRIBUTED
    — no single-row array, no driver materialization, no broadcast
    ceiling, so m_bits can be sized for 10^9+ keys. Probe with
    bloom_might_contain_registers. Mergeable like hll_registers:
    union + bit_or-per-word == filter of the union."""
    if m_bits % 64:
        raise ValueError("m_bits must be a multiple of 64")
    return _bloom_sparse_words(df, key_col, m_bits, k)


def bloom_might_contain_registers(
    regs: DataFrame,
    df: DataFrame,
    key_col: str,
    m_bits: int,
    k: int,
) -> DataFrame:
    """``df`` plus ``__might``, probing a register-file filter via a
    word-index equi-join keyed on the probe KEY itself — no synthetic
    row id. (The previous form tagged rows with
    monotonically_increasing_id and self-joined; under the `persist`
    materialization mode an evicted partition re-evaluates that id
    independently on the two plan branches, so a nondeterministic or
    AQE-repartitioned upstream could misalign flags. ``__might`` is a
    pure function of the key, so keying the probe on distinct keys is
    both safe and cheaper — duplicates probe once.)

    Plan: distinct keys explode into k probe words, left-join the
    register file (absent word == all-zero word == certain miss), AND
    the k hit bits per key, then left-join the per-key flag back onto
    ``df``. NULL-key rows get a NULL ``__might`` (a NULL never
    equi-joins; callers that must route NULLs filter first —
    bloom_new_rows does). Shuffle volume is k rows per DISTINCT probed
    key plus the m/64 register rows — independent of the build
    corpus's row count, which is the whole point at 100 TB."""
    keys = (
        df.select(F.col(key_col).alias("__key"))
        .where(F.col("__key").isNotNull())
        .distinct()
    )
    pr = keys.select(
        "__key",
        F.explode(F.array(*_bloom_probes(F.col("__key"), m_bits, k))).alias(
            "p"
        ),
    ).select(
        "__key",
        (F.col("p") / 64).cast("long").alias("w"),
        _shl1(F.col("p") % 64).alias("m"),
    )
    flags = (
        pr.join(regs.withColumnRenamed("m", "__word"), on="w", how="left")
        .select(
            "__key",
            (
                F.coalesce(F.col("__word"), F.lit(0).cast("long")).bitwiseAND(
                    F.col("m")
                )
                != 0
            )
            .cast("int")
            .alias("__hit"),
        )
        .groupBy("__key")
        .agg((F.min("__hit") == 1).alias("__might"))
    )
    return df.join(
        flags, on=df[key_col] == flags["__key"], how="left"
    ).drop("__key")


def bloom_might_contain(
    bf: DataFrame,
    df: DataFrame,
    key_col: str,
    m_bits: int | None = None,
    k: int | None = None,
):
    """``df`` plus a ``__might`` boolean: False is a PROOF the key was
    not in the filter's build set; True means "seen or false
    positive". ``bf`` is broadcast — one filter row against the whole
    scan, membership math fully codegen'd. Pass ``m_bits``/``k`` when
    the caller already knows them (bloom_new_rows does) — otherwise
    ``bf`` is MATERIALIZED first and the params read from it: the
    filter build is a lazy corpus-sized aggregation (no driver
    collect), so without the checkpoint the ``first()``
    here AND the broadcast below would each recompute the whole
    build."""
    if m_bits is None or k is None:
        bf = materialize(bf, eager=False)
        params = bf.select("m_bits", "k").first()
        m_bits, k = params["m_bits"], params["k"]
    bf_row = bf.select(F.col("bf").alias("__bf"))
    joined = df.crossJoin(F.broadcast(bf_row))
    cond = F.lit(True)
    for p in _bloom_probes(F.col(key_col), int(m_bits), int(k)):
        word = F.element_at(F.col("__bf"), (p / 64).cast("int") + F.lit(1))
        mask = _shl1(p % 64)
        cond = cond & (word.bitwiseAND(mask) != 0)
    return joined.withColumn("__might", cond).drop("__bf")


def bloom_new_rows(
    existing: DataFrame,
    incoming: DataFrame,
    key_col: str,
    m_bits: int = 1 << 20,
    k: int = 5,
) -> DataFrame:
    """Rows of ``incoming`` whose ``key_col`` does not appear in
    ``existing`` — EXACT anti-join semantics, Bloom-accelerated:
    definitely-new rows (probe miss) bypass the shuffle; only "maybe"
    rows are exact-checked with a left_anti join. The union is exactly
    the anti-join result, so the operator is oracle-checkable while
    the plan scales like the filter, not like the corpus.

    m_bits above BLOOM_DENSE_MAX_BITS automatically switches from the
    broadcast dense-array filter to the distributed register-file
    form (bloom_build_registers + word-index join probing) — same
    bits, same result, no single-row ceiling.

    NULL-key incoming rows bypass the probe entirely and are emitted
    as new: a NULL never equi-joins, so the plain left_anti keeps such
    rows — whereas a NULL probe would make ``__might`` NULL and the
    row would silently match NEITHER filter branch."""
    null_rows = incoming.filter(F.col(key_col).isNull())
    incoming = incoming.filter(F.col(key_col).isNotNull())
    if m_bits > BLOOM_DENSE_MAX_BITS:
        regs = materialize(
            bloom_build_registers(existing, key_col, m_bits, k), eager=False
        )
        flagged = bloom_might_contain_registers(
            regs, incoming, key_col, m_bits, k
        )
    else:
        bf = bloom_build(existing, key_col, m_bits, k)
        flagged = bloom_might_contain(bf, incoming, key_col, m_bits, k)
    definitely_new = flagged.filter(~F.col("__might")).drop("__might")
    maybe = flagged.filter(F.col("__might")).drop("__might")
    verified_new = maybe.join(
        # The existing-keys side is the WHOLE existing corpus's
        # distinct keys — corpus-scaled; the broadcast audit
        # caught Catalyst building it as a driver broadcast (full
        # document texts in the registry query). shuffle_hash per
        # the corpus-scaled join rule. The bloom pass above already
        # shrank `maybe` to the tiny might-contain set, so this
        # anti-join is cheap either way — the point of the sketch.
        existing.select(F.col(key_col)).distinct().hint("shuffle_hash"),
        on=key_col,
        how="left_anti",
    )
    return definitely_new.unionByName(verified_new).unionByName(null_rows)


# ---------------------------------------------------------------------------
# Count-Min Sketch (expression-native, cross-engine-replayable)
# ---------------------------------------------------------------------------
#
# The frequency-estimation sibling of the Bloom filter above: a
# depth x width counter grid where each key increments one counter per
# row (depth independent hashes) and is estimated by the MINIMUM of its
# depth counters — always an overestimate, within eps*N with
# probability 1-delta for width=e/eps, depth=ln(1/delta) (Cormode &
# Muthukrishnan). Unlike Misra-Gries (exact top-k via 2-pass verify,
# above) a CMS answers point queries for ANY key from a fixed-size
# summary, the shape a 100 TB profile/monitoring pass wants: the sketch
# is a (depth*width)-row table built by ONE partial-aggregated groupBy
# over depth probe rows per item — map-side combine collapses the Zipf
# head before the exchange — and estimation broadcasts the tiny grid.
#
# Probes use the md5 trick from operators/sampling.py (first 8 hex
# chars as an integer) rather than xxhash64, so a DuckDB oracle can
# replay the sketch BIT-EXACTLY — the same engine-portability
# discipline as the sampling and fingerprint families.


def _cms_pos(key, i: int, width: int):
    return (
        F.conv(
            F.substring(F.md5(F.concat(F.lit(f"cms{i}:"), key)), 1, 8), 16, 10
        ).cast("long")
        % width
    )


def cms_build(
    df: DataFrame, key_col: str, depth: int = 4, width: int = 256
) -> DataFrame:
    """Count-Min Sketch of ``df[key_col]`` as a (d, pos, cnt) table
    (at most depth*width rows — only touched counters materialize;
    an absent (d, pos) row IS the zero counter)."""
    probes = F.array(
        *[
            F.struct(
                F.lit(i).alias("d"),
                _cms_pos(F.col(key_col), i, width).alias("pos"),
            )
            for i in range(depth)
        ]
    )
    return (
        df.select(F.explode(probes).alias("p"))
        .select("p.d", "p.pos")
        .groupBy("d", "pos")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def cms_estimate(
    keys: DataFrame,
    sketch: DataFrame,
    key_col: str,
    depth: int = 4,
    width: int = 256,
) -> DataFrame:
    """``keys`` plus an ``est_cnt`` column: the CMS estimate
    min_d(counter[d][pos_d(key)]) for each row's key. The sketch is
    broadcast (depth*width rows by construction); estimation is one
    explode + broadcast join + min aggregate, no corpus shuffle."""
    probed = keys.select(
        key_col,
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("d"),
                        _cms_pos(F.col(key_col), i, width).alias("pos"),
                    )
                    for i in range(depth)
                ]
            )
        ).alias("p"),
    ).select(key_col, "p.d", "p.pos")
    joined = probed.join(F.broadcast(sketch), on=["d", "pos"], how="left")
    return joined.groupBy(key_col).agg(
        F.min(F.coalesce(F.col("cnt"), F.lit(0))).alias("est_cnt")
    )


# ---------------------------------------------------------------------------
# HyperLogLog, expression-native and engine-portable.
#
# Reference parity note: the reference engine has no sketch layer at all
# (its only aggregation is the exact reducer loop, word_count.go:48-57);
# HLL is part of the mandated extension surface — THE constant-memory
# distinct counter a 100 TB profile pass needs (exact count-distinct of
# l_partkey at 100 TB is a full shuffle of every distinct value; an HLL
# register file is 2^b rows per group, mergeable across days/partitions).
#
# Spark ships approx_count_distinct (HLL++), and `approx_distinct_parts`
# exposes it — but its sketch is engine-internal, so that row is gated
# rows-only. This implementation trades HLL++'s bias tables for the
# CLASSIC Flajolet HLL estimator built from md5-derived expressions, so
# a DuckDB oracle replays the register file and the raw estimate
# BIT-EXACTLY (same discipline as cms_build above):
#
#   bucket = first 16 hash bits mod m       (m = 2^b registers)
#   rho    = leading-zero count of the next 48 bits + 1   (1..49)
#
# rho is computed from the hex STRING (leading-'0' run length * 4 plus a
# 4-way CASE on the first non-zero nibble) — no float log2 on the hot
# path, so there is no cross-engine floor(log2()) ulp hazard. The
# register sum is kept as the exact integer sum(2^(49-rho)) (each term a
# power of two <= 2^48, total <= m*2^49 < 2^63 — order-independent, no
# float accumulation), and the one double op — alpha*m^2*2^49/sum — is a
# single correctly-rounded IEEE division, identical in every engine.
# ---------------------------------------------------------------------------

HLL_B = 10  #: default register-index bits (m=1024 -> ~3.25% std error);
#: valid range is 1..16 — the bucket index is carved from the first 16
#: hash bits, so hll_registers rejects anything larger.


def _hll_alpha_num(m: int) -> float:
    """alpha_m * m^2 * 2^49 as ONE python double, embedded verbatim in
    both the Spark plan and any SQL oracle so both engines divide the
    same numerator (repr round-trips doubles exactly)."""
    return 0.7213 / (1.0 + 1.079 / m) * m * m * float(2**49)


def hll_registers(
    df: DataFrame, key_col: str, group_cols: tuple = (), b: int = HLL_B
) -> DataFrame:
    """HLL register file for ``key_col`` per group: (group_cols...,
    bucket, rho) with at most 2^b rows per group. One partial-aggregated
    groupBy — map-side max collapses each partition's registers before
    the exchange, so the shuffle is O(m) per group regardless of input
    size. Registers are MERGEABLE: union + max-per-bucket == sketch of
    the union (see hll_merge), the property that lets 100 TB be
    sketched per-partition/per-day and combined.

    NULL keys are excluded (standard HLL semantics — a NULL would
    otherwise mint a phantom (NULL, NULL) register that inflates
    ``filled`` and skews the linear-counting branch). ``b`` is capped
    at 16 because the bucket index is derived from the first 16 hash
    bits (substring(h, 1, 4)); a larger ``b`` would silently alias
    buckets and bias the estimator."""
    if not 1 <= b <= 16:
        raise ValueError("b must be in [1, 16]: bucket uses 16 hash bits")
    from corral_spark.operators.dedup import spread_input

    m = 1 << b
    # Project to the key + group columns, then conditionally re-spread:
    # the per-row register computation (md5 + base-conv + regex strip)
    # is the expensive part, and on a small single-row-group scan it
    # would otherwise run on one core (spread_input no-ops whenever the
    # scan is already parallel — the 100 TB case).
    df = spread_input(
        df.filter(F.col(key_col).isNotNull()).select(*group_cols, key_col)
    )
    h = F.md5(F.concat(F.lit("hll:"), F.col(key_col).cast("string")))
    bucket = (
        F.conv(F.substring(h, 1, 4), 16, 10).cast("long") % m
    ).alias("bucket")
    hex12 = F.substring(h, 5, 12)
    stripped = F.regexp_replace(hex12, "^0*", "")
    lead_nibble = F.conv(F.substring(stripped, 1, 1), 16, 10).cast("int")
    nib_lz = (
        F.when(lead_nibble >= 8, 0)
        .when(lead_nibble >= 4, 1)
        .when(lead_nibble >= 2, 2)
        .otherwise(3)
    )
    rho = (
        F.when(F.length(stripped) == 0, F.lit(49))
        .otherwise((12 - F.length(stripped)) * 4 + nib_lz + 1)
        .alias("rho")
    )
    return (
        df.select(*group_cols, bucket, rho)
        .groupBy(*group_cols, "bucket")
        .agg(F.max("rho").alias("rho"))
    )


def hll_merge(*register_dfs: DataFrame) -> DataFrame:
    """Merge register files built by hll_registers over the SAME
    (group_cols, b): union + max per bucket. Exactly equals the sketch
    of the concatenated inputs (max is associative/commutative/
    idempotent), so partial sketches compose without rescanning."""
    out = register_dfs[0]
    for nxt in register_dfs[1:]:
        out = out.unionByName(nxt)
    keys = [c for c in out.columns if c != "rho"]
    return out.groupBy(*keys).agg(F.max("rho").alias("rho"))


def hll_estimate(
    registers: DataFrame, group_cols: tuple = (), b: int = HLL_B
) -> DataFrame:
    """Cardinality per group from a register file: exact-integer
    columns (filled register count, 2^(49-rho) register sum including
    the m-filled empty-bucket mass) plus the classic HLL estimate with
    the small-range linear-counting correction (E <= 2.5m and empty
    buckets -> m*ln(m/V)). `hll_raw` (floor of one IEEE division) is
    the bit-portable contract; `hll_est` adds the ln()-based correction
    whose last-ulp behavior is libm-specific, so oracled queries pin
    hll_raw and pytest bounds hll_est against exact counts."""
    m = 1 << b
    num = _hll_alpha_num(m)
    per_group = registers.groupBy(*group_cols).agg(
        F.count(F.lit(1)).alias("filled"),
        F.sum(F.pow(F.lit(2.0), 49 - F.col("rho")).cast("long")).alias(
            "reg_sum_filled"
        ),
    )
    total = F.col("reg_sum_filled") + (m - F.col("filled")) * F.lit(2**49)
    raw = F.floor(F.lit(num) / total.cast("double")).cast("long")
    v = m - F.col("filled")
    lc = F.floor(F.lit(float(m)) * F.log(F.lit(float(m)) / v)).cast("long")
    est = F.when((raw <= int(2.5 * m)) & (v > 0), lc).otherwise(raw)
    return per_group.select(
        *group_cols,
        "filled",
        total.alias("reg_sum"),
        raw.alias("hll_raw"),
        est.alias("hll_est"),
    )


# ---------------------------------------------------------------------------
# Bottom-k (KMV) sketch: a mergeable, DETERMINISTIC uniform sample.
#
# The k smallest md5-ranked distinct keys are simultaneously (a) a
# uniform-without-replacement sample of the distinct keys — usable for
# sampled quantiles/means of any per-key statistic — and (b) a
# cardinality estimator: if the k-th smallest of D hashes uniform on
# [0, 2^32) is h_k, then D ~ (k-1) * 2^32 / h_k (the classic KMV / k-th
# minimum value estimator). Unlike a Bernoulli sample, the sketch has a
# HARD size bound (k rows per group, no matter the input), and unlike a
# reservoir it is deterministic and MERGEABLE: bottom-k of a union ==
# bottom-k of the merged per-partition bottom-k's, so 100 TB can be
# sampled per-partition/per-day and combined without rescanning —
# the same composability contract as hll_merge above.
#
# Everything is md5-derived integer arithmetic plus ONE IEEE double
# division, so a DuckDB oracle replays the sketch and the estimate
# bit-exactly (the discipline shared by cms_build / hll_registers).
# ---------------------------------------------------------------------------


def bottomk_sketch(
    df: DataFrame,
    key_col: str,
    k: int = 256,
    group_cols: tuple = (),
    keep_cols: tuple = (),
) -> DataFrame:
    """The k distinct keys with the smallest md5 rank per group:
    (group_cols..., key_col, keep_cols..., h, rnk). ``keep_cols`` ride
    along for sampled statistics (must be functionally determined by
    the key, e.g. per-doc token counts keyed by doc_id, and must be
    SCALAR columns — the local pass dedups with pandas, which cannot
    hash array/map values). NULL keys are excluded (they carry no md5
    rank and would otherwise sort engine-dependently at the k
    boundary). Key ordering is consistent across the pandas local pass
    and the JVM global rank for strings too: UTF-8 byte order equals
    code-point order, which is Python's str order.

    Build shuffle is bounded at k rows per group PER PARTITION: a
    narrow Arrow ``mapInPandas`` pass (the Misra-Gries discipline
    above) dedups each input partition locally and keeps only its
    local bottom-k per group, so the exchange that follows carries at
    most k * num_partitions rows per group — never the full distinct
    key set. (A global ``.distinct()`` first — the naive plan — costs
    the same exchange as an exact count-distinct, the workload the
    sketch exists to avoid.) The global merge is then the operator's
    own merge law (``bottomk_merge``): the k smallest of a union are
    among the union of each part's k smallest, so distinct + re-rank
    over the tiny local summaries is EXACTLY the sketch of the full
    input — same rows, same ranks, independent of partitioning."""
    from pyspark.sql.window import Window

    h = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("bk:"), F.col(key_col).cast("string"))),
                1,
                8,
            ),
            16,
            10,
        )
        .cast("long")
        .alias("h")
    )
    slim = (
        df.filter(F.col(key_col).isNotNull())
        .select(*group_cols, key_col, *keep_cols)
        .select("*", h)
    )
    gl = list(group_cols)
    sort_cols = gl + ["h", key_col]

    def local_bottomk(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # Incremental fold: state never exceeds k rows per group seen
        # so far plus one Arrow batch, regardless of partition size.
        acc: pd.DataFrame | None = None
        for pdf in batches:
            cur = (
                pdf
                if acc is None
                else pd.concat([acc, pdf], ignore_index=True)
            )
            cur = cur.drop_duplicates()
            cur = cur.sort_values(sort_cols, kind="mergesort")
            if gl:
                # dropna=False: a NULL GROUP is a legitimate group (only
                # NULL KEYS are excluded, by the filter above) — pandas'
                # default dropna=True would silently erase its rows.
                cur = cur.groupby(gl, sort=False, dropna=False).head(k)
            else:
                cur = cur.head(k)
            acc = cur
        if acc is not None:
            yield acc

    local = slim.mapInPandas(local_bottomk, schema=slim.schema)
    # Cross-partition duplicates of one key survive the local pass
    # (each partition dedups only itself) — drop them before ranking
    # or row_number would count a key once per partition it appears
    # in. Both the distinct and the window run over <= k * partitions
    # rows per group.
    # tie-break on the key itself: a 32-bit hash collision at the k
    # boundary must not make the sample order engine-dependent
    w = Window.partitionBy(*[F.col(c) for c in group_cols]).orderBy(
        "h", key_col
    )
    return (
        local.distinct()
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
    )


def bottomk_merge(
    k: int, *sketches: DataFrame, group_cols: tuple = ()
) -> DataFrame:
    """Merge bottom-k sketches over the SAME (key, group, k): union,
    drop exact-duplicate keys, re-rank, keep k. Exactly equals the
    sketch of the concatenated inputs (the k smallest of a union are
    among the union of each part's k smallest)."""
    from pyspark.sql.window import Window

    out = sketches[0]
    for nxt in sketches[1:]:
        out = out.unionByName(nxt)
    dedup = out.drop("rnk").distinct()
    keyish = [c for c in dedup.columns if c not in ("h",) and c not in group_cols]
    w = Window.partitionBy(*[F.col(c) for c in group_cols]).orderBy(
        "h", *keyish
    )
    return dedup.withColumn("rnk", F.row_number().over(w)).filter(
        F.col("rnk") <= k
    )


def bottomk_distinct_estimate(
    sketch: DataFrame, k: int, group_cols: tuple = ()
) -> DataFrame:
    """Distinct-key count per group from a bottom-k sketch: exact when
    the group holds fewer than k keys (the sketch IS the key set),
    else the KMV estimator floor((k-1) * 2^32 / h_k). One double
    division — bit-portable across engines."""
    per_group = sketch.groupBy(*group_cols).agg(
        F.count(F.lit(1)).alias("sample_n"),
        F.max(F.when(F.col("rnk") == k, F.col("h"))).alias("h_k"),
    )
    # greatest(h_k, 1): h ranges over [0, 2^32) INCLUDING 0, and a
    # division by zero diverges across engines (Spark non-ANSI
    # saturates the long cast at Long.MaxValue, DuckDB errors). With
    # h_k clamped to 1 the estimate degrades to (k-1)*2^32 — the
    # correct order of magnitude when the k-th smallest hash really
    # is 0 — and both engines compute the identical value.
    est = (
        F.when(F.col("sample_n") < k, F.col("sample_n"))
        .otherwise(
            F.floor(
                F.lit(float((k - 1) * 2**32))
                / F.greatest(F.col("h_k"), F.lit(1)).cast("double")
            )
        )
        .cast("long")
    )
    return per_group.select(*group_cols, "sample_n", est.alias("est_distinct"))


def sampled_quantiles(
    sketch: DataFrame,
    value_col: str,
    qs: tuple = (0.5, 0.9),
    group_cols: tuple = (),
) -> DataFrame:
    """Deterministic lower-interpolation quantiles of ``value_col``
    over the sample: sort by (value, h), pick index floor(q*(n-1)).
    Because the bottom-k keys are a uniform sample of the distinct
    keys, these estimate the population quantiles with the usual
    order-statistic error (~1/sqrt(k)); because everything is integer
    ranks over md5-fixed rows, an oracle replays them bit-exactly."""
    from pyspark.sql.window import Window

    w = Window.partitionBy(*[F.col(c) for c in group_cols]).orderBy(
        F.col(value_col), F.col("h")
    )
    n = Window.partitionBy(*[F.col(c) for c in group_cols])
    ranked = sketch.select(
        *group_cols,
        value_col,
        F.row_number().over(w).alias("vr"),
        F.count(F.lit(1)).over(n).alias("n"),
    )
    picks = [
        F.max(
            F.when(
                F.col("vr")
                == F.floor(F.lit(q) * (F.col("n") - 1)).cast("int") + 1,
                F.col(value_col),
            )
        ).alias(f"q{int(q * 100)}")
        for q in qs
    ]
    return ranked.groupBy(*group_cols).agg(*picks)


# ---------------------------------------------------------------------------
# Mergeable equi-width histogram: the fixed-size distribution sketch.
#
# An equi-width histogram over a declared [lo, hi) value range is the
# cheapest mergeable distribution summary there is: ONE partial-
# aggregated groupBy whose shuffle is O(nbins) per group regardless of
# input size (map-side combine collapses each partition's bins before
# the exchange), and two histograms over the same (range, nbins) merge
# by summing counts — so a 100 TB fact table can be histogrammed
# per-partition/per-day and combined without rescanning, the same
# composability contract as hll_merge / bottomk_merge. Quantile
# readout walks the cumulative counts and answers with a bin upper
# edge — error bounded by one bin width, a DECLARED precision, unlike
# an exact percentile whose full sort is the thing that does not
# survive a 100x scale-up.
#
# Everything is per-row IEEE double arithmetic with one floor plus
# integer count algebra, so a DuckDB oracle replays the sketch and the
# quantile readout bit-exactly (the cms_build / hll_registers
# discipline).
# ---------------------------------------------------------------------------


def histogram_sketch(
    df: DataFrame,
    value_col: str,
    lo: float,
    hi: float,
    nbins: int,
    group_cols: tuple = (),
) -> DataFrame:
    """Equi-width histogram of ``value_col`` per group: (group_cols...,
    bin, cnt) with at most ``nbins`` rows per group. bin =
    floor((v - lo) * nbins / (hi - lo)) clamped to [0, nbins-1], so
    out-of-range values land in the edge bins instead of being lost
    (a tail quantile read from a clamped edge bin is still correct:
    the answer is "at or beyond the declared range"). NULLs excluded.

    The expression shape ((v - lo) * nbins) / (hi - lo) is part of the
    contract: left-associated IEEE double ops replay bit-exactly in
    any engine, which is what lets the oracle rebuild the bins."""
    if nbins < 1:
        raise ValueError("nbins must be >= 1")
    if not hi > lo:
        raise ValueError("need hi > lo")
    raw_bin = F.floor(
        (F.col(value_col) - F.lit(float(lo)))
        * F.lit(float(nbins))
        / F.lit(float(hi) - float(lo))
    )
    bin_ = F.least(
        F.greatest(raw_bin, F.lit(0)), F.lit(nbins - 1)
    ).cast("int")
    return (
        df.filter(F.col(value_col).isNotNull())
        .select(*group_cols, bin_.alias("bin"))
        .groupBy(*group_cols, "bin")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def histogram_merge(*hists: DataFrame) -> DataFrame:
    """Merge histograms built by histogram_sketch over the SAME
    (lo, hi, nbins, group_cols): union + sum per bin. Exactly equals
    the histogram of the concatenated inputs (count addition is
    associative/commutative), so partial sketches compose without
    rescanning."""
    out = hists[0]
    for nxt in hists[1:]:
        out = out.unionByName(nxt)
    keys = [c for c in out.columns if c != "cnt"]
    return out.groupBy(*keys).agg(F.sum("cnt").alias("cnt"))


def histogram_quantiles(
    hist: DataFrame,
    lo: float,
    hi: float,
    nbins: int,
    qs: tuple = (0.5, 0.9, 0.99),
    group_cols: tuple = (),
) -> DataFrame:
    """Quantile readout from an equi-width histogram: for each q, the
    UPPER EDGE of the first bin whose cumulative count reaches
    ceil(q * n) — a value guaranteed >= the true q-quantile and less
    than one bin width above it. Columns q50/q90/... (rounded 4 dp;
    the edge arithmetic lo + (bin+1) * (hi-lo) / nbins is the same
    left-associated IEEE shape as the bin rule, so it replays
    bit-exactly). The cumulative walk runs over <= nbins rows per
    group — driver-free, shuffle O(nbins)."""
    from pyspark.sql.window import Window

    w = (
        Window.partitionBy(*[F.col(c) for c in group_cols])
        .orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    n = Window.partitionBy(*[F.col(c) for c in group_cols])
    cum = hist.select(
        *group_cols,
        "bin",
        F.sum("cnt").over(w).alias("cum"),
        F.sum("cnt").over(n).alias("n"),
    )
    picks = [
        F.round(
            F.lit(float(lo))
            + (
                F.min(
                    F.when(
                        F.col("cum")
                        >= F.ceil(F.lit(float(q)) * F.col("n")),
                        F.col("bin"),
                    )
                )
                + F.lit(1)
            )
            * F.lit(float(hi) - float(lo))
            / F.lit(float(nbins)),
            4,
        ).alias(f"q{int(q * 100)}")
        for q in qs
    ]
    return cum.groupBy(*group_cols).agg(*picks)


def hll_set_algebra(
    reg_a: DataFrame,
    reg_b: DataFrame,
    group_cols: tuple = (),
    b: int = HLL_B,
) -> DataFrame:
    """Set algebra over two HLL register files built on the SAME
    (group_cols, b): per group, the raw estimates of |A|, |B|, and
    |A u B| (from hll_merge — max per bucket, the lossless sketch
    union), plus the inclusion-exclusion intersection estimate
    max(0, est_a + est_b - est_union) and a Jaccard estimate
    (intersect / union, 4 dp). This is how distinct-overlap questions
    get answered at 100 TB: each corpus keeps an O(m) register file,
    and overlap needs only the two sketches — no join, no rescan.

    All arithmetic is over hll_raw (exact-integer register mass + one
    floor'd IEEE division — the bit-portable contract), so a DuckDB
    oracle replays every column. The intersection estimator's error
    grows with |A u B| (standard inclusion-exclusion caveat: it is a
    difference of large estimates), which is why the columns expose
    the operands, not just the derived overlap. Grouped form joins
    INNER on group_cols: a group present in only one register file
    has no defined overlap and is omitted (union its keys and
    left-join if absent-means-empty semantics are wanted)."""
    ea = hll_estimate(reg_a, group_cols, b).select(
        *group_cols, F.col("hll_raw").alias("est_a")
    )
    eb = hll_estimate(reg_b, group_cols, b).select(
        *group_cols, F.col("hll_raw").alias("est_b")
    )
    eu = hll_estimate(hll_merge(reg_a, reg_b), group_cols, b).select(
        *group_cols, F.col("hll_raw").alias("est_union")
    )
    if group_cols:
        joined = ea.join(eb, list(group_cols)).join(eu, list(group_cols))
    else:
        joined = ea.crossJoin(eb).crossJoin(eu)
    inter = F.greatest(
        F.lit(0).cast("long"),
        F.col("est_a") + F.col("est_b") - F.col("est_union"),
    )
    return joined.select(
        *group_cols,
        "est_a",
        "est_b",
        "est_union",
        inter.alias("est_intersect"),
        F.round(
            inter.cast("double") / F.col("est_union").cast("double"), 4
        ).alias("jaccard_est"),
    )
