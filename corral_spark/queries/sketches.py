"""Sketch queries (operators.sketches): heavy hitters, Count-Min,
equi-width histograms, HyperLogLog register files and their merge and
set algebra, bottom-k samples, and Bloom-filtered incremental dedup.
Each sketch is md5- or integer-derived so DuckDB replays construction
and estimation bit-exactly; each is mergeable across partitions, the
property that lets a 100 TB corpus be summarized without rescanning.
No reference analog (SURVEY §2.4).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from corral_spark.functions.text import TOKENIZE_SQL, tokenize
from corral_spark.operators.sketches import (
    frequent_items,
    grouped_top_k,
    histogram_quantiles,
    histogram_sketch,
    hll_registers,
    hll_set_algebra,
)
from corral_spark.queries.registry import register
from corral_spark.sources.tables import load_table


@register(
    "heavy_hitter_tokens",
    oracle=f"""
    WITH tokens AS (
      SELECT unnest({TOKENIZE_SQL.format(col='text')}) AS term FROM documents
    ),
    n AS (SELECT COUNT(*) AS n FROM tokens)
    SELECT term, CAST(COUNT(*) AS BIGINT) AS cnt
    FROM tokens, n
    GROUP BY term, n.n
    HAVING COUNT(*) * 1000 >= n.n
    ORDER BY term
    """,
    # 'extension' tag: the MG candidate pass is a (deliberate, Arrow-
    # batched) Python stage, so this query is exempt from the
    # no-Python plan purity gate that pins the relational set.
    tags=("sketch", "heavy-hitters", "documents", "gap", "extension"),
)
def heavy_hitter_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokens with frequency >= 1/1000 of the corpus token count, with
    exact counts — via the two-pass Misra-Gries scheme
    (operators.sketches.frequent_items): a narrow per-partition MG
    candidate pass (provable superset, bounded output) then an exact
    verify pass that shuffles only candidate rows.  The oracle is the
    naive full GROUP BY + HAVING, so a green row proves the sketch's
    superset guarantee AND the exact verification end-to-end.  At
    100 TB the full-vocabulary shuffle the oracle implies is the cost
    this operator exists to avoid."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(F.explode(tokenize(F.col("text"))).alias("item"))
    out = frequent_items(toks, "item", num=1, den=1000)
    return (
        out.select(F.col("item").alias("term"), F.col("cnt"))
        .orderBy("term")
    )


@register(
    "top_tokens_per_lang",
    oracle=f"""
    WITH tok AS (
      SELECT lang, unnest({TOKENIZE_SQL.format(col='text')}) AS term
      FROM documents
    ),
    counts AS (
      SELECT lang, term, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM tok GROUP BY lang, term
    ),
    ranked AS (
      SELECT lang, term, cnt,
             CAST(row_number() OVER (
               PARTITION BY lang ORDER BY cnt DESC, term ASC) AS INT)
               AS rank
      FROM counts
    )
    SELECT lang, term, cnt, rank FROM ranked
    WHERE rank <= 5
    ORDER BY lang, rank
    """,
    tags=("sketch", "heavy-hitters", "documents", "gap"),
)
def top_tokens_per_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Groupwise heavy hitters (operators.sketches.grouped_top_k):
    top-5 tokens per language by frequency, ties broken by token.
    WindowGroupLimit prunes each map task to its local top-5 per
    language before the window exchange — the bounded-groups
    formulation that makes per-group top-k scale."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("lang", F.explode(tokenize(F.col("text"))).alias("term"))
    return (
        grouped_top_k(toks, "lang", "term", k=5)
        .orderBy("lang", "rank")
    )


@register(
    "cms_bigram_counts",
    oracle=f"""
    WITH toks AS (
      SELECT {TOKENIZE_SQL.format(col='text')} AS words FROM documents
    ),
    bigs AS (
      SELECT (words[CAST(j AS INT) + 1] || ' ' || words[CAST(j AS INT) + 2]) AS bigram
      FROM toks, unnest(range(0, len(words) - 1)) AS t(j)
      WHERE len(words) >= 2
    ),
    true_counts AS (
      SELECT bigram, CAST(COUNT(*) AS BIGINT) AS true_cnt
      FROM bigs GROUP BY bigram
    ),
    probes AS (
      SELECT bigram, CAST(d AS INT) AS d,
             CAST(('0x' || substr(md5('cms' || CAST(d AS VARCHAR) || ':' || bigram), 1, 8)) AS BIGINT) % 256 AS pos
      FROM bigs, unnest(range(0, 4)) AS t(d)
    ),
    sketch AS (
      SELECT d, pos, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM probes GROUP BY d, pos
    ),
    est AS (
      SELECT k.bigram, MIN(s.cnt) AS est_cnt
      FROM (SELECT DISTINCT bigram, d, pos FROM probes) k
      JOIN sketch s USING (d, pos)
      GROUP BY k.bigram
    )
    SELECT t.bigram, t.true_cnt, e.est_cnt
    FROM true_counts t JOIN est e USING (bigram)
    ORDER BY bigram
    """,
    tags=("sketch", "extension"),
)
def cms_bigram_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min Sketch point queries, bit-exactly oracled: a CMS
    (depth 4, width 256) over the corpus's word bigrams (~900 distinct
    keys at 256 counters per row — genuinely collision-dense, so the
    min-over-depth estimate does real work), estimated for every
    distinct bigram alongside its true count. md5-derived probes let
    DuckDB replay sketch construction and estimation exactly
    (operators.sketches.cms_build / cms_estimate); est_cnt >= true_cnt
    is the CMS overestimate invariant, also pinned by pytest."""
    from corral_spark.functions.text import tokenize
    from corral_spark.operators.sketches import cms_build, cms_estimate

    words = tokenize(F.col("text"))
    n = F.size(words)
    bigrams = F.when(
        n >= 2,
        F.zip_with(
            F.slice(words, 1, n - 1),
            F.slice(words, 2, n - 1),
            lambda a, b: F.concat_ws(" ", a, b),
        ),
    ).otherwise(F.array().cast("array<string>"))
    occ = load_table(spark, sf_dir, "documents").select(
        F.explode(bigrams).alias("bigram")
    )
    sketch = cms_build(occ, "bigram", depth=4, width=256)
    true_c = occ.groupBy("bigram").agg(F.count(F.lit(1)).alias("true_cnt"))
    est = cms_estimate(
        true_c.select("bigram"), sketch, "bigram", depth=4, width=256
    )
    return (
        # Both sides are vocabulary-sized (corpus-scaled) —
        # shuffle_hash per the corpus-scaled join rule (broadcast audit);
        # the d x w sketch itself stays a bounded broadcast inside
        # cms_estimate.
        true_c.join(est.hint("shuffle_hash"), on="bigram")
        .select("bigram", "true_cnt", "est_cnt")
        .orderBy("bigram")
    )


#: Shared histogram contract for price_histogram_quantiles: range
#: covers lineitem.l_extendedprice at every SF (901.82 .. 104949.5);
#: 256 bins -> ~407 currency units of declared quantile error.
_H_LO, _H_HI, _H_BINS = 900.0, 105000.0, 256


@register(
    "price_histogram_quantiles",
    oracle=f"""
    WITH b AS (
      SELECT l_returnflag AS flag,
             CAST(LEAST(GREATEST(FLOOR(
               (l_extendedprice - {_H_LO}) * {float(_H_BINS)}
                 / {_H_HI - _H_LO}), 0), {_H_BINS - 1}) AS INT) AS bin
      FROM lineitem WHERE l_extendedprice IS NOT NULL
    ),
    h AS (SELECT flag, bin, COUNT(*) AS cnt FROM b GROUP BY flag, bin),
    c AS (
      SELECT flag, bin,
             SUM(cnt) OVER (PARTITION BY flag ORDER BY bin) AS cum,
             SUM(cnt) OVER (PARTITION BY flag) AS n
      FROM h
    )
    SELECT flag AS l_returnflag,
           ROUND({_H_LO} + (MIN(CASE WHEN cum >= CEIL(0.50 * n) THEN bin END) + 1)
                 * {_H_HI - _H_LO} / {float(_H_BINS)}, 4) AS q50,
           ROUND({_H_LO} + (MIN(CASE WHEN cum >= CEIL(0.90 * n) THEN bin END) + 1)
                 * {_H_HI - _H_LO} / {float(_H_BINS)}, 4) AS q90,
           ROUND({_H_LO} + (MIN(CASE WHEN cum >= CEIL(0.99 * n) THEN bin END) + 1)
                 * {_H_HI - _H_LO} / {float(_H_BINS)}, 4) AS q99
    FROM c GROUP BY flag ORDER BY l_returnflag
    """,
    tags=("sketch", "approx", "extension"),
)
def price_histogram_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """p50/p90/p99 of l_extendedprice per return flag read from a
    256-bin mergeable equi-width histogram (sketches.histogram_sketch
    + histogram_quantiles): ONE partial-aggregated pass whose shuffle
    is O(nbins) per group regardless of input size, then a cumulative
    walk over <= 256 rows per group — the declared-precision (one bin
    width) substitute for an exact percentile's full sort, and the
    form that survives a 100 TB scan (histograms merge by summing
    counts, pytest-pinned). The oracle rebuilds bins, cumulative
    counts, and bin-edge quantiles bit-exactly (left-associated IEEE
    double bin rule, integer counts)."""
    li = load_table(spark, sf_dir, "lineitem")
    hist = histogram_sketch(
        li, "l_extendedprice", _H_LO, _H_HI, _H_BINS, ("l_returnflag",)
    )
    return histogram_quantiles(
        hist, _H_LO, _H_HI, _H_BINS, (0.5, 0.9, 0.99), ("l_returnflag",)
    ).orderBy("l_returnflag")


@register(
    "hll_distinct_parts",
    oracle="""
    WITH hashed AS (
      SELECT l_returnflag AS flag,
             md5('hll:' || CAST(l_partkey AS VARCHAR)) AS h
      FROM lineitem WHERE l_partkey IS NOT NULL
    ),
    rb AS (
      SELECT flag,
             CAST(('0x' || substr(h, 1, 4)) AS BIGINT) % 1024 AS bucket,
             regexp_replace(substr(h, 5, 12), '^0*', '') AS s
      FROM hashed
    ),
    rr AS (
      SELECT flag, bucket,
             CASE WHEN length(s) = 0 THEN 49
                  ELSE (12 - length(s)) * 4
                       + CASE WHEN CAST(('0x' || substr(s, 1, 1)) AS BIGINT) >= 8 THEN 0
                              WHEN CAST(('0x' || substr(s, 1, 1)) AS BIGINT) >= 4 THEN 1
                              WHEN CAST(('0x' || substr(s, 1, 1)) AS BIGINT) >= 2 THEN 2
                              ELSE 3 END + 1
             END AS rho
      FROM rb
    ),
    regs AS (
      SELECT flag, bucket, MAX(rho) AS rho FROM rr GROUP BY flag, bucket
    ),
    agg AS (
      SELECT flag, CAST(COUNT(*) AS BIGINT) AS filled,
             CAST(SUM(CAST(POWER(2, 49 - rho) AS BIGINT)) AS BIGINT)
               + (1024 - COUNT(*)) * 562949953421312 AS reg_sum
      FROM regs GROUP BY flag
    ),
    exact AS (
      SELECT l_returnflag AS flag,
             CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS true_parts
      FROM lineitem GROUP BY l_returnflag
    )
    SELECT a.flag AS l_returnflag, a.filled, a.reg_sum,
           CAST(FLOOR(4.253321908301858e+20 / CAST(a.reg_sum AS DOUBLE)) AS BIGINT) AS hll_raw,
           e.true_parts
    FROM agg a JOIN exact e USING (flag)
    ORDER BY l_returnflag
    """,
    tags=("sketch", "approx", "extension"),
)
def hll_distinct_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog distinct-l_partkey per return flag, bit-exactly
    oracled: the md5-derived register file (sketches.hll_registers,
    m=1024), its exact-integer 2^(49-rho) mass, and the floor'd raw
    Flajolet estimate, alongside the true distinct count. Complements
    the rows-only `approx_distinct_parts` (Spark's internal HLL++):
    THIS row proves the whole sketch pipeline — bucketing, leading-zero
    rank, register max, estimator division — against an independent
    engine, the check an engine-internal sketch cannot have. Register
    files are mergeable (sketches.hll_merge, pytest-pinned), the
    property that lets a 100 TB corpus be sketched per-partition and
    combined without rescanning."""
    from corral_spark.operators.sketches import hll_estimate, hll_registers

    # NULL is not a value: the sketch hashes only non-null keys, the
    # convention countDistinct (the true_parts column) already uses —
    # without the filter the oracle's md5(NULL || ...) register file
    # grows a phantom NULL bucket (found by the NULL-injection campaign).
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_partkey").isNotNull()
    )
    regs = hll_registers(li, "l_partkey", ("l_returnflag",))
    est = hll_estimate(regs, ("l_returnflag",)).drop("hll_est")
    exact = li.groupBy("l_returnflag").agg(
        F.countDistinct("l_partkey").alias("true_parts")
    )
    return est.join(exact, "l_returnflag").orderBy("l_returnflag")


def _hll_regs_sql(src_filter: str) -> str:
    """Register-file CTE chain for lineitem l_partkey per l_returnflag
    (the hll_distinct_parts oracle's rb/rr/regs stages,
    parameterized by a slice predicate so merged-sketch queries can
    replay each slice's register build independently)."""
    return f"""
      SELECT flag, bucket, MAX(rho) AS rho FROM (
        SELECT flag, bucket,
               CASE WHEN length(s) = 0 THEN 49
                    ELSE (12 - length(s)) * 4
                         + CASE WHEN CAST(('0x' || substr(s, 1, 1)) AS BIGINT) >= 8 THEN 0
                                WHEN CAST(('0x' || substr(s, 1, 1)) AS BIGINT) >= 4 THEN 1
                                WHEN CAST(('0x' || substr(s, 1, 1)) AS BIGINT) >= 2 THEN 2
                                ELSE 3 END + 1
               END AS rho
        FROM (
          SELECT l_returnflag AS flag,
                 CAST(('0x' || substr(h, 1, 4)) AS BIGINT) % 1024 AS bucket,
                 regexp_replace(substr(h, 5, 12), '^0*', '') AS s
          FROM (
            SELECT l_returnflag,
                   md5('hll:' || CAST(l_partkey AS VARCHAR)) AS h
            FROM lineitem
            WHERE ({src_filter}) AND l_partkey IS NOT NULL
          )
        )
      ) GROUP BY flag, bucket
    """


@register(
    "hll_merged_slices",
    oracle=f"""
    WITH ra AS ({_hll_regs_sql("l_linestatus = 'O'")}),
    rb AS ({_hll_regs_sql("l_linestatus = 'F'")}),
    merged AS (
      SELECT flag, bucket, MAX(rho) AS rho
      FROM (SELECT * FROM ra UNION ALL SELECT * FROM rb)
      GROUP BY flag, bucket
    ),
    agg AS (
      SELECT flag, CAST(COUNT(*) AS BIGINT) AS filled,
             CAST(SUM(CAST(POWER(2, 49 - rho) AS BIGINT)) AS BIGINT)
               + (1024 - COUNT(*)) * 562949953421312 AS reg_sum
      FROM merged GROUP BY flag
    ),
    fa AS (SELECT flag, CAST(COUNT(*) AS BIGINT) AS filled_o FROM ra GROUP BY flag),
    fb AS (SELECT flag, CAST(COUNT(*) AS BIGINT) AS filled_f FROM rb GROUP BY flag)
    SELECT a.flag AS l_returnflag,
           COALESCE(fa.filled_o, 0) AS filled_o,
           COALESCE(fb.filled_f, 0) AS filled_f,
           a.filled, a.reg_sum,
           CAST(FLOOR(4.253321908301858e+20 / CAST(a.reg_sum AS DOUBLE)) AS BIGINT) AS hll_raw
    FROM agg a LEFT JOIN fa USING (flag) LEFT JOIN fb USING (flag)
    ORDER BY l_returnflag
    """,
    tags=("sketch", "approx", "extension"),
)
def hll_merged_slices(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB HLL composition pattern as a driver-oracled row:
    per-slice register files (the 'O' and 'F' l_linestatus slices
    standing in for per-day partitions) merged by hll_merge (union +
    max-per-bucket) and estimated — never rescanning the union.

    SINGLE-SCAN: instead of one fact-table scan per slice, the slice
    column joins the sketch's group key — ``hll_registers(...,
    group_cols=(l_returnflag, l_linestatus))`` builds every slice's register file in ONE pass,
    and merging is just re-grouping the registers with the slice
    column dropped (hll_merge on the slice-erased frame) — the exact
    per-day pattern at scale, where each day is sketched as it lands
    and the union is never rescanned. The tiny register file is
    materialized once and feeds the merged estimator AND both
    per-slice filled counts, so the whole query reads lineitem exactly
    once (plan-pinned in test_plans). The oracle (unchanged) replays
    the per-slice builds independently; the hash match proves the
    single-pass grouped build produces identical registers. Output
    carries each slice's filled-register count so the row proves
    per-slice sketches existed, not just the final estimate."""
    from corral_spark.materialize import materialize
    from corral_spark.operators.sketches import (
        hll_estimate,
        hll_merge,
        hll_registers,
    )

    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_linestatus").isin("O", "F")
        & F.col("l_partkey").isNotNull()  # NULL is not a value
    )
    regs = materialize(
        hll_registers(
            li, "l_partkey", ("l_returnflag", "l_linestatus")
        ),
        eager=False,
    )
    merged = hll_merge(regs.drop("l_linestatus"))
    est = hll_estimate(merged, ("l_returnflag",)).drop("hll_est")
    fa = (
        regs.filter(F.col("l_linestatus") == "O")
        .groupBy("l_returnflag")
        .agg(F.count(F.lit(1)).alias("filled_o"))
    )
    fb = (
        regs.filter(F.col("l_linestatus") == "F")
        .groupBy("l_returnflag")
        .agg(F.count(F.lit(1)).alias("filled_f"))
    )
    return (
        est.join(fa, "l_returnflag", "left")
        .join(fb, "l_returnflag", "left")
        .select(
            "l_returnflag",
            F.coalesce("filled_o", F.lit(0)).alias("filled_o"),
            F.coalesce("filled_f", F.lit(0)).alias("filled_f"),
            "filled",
            "reg_sum",
            "hll_raw",
        )
        .orderBy("l_returnflag")
    )


# The HLL register replay shared with hll_distinct_parts (above):
# md5 'hll:' prefix, 16-bit bucket prefix mod 1024,
# 12-hex-digit leading-zero rank, alpha_m * m^2 = 4.253321908301858e+20.
_HLL_REGS_SQL = """
      SELECT bucket, MAX(rho) AS rho FROM (
        SELECT CAST(('0x' || substr(h, 1, 4)) AS BIGINT) % 1024 AS bucket,
               CASE WHEN length(s) = 0 THEN 49
                    ELSE (12 - length(s)) * 4
                         + CASE WHEN CAST(('0x' || substr(s, 1, 1)) AS BIGINT) >= 8 THEN 0
                                WHEN CAST(('0x' || substr(s, 1, 1)) AS BIGINT) >= 4 THEN 1
                                WHEN CAST(('0x' || substr(s, 1, 1)) AS BIGINT) >= 2 THEN 2
                                ELSE 3 END + 1
               END AS rho
        FROM (
          SELECT h, regexp_replace(substr(h, 5, 12), '^0*', '') AS s
          FROM (SELECT md5('hll:' || tok) AS h FROM {src})
        )
      ) GROUP BY bucket
"""


_HLL_EST_SQL = """
      SELECT CAST(FLOOR(4.253321908301858e+20 / CAST(
               CAST(SUM(CAST(POWER(2, 49 - rho) AS BIGINT)) AS BIGINT)
               + (1024 - COUNT(*)) * 562949953421312 AS DOUBLE)) AS BIGINT) AS est
      FROM {regs}
"""


@register(
    "hll_token_overlap_sources",
    oracle=f"""
    WITH toks AS (
      SELECT source,
             unnest(string_split_regex(trim(lower(
               regexp_replace(text, '[^a-zA-Z0-9\\s]+', ' ', 'g'))), '\\s+')) AS tok
      FROM documents
    ),
    ta AS (SELECT tok FROM toks WHERE source = 'src0' AND tok <> ''),
    tb AS (SELECT tok FROM toks WHERE source IS DISTINCT FROM 'src0' AND tok <> ''),
    ra AS ({_HLL_REGS_SQL.format(src="ta")}),
    rb AS ({_HLL_REGS_SQL.format(src="tb")}),
    ru AS (
      SELECT bucket, MAX(rho) AS rho
      FROM (SELECT * FROM ra UNION ALL SELECT * FROM rb)
      GROUP BY bucket
    ),
    ea AS ({_HLL_EST_SQL.format(regs="ra")}),
    eb AS ({_HLL_EST_SQL.format(regs="rb")}),
    eu AS ({_HLL_EST_SQL.format(regs="ru")})
    SELECT ea.est AS est_a, eb.est AS est_b, eu.est AS est_union,
           GREATEST(CAST(0 AS BIGINT), ea.est + eb.est - eu.est) AS est_intersect,
           ROUND(CAST(GREATEST(CAST(0 AS BIGINT), ea.est + eb.est - eu.est) AS DOUBLE)
                 / CAST(eu.est AS DOUBLE), 4) AS jaccard_est
    FROM ea CROSS JOIN eb CROSS JOIN eu
    """,
    tags=("sketch", "approx", "extension"),
)
def hll_token_overlap_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct-token overlap between the src0 corpus and the rest
    (sketches.hll_set_algebra): each side keeps an O(m)=1024-row HLL
    register file; the union sketch is their lossless max-merge; the
    intersection estimate is inclusion-exclusion over the three raw
    estimates — answering "how much vocabulary do two corpora share?"
    at 100 TB from two sketches, with no token join and no rescan.
    Every column (including the floor'd raw estimates) is bit-exactly
    oracled via the md5 register replay shared with
    hll_distinct_parts."""
    from corral_spark.materialize import materialize

    docs = load_table(spark, sf_dir, "documents")
    # ONE scan builds both sides' registers (grouped by a side flag —
    # the single-scan discipline hll_merged_slices settled on), then
    # the 2*1024-row register file is materialized once: the three
    # estimate readouts (A, B, union) each consume it, and without the
    # barrier each would re-run the token explode over the corpus.
    toks = docs.select(
        F.when(F.col("source") == "src0", "a").otherwise("b").alias("side"),
        F.explode(tokenize(F.col("text"))).alias("tok"),
    )
    regs = materialize(hll_registers(toks, "tok", ("side",)), eager=True)
    ra = regs.filter(F.col("side") == "a").drop("side")
    rb = regs.filter(F.col("side") == "b").drop("side")
    return hll_set_algebra(ra, rb)


@register(
    "bottomk_doc_stats",
    oracle="""
    WITH hashed AS (
      SELECT doc_id, n_chars,
             CAST(('0x' || substr(md5('bk:' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) AS h
      FROM documents
    ),
    sk AS (
      SELECT * FROM (
        SELECT *, ROW_NUMBER() OVER (ORDER BY h, doc_id) AS rnk FROM hashed
      ) WHERE rnk <= 256
    ),
    est AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS sample_n,
             CAST(CASE WHEN COUNT(*) < 256 THEN COUNT(*)
                  ELSE FLOOR(1095216660480.0 / CAST(GREATEST(MAX(CASE WHEN rnk = 256 THEN h END), 1) AS DOUBLE))
                  END AS BIGINT) AS est_docs
      FROM sk
    ),
    sq AS (
      SELECT MAX(CASE WHEN vr = CAST(FLOOR(CAST(0.5 AS DOUBLE) * (n - 1)) AS INT) + 1 THEN n_chars END) AS s_p50,
             MAX(CASE WHEN vr = CAST(FLOOR(CAST(0.9 AS DOUBLE) * (n - 1)) AS INT) + 1 THEN n_chars END) AS s_p90
      FROM (SELECT n_chars,
                   ROW_NUMBER() OVER (ORDER BY n_chars NULLS FIRST, h)
                     AS vr,
                   COUNT(*) OVER () AS n
            FROM sk)
    ),
    tq AS (
      SELECT CAST(MAX(n) AS BIGINT) AS true_docs,
             MAX(CASE WHEN vr = CAST(FLOOR(CAST(0.5 AS DOUBLE) * (n - 1)) AS INT) + 1 THEN n_chars END) AS t_p50,
             MAX(CASE WHEN vr = CAST(FLOOR(CAST(0.9 AS DOUBLE) * (n - 1)) AS INT) + 1 THEN n_chars END) AS t_p90
      FROM (SELECT n_chars,
                   ROW_NUMBER() OVER (ORDER BY n_chars NULLS FIRST,
                                      doc_id) AS vr,
                   COUNT(*) OVER () AS n
            FROM documents)
    )
    SELECT est.sample_n, est.est_docs, sq.s_p50, sq.s_p90,
           tq.true_docs, tq.t_p50, tq.t_p90
    FROM est, sq, tq
    """,
    tags=("sketch", "approx", "sampling", "extension"),
)
def bottomk_doc_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bottom-k (KMV) sketch of the corpus, bit-exactly oracled: the
    256 smallest md5-ranked doc_ids are a deterministic uniform sample
    AND a cardinality estimator. One row: the KMV distinct-doc
    estimate (floor((k-1)*2^32/h_k)), sampled p50/p90 of n_chars by
    lower-interpolation order statistics, and the true count and true
    percentiles under the SAME rule for calibration. The truth columns
    scan the full table (fine under the gate); the sketch columns are
    the 100 TB path — a hard k-row summary per group, mergeable across
    partitions/days (sketches.bottomk_merge, pytest-pinned) exactly
    like hll_merge."""
    from pyspark.sql.window import Window

    from corral_spark.operators.sketches import (
        bottomk_distinct_estimate,
        bottomk_sketch,
        sampled_quantiles,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    sk = bottomk_sketch(docs, "doc_id", k=256, keep_cols=("n_chars",))
    est = bottomk_distinct_estimate(sk, 256).withColumnRenamed(
        "est_distinct", "est_docs"
    )
    sq = (
        sampled_quantiles(sk, "n_chars", (0.5, 0.9))
        .withColumnRenamed("q50", "s_p50")
        .withColumnRenamed("q90", "s_p90")
    )
    wq = Window.orderBy("n_chars", "doc_id")
    wn = Window.partitionBy()
    ranked = docs.select(
        "n_chars",
        F.row_number().over(wq).alias("vr"),
        F.count(F.lit(1)).over(wn).alias("n"),
    )
    pick = lambda q: F.max(  # noqa: E731
        F.when(
            F.col("vr") == F.floor(F.lit(q) * (F.col("n") - 1)).cast("int") + 1,
            F.col("n_chars"),
        )
    )
    truth = ranked.agg(
        F.max("n").alias("true_docs"),
        pick(0.5).alias("t_p50"),
        pick(0.9).alias("t_p90"),
    )
    return est.crossJoin(sq).crossJoin(truth)


@register(
    "bloom_new_docs",
    oracle="""
    WITH existing AS (
      SELECT text FROM documents WHERE doc_id % 2 = 0
    ),
    incoming AS (
      SELECT doc_id, lang, source, text FROM documents WHERE doc_id % 2 = 1
    )
    SELECT i.doc_id, i.lang, i.source
    FROM incoming i
    WHERE NOT EXISTS (SELECT 1 FROM existing e WHERE e.text = i.text)
    ORDER BY i.doc_id
    """,
    tags=("dedup", "sketch", "extension"),
)
def bloom_new_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-accelerated incremental dedup: even-id docs are the seen
    corpus, odd-id docs the incoming batch; output = incoming docs
    whose text was never seen. Semantics are EXACTLY the anti-join
    (the oracle), but the plan routes probe-miss rows (provably
    unseen — Bloom filters have no false negatives) around the
    shuffle and exact-checks only the "maybe" fraction — the shape
    that keeps incremental ingest shuffle volume O(corpus keys +
    fpp * batch) at 100 TB (operators.sketches.bloom_new_rows)."""
    docs = load_table(spark, sf_dir, "documents")
    from corral_spark.operators.sketches import bloom_new_rows

    existing = docs.filter(F.col("doc_id") % 2 == 0)
    incoming = docs.filter(F.col("doc_id") % 2 == 1)
    new = bloom_new_rows(existing, incoming, "text")
    return new.select("doc_id", "lang", "source").orderBy("doc_id")


@register(
    "bloom_new_docs_registers",
    oracle="""
    WITH existing AS (
      SELECT text FROM documents WHERE doc_id % 2 = 0
    ),
    incoming AS (
      SELECT doc_id, lang, source, text FROM documents WHERE doc_id % 2 = 1
    )
    SELECT i.doc_id, i.lang, i.source
    FROM incoming i
    WHERE NOT EXISTS (SELECT 1 FROM existing e WHERE e.text = i.text)
    ORDER BY i.doc_id
    """,
    tags=("dedup", "sketch", "extension"),
)
def bloom_new_docs_registers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The register-file Bloom branch through the driver gate: same
    incremental-dedup semantics as ``bloom_new_docs`` (even-id docs
    are the seen corpus, odd-id the incoming batch; output = never-
    seen incoming docs, EXACTLY the anti-join the oracle runs), but
    with m_bits = 2^28 — past BLOOM_DENSE_MAX_BITS (2^27), so
    ``bloom_new_rows`` must route through the distributed (word, bits)
    register file and probe by word-index equi-join
    (sketches.bloom_build_registers / bloom_might_contain_registers).
    No single-row array, no broadcast ceiling, no driver collect: the
    shape that lets the filter be sized for 10^9+ keys at 100 TB. The
    hash match proves the big-m branch — sparse build, word join,
    k-bit AND, exact verification of the "maybe" fraction — computes
    the same exact result the dense broadcast branch does."""
    from corral_spark.operators.sketches import bloom_new_rows

    docs = load_table(spark, sf_dir, "documents")
    existing = docs.filter(F.col("doc_id") % 2 == 0)
    incoming = docs.filter(F.col("doc_id") % 2 == 1)
    new = bloom_new_rows(existing, incoming, "text", m_bits=1 << 28)
    return new.select("doc_id", "lang", "source").orderBy("doc_id")
