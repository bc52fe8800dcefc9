"""Market-basket analysis: pairwise association rules.

Co-occurrence mining over (basket, item) facts — the retail/affinity
family (support, confidence, lift). No reference analog (bcongdon/
corral has no analytic surface); extends SURVEY §2.3's native-gap
coverage.

Scale shape: the pair generator self-joins the DISTINCT (basket,
item) table on the basket key, so the blow-up is sum_b k_b^2 over
ITEMS-PER-BASKET k_b — bounded by basket width (single-digit for
order lines), never by catalog size. All counts are exact integers
aggregated with map-side partials; the one global scalar (basket
count) rides a one-row broadcast, the tfidf-pinned pattern — so the
whole computation is deterministic and bit-replayable by a SQL
oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from corral_spark.materialize import materialize


def _distinct_basket_items(
    df: DataFrame, basket_col: str, item_col: str
) -> DataFrame:
    """Materialized DISTINCT (b, i) table — materialized because every
    consumer self-joins it (two scans of one shuffle file beat two
    full input scans)."""
    pp = df.select(
        F.col(basket_col).alias("b"), F.col(item_col).alias("i")
    ).distinct()
    return materialize(pp, eager=True)


def _guarded_pair_counts(
    pp: DataFrame, max_basket_width: int, caller: str
) -> DataFrame:
    """(item_a, item_b, c_ab) co-occurrence counts over a
    materialized distinct (b, i) table, item_a < item_b.

    THE shared width-guarded pair generator (review advice:
    part_pagerank rebuilt this quadratic self-join without the
    guard association_rules has). Any basket wider than
    ``max_basket_width`` distinct items RAISES in-plan — a single
    degenerate basket (user-as-basket, crawl-session key) would emit
    width^2 pairs, and exact counts cannot be silently capped. The
    guard costs one O(|pp|) width aggregation over the
    already-materialized table.
    """
    widths = pp.groupBy("b").agg(F.count(F.lit(1)).alias("__w"))
    width_ok = F.when(
        F.col("__w") > max_basket_width,
        F.raise_error(
            F.concat(
                F.lit(
                    f"{caller}: basket width exceeds "
                    f"max_basket_width={max_basket_width} for basket "
                ),
                F.col("b").cast("string"),
                F.lit(" (width "),
                F.col("__w").cast("string"),
                F.lit(")"),
            )
        ).cast("boolean"),
    ).otherwise(F.lit(True))
    return (
        # widths is one row PER BASKET and pp one row per basket item —
        # both corpus-scaled (the width cap bounds basket SIZE, not
        # basket COUNT) — shuffle_hash per the corpus-scaled join
        # rule (broadcast audit).
        pp.select(F.col("b"), F.col("i").alias("item_a"))
        .join(widths.hint("shuffle_hash"), "b")
        .filter(width_ok)
        .drop("__w")
        .join(
            pp.select(F.col("b"), F.col("i").alias("item_b")).hint(
                "shuffle_hash"
            ),
            "b",
        )
        .filter(F.col("item_a") < F.col("item_b"))
        .groupBy("item_a", "item_b")
        .agg(F.count(F.lit(1)).alias("c_ab"))
    )


def cooccur_strong_pairs(
    df: DataFrame,
    basket_col: str,
    item_col: str,
    min_cooccur: int = 2,
    max_basket_width: int = 1000,
) -> DataFrame:
    """Undirected (src, dst) edges between items co-occurring in
    >= ``min_cooccur`` baskets — the graph-building entry point over
    the shared width-guarded pair generator, used by the co-order
    graph queries (triangles, PageRank) so the degenerate-wide-basket
    guard covers every quadratic call site."""
    return (
        _guarded_pair_counts(
            _distinct_basket_items(df, basket_col, item_col),
            max_basket_width,
            "cooccur_strong_pairs",
        )
        .filter(F.col("c_ab") >= min_cooccur)
        .select(
            F.col("item_a").alias("src"), F.col("item_b").alias("dst")
        )
    )


def association_rules(
    df: DataFrame,
    basket_col: str,
    item_col: str,
    min_cooccur: int = 2,
    max_basket_width: int = 1000,
) -> DataFrame:
    """Pairwise association rules over (basket, item) rows: for every
    unordered item pair co-occurring in >= ``min_cooccur`` baskets,
    the exact basket counts (c_a, c_b, c_ab), the directed
    confidences P(b|a) and P(a|b), and the lift
    (c_ab * n_baskets) / (c_a * c_b) — > 1 means the pair co-occurs
    more than independence predicts. Ratios are integer-derived
    doubles rounded to 6 dp (one division over exact BIGINT
    products), so every column replays bit-exactly in SQL.

    Output: (item_a, item_b, c_a, c_b, c_ab, conf_a_b, conf_b_a,
    lift) with item_a < item_b.

    Scale guard: the pair blow-up is quadratic in BASKET WIDTH, so a
    single degenerate basket (a user-as-basket or crawl-session key
    holding 10^6 distinct items) makes one key emit 10^12 pairs. Any
    basket wider than ``max_basket_width`` distinct items therefore
    RAISES in-plan (raise_error inside the pair path, same contract
    as apply_agg_delta's negative-count check) instead of silently
    running quadratic — baskets that wide mean the basket key is
    wrong for this analysis, and the caller must either re-key or
    consciously raise the cap. The guard costs one O(|pp|) width
    aggregation that reuses the already-materialized distinct
    (basket, item) table; the engine's precedents are fuzzy.py's
    ``cap_per_block`` and the LSH ``max_df``, which CAP because their
    outputs are candidate sets — here the counts are exact, so a
    silent cap would corrupt c_ab and the only safe behavior is to
    refuse."""
    pp = _distinct_basket_items(df, basket_col, item_col)
    n_df = pp.agg(F.countDistinct("b").alias("n_baskets"))
    items = pp.groupBy("i").agg(F.count(F.lit(1)).alias("c"))
    pairs = _guarded_pair_counts(
        pp, max_basket_width, "association_rules"
    ).filter(F.col("c_ab") >= min_cooccur)
    ca = items.select(F.col("i").alias("item_a"), F.col("c").alias("c_a"))
    cb = items.select(F.col("i").alias("item_b"), F.col("c").alias("c_b"))
    return (
        # ca/cb are per-item counts over the full catalog —
        # corpus-scaled; only the one-row n_df broadcasts.
        pairs.join(ca.hint("shuffle_hash"), "item_a")
        .join(cb.hint("shuffle_hash"), "item_b")
        .crossJoin(F.broadcast(n_df))
        .select(
            "item_a",
            "item_b",
            "c_a",
            "c_b",
            "c_ab",
            F.round(F.col("c_ab").cast("double") / F.col("c_a"), 6).alias(
                "conf_a_b"
            ),
            F.round(F.col("c_ab").cast("double") / F.col("c_b"), 6).alias(
                "conf_b_a"
            ),
            F.round(
                (F.col("c_ab") * F.col("n_baskets")).cast("double")
                / (F.col("c_a") * F.col("c_b")).cast("double"),
                6,
            ).alias("lift"),
        )
    )
