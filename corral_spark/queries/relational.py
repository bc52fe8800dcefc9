"""Relational queries: the reference's executable workload (word count
+ AMPLab 1-3, reference examples/) mapped onto the driver tables per
FIXTURES.md §C, plus the relational operators the reference lacks
(SURVEY §2.3) that Catalyst provides natively — sort/top-k, window
functions, set ops, join variants (semi/anti, salted, as-of, range),
rollup/cube, distinct agg, scalar functions, decorrelated subqueries,
gap filling and MERGE-style upserts. The reference's only scalars are
the ad-hoc Go conversions (amplab1.go:23, amplab3.go:42-57), its only
join the hand-rolled inner equi-join (amplab3.go:75-97), and its only
composition multi-stage MapReduce chaining (driver.go:195-216).

Determinism: every query ends in a total-order ORDER BY; float
aggregates go through exact decimal arithmetic (corral_spark.functions
.det) so Spark and the DuckDB oracle produce bit-identical doubles;
pure projections pass raw column values through untouched; timestamps
are formatted or reduced to integer day/epoch numbers on both sides.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from corral_spark.functions.det import davg, dec, dec_rate, dsum, dsum_money
from corral_spark.functions.text import substr_prefix, tokenize
from corral_spark.operators.asof import asof_join
from corral_spark.operators.merge import merge_upsert
from corral_spark.operators.ranges import interval_bucket_join
from corral_spark.operators.timeseries import gapfill_locf
from corral_spark.queries.registry import register
from corral_spark.sources.tables import load_table


# Shared revenue expression: exact decimal l_extendedprice*(1-l_discount)
# with the discount under the rate-domain rule (det.dec_rate).
def _revenue_dec() -> F.Column:
    return dec("l_extendedprice") * (
        F.lit(1).cast("decimal(3,2)") - dec_rate("l_discount")
    ).cast("decimal(4,2)")


#: DuckDB mirror of the same expression — keep in sync with _revenue_dec.
#: The discount factor goes through the RATE domain rule
#: (det.dec_rate — [0,1], DECIMAL(3,2), out-of-domain NULL): a
#: corrupt 1e8-scale "discount" otherwise inflates revenue sums to
#: 1e20, past even dsum_money's 2^53 headroom, and its (12,2) width
#: pushed DuckDB's product into an overflowing INT64 decimal (found
#: by the extreme-value campaign). With the rate pinned to (4,2) after the 1-,
#: the product is (16,4) — exact INT64 range on both engines for
#: every in-domain value.
_REVENUE_SQL = (
    "TRY_CAST(l_extendedprice AS DECIMAL(12,2))"
    " * CAST(1 - (CASE WHEN l_discount BETWEEN 0 AND 1 THEN TRY_CAST(l_discount AS DECIMAL(3,2)) END) AS DECIMAL(4,2))"
)


# ---------------------------------------------------------------------------
# The reference's own workload (examples/), on the driver tables.
# ---------------------------------------------------------------------------


@register(
    "wordcount",
    oracle="""
    SELECT word, COUNT(*) AS cnt
    FROM (
      SELECT unnest(string_split_regex(trim(lower(
               regexp_replace(text, '[^a-zA-Z0-9\\s]+', ' ', 'g'))), '\\s+')) AS word
      FROM documents
    )
    WHERE word <> ''
    GROUP BY word
    ORDER BY word
    """,
    headline=True,
    tags=("reference", "scan", "flatmap", "agg"),
)
def wordcount(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word count with the reference's exact tokenizer semantics
    (reference examples/word_count/word_count.go:14-35): sanitize
    ``[^a-zA-Z0-9\\s]+`` -> space, lowercase, split on whitespace,
    count per word. scan -> flatMap(explode) -> shuffle agg, i.e.
    framework operators F1-F12 in DataFrame form."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(F.explode(tokenize(F.col("text"))).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy("word")
    )


@register(
    "amplab1",
    oracle="""
    SELECT p_name AS page_url, p_size AS page_rank
    FROM part
    WHERE p_size > 25
    ORDER BY page_url, page_rank
    """,
    tags=("reference", "filter", "project"),
)
def amplab1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AMPLab Q1 (reference examples/amplab1/amplab1.go:11-33):
    SELECT pageURL, pageRank WHERE pageRank > X. rankings mapped to
    part(p_name, p_size) per FIXTURES.md §C. Filter + projection both
    push down to the parquet scan (PushedFilters in the plan)."""
    part = load_table(spark, sf_dir, "part")
    return (
        part.filter(F.col("p_size") > 25)
        .select(F.col("p_name").alias("page_url"), F.col("p_size").alias("page_rank"))
        .orderBy("page_url", "page_rank")
    )


@register(
    "amplab2",
    oracle="""
    SELECT substring(p_name, 1, 8) AS ip_prefix,
           CAST(SUM(TRY_CAST(p_retailprice AS DECIMAL(12,2))) AS DOUBLE) AS total_revenue
    FROM part
    GROUP BY 1
    ORDER BY ip_prefix
    """,
    tags=("reference", "agg", "scalar-fn"),
)
def amplab2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AMPLab Q2 (reference examples/amplab2/amplab2.go:22-43):
    SELECT SUBSTR(sourceIP,1,8), SUM(adRevenue) GROUP BY 1 — prefix-8
    group key (amplab2.go:29-31, clamped substring) and a float SUM
    skipping unparsable values (amplab2.go:38-40; parquet is typed so
    nothing to skip). Mapped onto part(p_name, p_retailprice)."""
    part = load_table(spark, sf_dir, "part")
    return (
        part.groupBy(substr_prefix(F.col("p_name"), 8).alias("ip_prefix"))
        .agg(dsum("p_retailprice").alias("total_revenue"))
        .orderBy("ip_prefix")
    )


@register(
    "amplab3",
    oracle="""
    SELECT c_name AS source_ip,
           CAST(SUM(TRY_CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*) AS avg_rank,
           CAST(SUM(TRY_CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*) AS avg_revenue
    FROM orders JOIN customer ON o_custkey = c_custkey
    WHERE o_orderdate < TIMESTAMP '1998-01-01'
    GROUP BY c_name
    ORDER BY source_ip
    """,
    headline=True,
    tags=("reference", "join", "filter", "agg"),
)
def amplab3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AMPLab Q3 (reference examples/amplab3/amplab3.go:37-131):
    date-filter -> inner equi-join -> group by sourceIP with AVG(
    pageRank), AVG(adRevenue). The reference hand-writes a two-stage
    tagged-union reduce-side join (amplab3.go:75-97); here it is one
    declarative join and Catalyst/AQE picks broadcast vs sort-merge.
    Mapped onto orders ⋈ customer per FIXTURES.md §C."""
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    return (
        orders.filter(F.col("o_orderdate") < F.lit("1998-01-01"))
        .join(customer, orders.o_custkey == customer.c_custkey, "inner")
        .groupBy(F.col("c_name").alias("source_ip"))
        .agg(
            davg("c_acctbal").alias("avg_rank"),
            davg("o_totalprice").alias("avg_revenue"),
        )
        .orderBy("source_ip")
    )


# ---------------------------------------------------------------------------
# Relational operators the reference lacks (SURVEY §2.3) — native in Spark.
# ---------------------------------------------------------------------------


@register(
    "pricing_summary",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(TRY_CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE)      AS sum_qty,
           CAST(SUM(TRY_CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_base_price,
           CAST(ROUND(SUM({_REVENUE_SQL}), 2) AS DOUBLE)               AS sum_disc_price,
           CAST(ROUND(SUM({_REVENUE_SQL}
             * CAST(1 + (CASE WHEN l_tax BETWEEN 0 AND 1 THEN TRY_CAST(l_tax AS DECIMAL(3,2)) END) AS DECIMAL(4,2))), 2) AS DOUBLE) AS sum_charge,
           CAST(SUM(TRY_CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*)      AS avg_qty,
           CAST(SUM(TRY_CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*) AS avg_price,
           CAST(SUM(CASE WHEN l_discount BETWEEN 0 AND 1 THEN TRY_CAST(l_discount AS DECIMAL(3,2)) END) AS DOUBLE) / COUNT(*) AS avg_disc,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """,
    headline=True,
    tags=("agg", "filter"),
)
def pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-style pricing summary: wide multi-aggregate hash agg
    with arithmetic expressions, all inside whole-stage codegen. The
    reference can express only single SUM/COUNT/AVG reducers
    (amplab2.go:34-43, word_count.go:29-35); this is the scaled-up form.

    The two decimal-PRODUCT sums (scale 6) go through dsum_money —
    exact-decimal ROUND to 2 dp before the double cast — because
    their scaled-integer magnitude crosses 2^53 already at the sf1
    replica (observed 1-ulp cross-engine divergence on sum_charge;
    see functions/det.py:dsum_money)."""
    li = load_table(spark, sf_dir, "lineitem")
    revenue = _revenue_dec()
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum("l_quantity").alias("sum_qty"),
            dsum("l_extendedprice").alias("sum_base_price"),
            dsum_money(revenue).alias("sum_disc_price"),
            dsum_money(
                revenue
                * (F.lit(1).cast("decimal(3,2)") + dec_rate("l_tax")).cast(
                    "decimal(4,2)"
                )
            ).alias("sum_charge"),
            davg("l_quantity").alias("avg_qty"),
            davg("l_extendedprice").alias("avg_price"),
            (
                F.sum(dec_rate("l_discount")).cast("double")
                / F.count(F.lit(1))
            ).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


@register(
    "top_orders",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice AS total_price
    FROM orders
    ORDER BY total_price DESC, o_orderkey
    LIMIT 10
    """,
    tags=("sort", "limit"),
)
def top_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-k — absent from the reference (shuffle is
    partition-only, never sorted: reference README.md:213). Spark's
    TakeOrderedAndProject does this without a full sort."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.select(
            "o_orderkey", "o_custkey", F.col("o_totalprice").alias("total_price")
        )
        .orderBy(F.desc("total_price"), F.asc("o_orderkey"))
        .limit(10)
    )


@register(
    "shipping_priority",
    oracle=f"""
    SELECT l_orderkey,
           CAST(ROUND(SUM({_REVENUE_SQL}), 2) AS DOUBLE) AS revenue,
           strftime(o_orderdate, '%Y-%m-%d') AS order_date,
           o_orderpriority
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1998-03-15'
      AND l_shipdate  > TIMESTAMP '1998-03-15'
    GROUP BY l_orderkey, o_orderdate, o_orderpriority
    ORDER BY revenue DESC, l_orderkey
    LIMIT 10
    """,
    headline=True,
    tags=("join", "agg", "sort", "limit"),
)
def shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3-style: selective filters on both join sides, 3-way join,
    agg, top-k. Catalyst pushes both date filters to the scans and
    broadcast-joins the filtered customer side — the plan shape the
    reference could only approximate with hand-staged MapReduce."""
    c = load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-03-15")
    )
    l = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1998-03-15")
    )
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(l, o.o_orderkey == l.l_orderkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(dsum_money(_revenue_dec()).alias("revenue"))
        .select(
            "l_orderkey",
            "revenue",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_date"),
            "o_orderpriority",
        )
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
    )


@register(
    "regional_revenue",
    oracle=f"""
    SELECT r_name, n_name,
           CAST(ROUND(SUM({_REVENUE_SQL}), 2) AS DOUBLE) AS revenue,
           COUNT(*) AS n_items
    FROM lineitem
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation   ON s_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    GROUP BY r_name, n_name
    ORDER BY r_name, n_name
    """,
    headline=True,
    tags=("join", "agg", "broadcast"),
)
def regional_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Star-join of the fact table against three dimension tables.
    nation/region are fixed-size (25/5 rows) at every SF -> explicit
    broadcast hints are scale-safe. supplier scales with SF, so no
    forced hint — the size threshold + AQE still broadcast it whenever
    the pruned scan is actually small (checked in tests via the
    physical plan)."""
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    n = F.broadcast(load_table(spark, sf_dir, "nation"))
    r = F.broadcast(load_table(spark, sf_dir, "region"))
    return (
        li.join(s, li.l_suppkey == s.s_suppkey)
        .join(n, s.s_nationkey == n.n_nationkey)
        .join(r, n.n_regionkey == r.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(
            dsum_money(_revenue_dec()).alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
        .orderBy("r_name", "n_name")
    )


@register(
    "window_top_orders",
    oracle="""
    SELECT c_custkey, o_orderkey, o_totalprice AS total_price, rnk
    FROM (
      SELECT c_custkey, o_orderkey, o_totalprice,
             ROW_NUMBER() OVER (PARTITION BY c_custkey
                                ORDER BY o_totalprice DESC, o_orderkey) AS rnk
      FROM orders JOIN customer ON o_custkey = c_custkey
    )
    WHERE rnk <= 3
    ORDER BY c_custkey, rnk
    """,
    tags=("window", "join"),
)
def window_top_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group top-k via ROW_NUMBER window — windows are wholly absent
    from the reference (SURVEY §2.3). Spark 3.5+/4.x inserts a
    WindowGroupLimit so only 3 rows per key survive the shuffle."""
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    w = Window.partitionBy("c_custkey").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return (
        orders.join(customer, orders.o_custkey == customer.c_custkey)
        .select("c_custkey", "o_orderkey", "o_totalprice")
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select(
            "c_custkey",
            "o_orderkey",
            F.col("o_totalprice").alias("total_price"),
            "rnk",
        )
        .orderBy("c_custkey", "rnk")
    )


@register(
    "distinct_parts_per_flag",
    oracle="""
    SELECT l_returnflag,
           COUNT(DISTINCT l_partkey) AS distinct_parts,
           COUNT(DISTINCT l_suppkey) AS distinct_supps
    FROM lineitem
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
    tags=("agg", "distinct"),
)
def distinct_parts_per_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-column distinct aggregation (absent in reference, SURVEY
    §2.3); Catalyst expands to partial aggregates, no naive re-shuffle
    per distinct column."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.countDistinct("l_partkey").alias("distinct_parts"),
            F.countDistinct("l_suppkey").alias("distinct_supps"),
        )
        .orderBy("l_returnflag")
    )


@register(
    "rollup_sales",
    oracle="""
    SELECT coalesce(l_returnflag, 'ALL') AS return_flag,
           coalesce(l_linestatus, 'ALL') AS line_status,
           CAST(SUM(TRY_CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_price,
           COUNT(*) AS n_rows
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    ORDER BY return_flag, line_status
    """,
    tags=("agg", "rollup"),
)
def rollup_sales(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP grouping sets (absent in reference, SURVEY §2.3).
    Subtotal rows surfaced with 'ALL' so the hash compare is
    NULL-free."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(
            dsum("l_extendedprice").alias("sum_price"),
            F.count(F.lit(1)).alias("n_rows"),
        )
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("return_flag"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("line_status"),
            "sum_price",
            "n_rows",
        )
        .orderBy("return_flag", "line_status")
    )


@register(
    "nation_set_ops",
    oracle="""
    WITH cust_n AS (SELECT DISTINCT c_nationkey AS nationkey FROM customer),
         supp_n AS (SELECT DISTINCT s_nationkey AS nationkey FROM supplier)
    SELECT 'both' AS side, nationkey FROM (SELECT nationkey FROM cust_n INTERSECT SELECT nationkey FROM supp_n)
    UNION ALL
    SELECT 'customer_only' AS side, nationkey FROM (SELECT nationkey FROM cust_n EXCEPT SELECT nationkey FROM supp_n)
    ORDER BY side, nationkey
    """,
    tags=("setop",),
)
def nation_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT / EXCEPT / UNION ALL — set operators absent from the
    reference (SURVEY §2.3, only input-glob union exists there)."""
    cust_n = (
        load_table(spark, sf_dir, "customer")
        .select(F.col("c_nationkey").alias("nationkey"))
        .distinct()
    )
    supp_n = (
        load_table(spark, sf_dir, "supplier")
        .select(F.col("s_nationkey").alias("nationkey"))
        .distinct()
    )
    both = cust_n.intersect(supp_n).select(F.lit("both").alias("side"), "nationkey")
    only = cust_n.exceptAll(supp_n).select(
        F.lit("customer_only").alias("side"), "nationkey"
    )
    return both.unionAll(only).orderBy("side", "nationkey")


@register(
    "high_value_order_exists",
    oracle="""
    SELECT o_orderkey, o_totalprice AS total_price
    FROM orders
    WHERE EXISTS (SELECT 1 FROM lineitem
                  WHERE l_orderkey = o_orderkey AND l_quantity >= 49)
    ORDER BY o_orderkey
    """,
    tags=("join", "semi"),
)
def high_value_order_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-semi join (EXISTS). The reference's only join is a
    hand-rolled inner equi-join (amplab3.go:75-97); semi/anti variants
    are free in Spark."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_quantity") >= 49)
    return (
        orders.join(li, orders.o_orderkey == li.l_orderkey, "left_semi")
        .select("o_orderkey", F.col("o_totalprice").alias("total_price"))
        .orderBy("o_orderkey")
    )


@register(
    "customers_without_orders",
    oracle="""
    SELECT c_custkey, c_name
    FROM customer
    WHERE NOT EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey
                        AND o_orderdate >= TIMESTAMP '2001-01-01')
    ORDER BY c_custkey
    """,
    tags=("join", "anti"),
)
def customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-anti join (NOT EXISTS) — absent from the reference.
    Restricted to recent orders so the result is non-trivial at every
    SF (an unrestricted anti join matches nobody: all customers have
    orders in the generated data)."""
    customer = load_table(spark, sf_dir, "customer")
    recent = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit("2001-01-01")
    )
    return (
        customer.join(recent, customer.c_custkey == recent.o_custkey, "left_anti")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")
    )


@register(
    "orders_by_month",
    oracle="""
    SELECT strftime(date_trunc('month', o_orderdate), '%Y-%m-%d') AS order_month,
           COUNT(*) AS n_orders,
           CAST(SUM(TRY_CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS month_revenue
    FROM orders
    GROUP BY 1
    ORDER BY order_month
    """,
    tags=("agg", "datetime"),
)
def orders_by_month(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar truncation + agg; exercises the date/cast functions the
    reference does ad hoc in Go (amplab3.go:57 time.Parse)."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.groupBy(
            F.date_format(F.date_trunc("month", "o_orderdate"), "yyyy-MM-dd").alias(
                "order_month"
            )
        )
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            dsum("o_totalprice").alias("month_revenue"),
        )
        .orderBy("order_month")
    )


@register(
    "event_props_json",
    oracle="""
    SELECT event_type,
           -- json_valid guard + TRY_CAST: a malformed props payload
           -- contributes NULL to the sum (DuckDB's json functions
           -- RAISE on invalid JSON; Spark's get_json_object nulls)
           -- but still counts as an event — r14 extreme campaign.
           CAST(SUM(TRY_CAST(CASE WHEN json_valid(props)
                  THEN json_extract_string(props, '$.k') END AS BIGINT))
             AS BIGINT) AS sum_k,
           COUNT(*) AS n_events
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
    tags=("json", "agg"),
)
def event_props_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON decode of a string column — the reference JSON-encodes
    structs into values to pass structure between stages
    (amplab3.go:70-73); here JSON is parsed natively with
    get_json_object and aggregated."""
    events = load_table(spark, sf_dir, "events")
    return (
        events.groupBy("event_type")
        .agg(
            F.sum(
                F.get_json_object("props", "$.k").try_cast("bigint")
            ).alias("sum_k"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .orderBy("event_type")
    )


@register(
    "union_all_parties",
    oracle="""
    SELECT kind, name, acctbal
    FROM (
      SELECT 'customer' AS kind, c_name AS name, c_acctbal AS acctbal FROM customer
      UNION ALL
      SELECT 'supplier' AS kind, s_name AS name, s_acctbal AS acctbal FROM supplier
    )
    ORDER BY kind, name
    """,
    tags=("setop", "union"),
)
def union_all_parties(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION ALL across heterogenous sources unified to one schema —
    the reference's closest analog is globbing multiple inputs into
    one scan (job.go:192-203)."""
    c = load_table(spark, sf_dir, "customer").select(
        F.lit("customer").alias("kind"),
        F.col("c_name").alias("name"),
        F.col("c_acctbal").alias("acctbal"),
    )
    s = load_table(spark, sf_dir, "supplier").select(
        F.lit("supplier").alias("kind"),
        F.col("s_name").alias("name"),
        F.col("s_acctbal").alias("acctbal"),
    )
    return c.unionAll(s).orderBy("kind", "name")


# ---------------------------------------------------------------------------
# Aggregates, scalar functions, skew and the as-of join
# ---------------------------------------------------------------------------


@register(
    "orders_above_customer_avg",
    oracle="""
    WITH avgs AS (
      SELECT o_custkey AS k,
             CAST(SUM(TRY_CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*) AS avg_price
      FROM orders GROUP BY 1
    )
    SELECT o_orderkey, o_custkey, o_totalprice AS total_price, avg_price
    FROM orders JOIN avgs ON o_custkey = k
    WHERE o_totalprice > avg_price
    ORDER BY o_orderkey
    """,
    tags=("join", "agg", "subquery"),
)
def orders_above_customer_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated-aggregate pattern (orders above their customer's
    average) decorrelated into agg + self-join — the form Catalyst
    itself rewrites correlated scalar subqueries into."""
    orders = load_table(spark, sf_dir, "orders")
    avgs = orders.groupBy(F.col("o_custkey").alias("k")).agg(
        davg("o_totalprice").alias("avg_price")
    )
    return (
        orders.join(avgs, orders.o_custkey == avgs.k)
        .filter(F.col("o_totalprice") > F.col("avg_price"))
        .select(
            "o_orderkey",
            "o_custkey",
            F.col("o_totalprice").alias("total_price"),
            "avg_price",
        )
        .orderBy("o_orderkey")
    )


@register(
    "cube_sales",
    oracle="""
    SELECT coalesce(l_returnflag, 'ALL') AS return_flag,
           coalesce(l_linestatus, 'ALL') AS line_status,
           COUNT(*) AS n_rows,
           CAST(SUM(TRY_CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty
    FROM lineitem
    GROUP BY CUBE (l_returnflag, l_linestatus)
    ORDER BY return_flag, line_status
    """,
    tags=("agg", "cube"),
)
def cube_sales(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full CUBE grouping sets (all 4 combinations of 2 dims)."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.cube("l_returnflag", "l_linestatus")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            dsum("l_quantity").alias("sum_qty"),
        )
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("return_flag"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("line_status"),
            "n_rows",
            "sum_qty",
        )
        .orderBy("return_flag", "line_status")
    )


@register(
    "robust_stats",
    oracle="""
    SELECT l_returnflag,
           COUNT(*) AS n,
           MIN(l_extendedprice) AS min_price,
           MAX(l_extendedprice) AS max_price,
           MEDIAN(l_extendedprice) AS median_price,
           round(sqrt((CAST(SUM(CAST(TRY_CAST(l_extendedprice AS DECIMAL(12,2)) AS DECIMAL(19,2)) * TRY_CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE)
                 - CAST(SUM(TRY_CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE)
                   * CAST(SUM(TRY_CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*))
                / (COUNT(*) - 1)), 6) AS stddev_price
    FROM lineitem
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
    tags=("agg", "stats"),
)
def robust_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order statistics + dispersion with cross-engine bit stability:
    median (both engines average the two middle doubles), and stddev
    computed from EXACT decimal sum / sum-of-squares so the only
    floating ops are the identical final divisions/sqrt — the naive
    running-variance aggregate differs per accumulation order. The
    stddev is still rounded to 6dp: the sum-of-squares scaled integer
    exceeds 2^53, and decimal->double casting of such values is
    correctly-rounded in the JVM but double-rounded in DuckDB (1-ulp
    divergence observed)."""
    li = load_table(spark, sf_dir, "lineitem")
    p = dec("l_extendedprice")
    sum_d = F.sum(p).cast("double")
    sumsq_d = F.sum(p * p).cast("double")
    n = F.count(F.lit(1))
    stddev = F.round(
        F.sqrt((sumsq_d - sum_d * sum_d / n) / (n - F.lit(1))), 6
    )
    return (
        li.groupBy("l_returnflag")
        .agg(
            n.alias("n"),
            F.min("l_extendedprice").alias("min_price"),
            F.max("l_extendedprice").alias("max_price"),
            F.median("l_extendedprice").alias("median_price"),
            stddev.alias("stddev_price"),
        )
        .orderBy("l_returnflag")
    )


@register(
    "priority_pivot",
    oracle="""
    SELECT o_orderstatus,
           CAST(SUM(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END) AS BIGINT) AS n_urgent,
           CAST(SUM(CASE WHEN o_orderpriority = '2-HIGH'   THEN 1 ELSE 0 END) AS BIGINT) AS n_high,
           CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS n_other,
           CAST(SUM(CASE WHEN o_orderpriority = '1-URGENT'
                         THEN TRY_CAST(o_totalprice AS DECIMAL(12,2)) END) AS DOUBLE) AS urgent_revenue
    FROM orders
    GROUP BY o_orderstatus
    ORDER BY o_orderstatus
    """,
    tags=("agg", "pivot"),
)
def priority_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional aggregation (manual pivot): per-status counts by
    priority class in fixed columns — the name-stable alternative to
    df.pivot for a known category set."""
    o = load_table(spark, sf_dir, "orders")
    urgent = F.col("o_orderpriority") == "1-URGENT"
    high = F.col("o_orderpriority") == "2-HIGH"
    return (
        o.groupBy("o_orderstatus")
        .agg(
            F.sum(F.when(urgent, 1).otherwise(0)).alias("n_urgent"),
            F.sum(F.when(high, 1).otherwise(0)).alias("n_high"),
            F.sum(F.when(~urgent & ~high, 1).otherwise(0)).alias("n_other"),
            F.sum(F.when(urgent, dec("o_totalprice")))
            .cast("double")
            .alias("urgent_revenue"),
        )
        .orderBy("o_orderstatus")
    )


@register(
    "customer_name_features",
    oracle="""
    SELECT c_custkey,
           upper(substring(c_name, 1, 8)) AS name_prefix,
           length(c_name) AS name_len,
           reverse(c_name) AS name_rev,
           concat_ws('-', c_mktsegment, CAST(c_nationkey AS VARCHAR)) AS seg_nation,
           replace(c_name, 'Customer', 'C') AS name_short,
           lpad(CAST(c_custkey AS VARCHAR), 12, '0') AS key_padded
    FROM customer
    ORDER BY c_custkey
    """,
    tags=("scalar-fn", "string"),
)
def customer_name_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String scalar-function coverage (upper/substring/length/
    reverse/concat_ws/replace/lpad) — the reference does string work
    ad hoc in Go map code (Q5/Q11 in SURVEY §2.2)."""
    c = load_table(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        F.upper(F.substring("c_name", 1, 8)).alias("name_prefix"),
        F.length("c_name").alias("name_len"),
        F.reverse("c_name").alias("name_rev"),
        F.concat_ws(
            "-", F.col("c_mktsegment"), F.col("c_nationkey").cast("string")
        ).alias("seg_nation"),
        F.replace(F.col("c_name"), F.lit("Customer"), F.lit("C")).alias("name_short"),
        F.lpad(F.col("c_custkey").cast("string"), 12, "0").alias("key_padded"),
    ).orderBy("c_custkey")


@register(
    "order_date_parts",
    oracle="""
    SELECT CAST(year(o_orderdate) AS INT) AS y,
           CAST(quarter(o_orderdate) AS INT) AS q,
           COUNT(*) AS n_orders,
           CAST(SUM(TRY_CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS revenue
    FROM orders
    GROUP BY 1, 2
    ORDER BY y, q
    """,
    tags=("scalar-fn", "datetime", "agg"),
)
def order_date_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Datetime extraction (year/quarter) + agg — the reference parses
    dates by hand (amplab3.go:57 time.Parse)."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.groupBy(
            F.year("o_orderdate").alias("y"), F.quarter("o_orderdate").alias("q")
        )
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            dsum("o_totalprice").alias("revenue"),
        )
        .orderBy("y", "q")
    )


@register(
    "order_item_arrays",
    oracle="""
    SELECT l_orderkey,
           COALESCE(array_to_string(list_sort(
             list(l_partkey) FILTER (WHERE l_partkey IS NOT NULL)), ','),
             '') AS part_keys,
           COUNT(l_partkey) AS n_parts
    FROM lineitem
    WHERE l_orderkey <= 100
    GROUP BY l_orderkey
    ORDER BY l_orderkey
    """,
    tags=("array", "agg"),
)
def order_item_arrays(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped array construction (collect_list -> sort_array),
    surfaced as a joined string so the value compare is type-stable.
    Array/nested types are wholly absent from the reference
    (SURVEY §1.1: strings only).

    NULL keys are absence, not elements (collect_list's own
    semantics): n_parts counts collected keys, so part_keys and
    n_parts always agree, and an all-NULL group rebuilds as the
    EMPTY string on both engines (oracle COALESCEs DuckDB's
    zero-row list aggregate, which is NULL, back to '') — the
    empty-rebuild convention."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_orderkey") <= 100)
        .groupBy("l_orderkey")
        .agg(
            F.array_join(
                F.transform(
                    F.sort_array(F.collect_list("l_partkey")),
                    lambda x: x.cast("string"),
                ),
                ",",
            ).alias("part_keys"),
            F.count("l_partkey").alias("n_parts"),
        )
        .orderBy("l_orderkey")
    )


@register(
    "customer_id_parse",
    oracle="""
    SELECT c_custkey,
           TRY_CAST(regexp_extract(c_name, 'Customer#(\\d+)', 1) AS BIGINT) AS parsed_id,
           (TRY_CAST(regexp_extract(c_name, 'Customer#(\\d+)', 1) AS BIGINT) = c_custkey) AS id_consistent
    FROM customer
    ORDER BY c_custkey
    """,
    tags=("scalar-fn", "regex"),
)
def customer_id_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regex capture-group extraction + cast + consistency predicate —
    the typed form of the reference's hand-rolled string parsing
    (amplab1.go:23 strconv.Atoi). try_cast: a name that does not
    match the pattern extracts '' and must parse to NULL on both
    engines, not raise under ANSI (extreme-value campaign —
    schema-on-read rule, same as event_props_map)."""
    c = load_table(spark, sf_dir, "customer")
    parsed = F.regexp_extract("c_name", r"Customer#(\d+)", 1).try_cast(
        "bigint"
    )
    return c.select(
        "c_custkey",
        parsed.alias("parsed_id"),
        (parsed == F.col("c_custkey")).alias("id_consistent"),
    ).orderBy("c_custkey")


@register(
    "order_latency",
    oracle="""
    SELECT o_orderpriority,
           COUNT(*) AS n_items,
           CAST(SUM(date_diff('day', o_orderdate, l_shipdate)) AS DOUBLE) / COUNT(*) AS avg_ship_days,
           MAX(date_diff('day', o_orderdate, l_shipdate)) AS max_ship_days
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
    tags=("datetime", "join", "agg"),
)
def order_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Timestamp arithmetic: order-to-ship latency in days per
    priority (datediff + integer-exact average)."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    days = F.datediff(F.col("l_shipdate"), F.col("o_orderdate"))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            (F.sum(days).cast("double") / F.count(F.lit(1))).alias("avg_ship_days"),
            F.max(days).alias("max_ship_days"),
        )
        .orderBy("o_orderpriority")
    )


@register(
    "null_semantics",
    oracle="""
    SELECT c_custkey,
           coalesce(n_recent, 0) AS n_recent,
           (n_recent IS NULL) AS never_recent,
           CASE WHEN coalesce(n_recent, 0) = 0 THEN 'inactive' ELSE 'active' END AS status
    FROM customer
    LEFT JOIN (
      SELECT o_custkey, COUNT(*) AS n_recent
      FROM orders WHERE o_orderdate >= TIMESTAMP '2001-01-01'
      GROUP BY o_custkey
    ) r ON c_custkey = o_custkey
    ORDER BY c_custkey
    """,
    tags=("null", "join"),
)
def null_semantics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NULL-handling coverage: outer join introduces NULLs, handled
    with coalesce / IS NULL / CASE — three-valued logic the reference
    sidesteps entirely (strings everywhere, SURVEY §1.1)."""
    customer = load_table(spark, sf_dir, "customer")
    recent = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") >= F.lit("2001-01-01"))
        .groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("n_recent"))
    )
    return (
        customer.join(recent, customer.c_custkey == recent.o_custkey, "left")
        .select(
            "c_custkey",
            F.coalesce("n_recent", F.lit(0)).alias("n_recent"),
            F.col("n_recent").isNull().alias("never_recent"),
            F.when(F.coalesce("n_recent", F.lit(0)) == 0, "inactive")
            .otherwise("active")
            .alias("status"),
        )
        .orderBy("c_custkey")
    )


@register(
    "salted_nation_revenue",
    oracle="""
    SELECT n_name,
           COUNT(*) AS n_orders,
           CAST(SUM(TRY_CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS revenue
    FROM orders
    JOIN customer ON o_custkey = c_custkey
    JOIN nation   ON c_nationkey = n_nationkey
    GROUP BY n_name
    ORDER BY n_name
    """,
    tags=("join", "skew", "agg"),
)
def salted_nation_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue per nation through an explicitly SALTED join
    (operators.skew.salted_join): the customer->nation key is
    low-cardinality (25 nations), the canonical hot-key shape. The
    oracle is the plain join — salting must be invisible in results."""
    from corral_spark.operators.skew import salted_join

    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("c_nationkey"), "n_name"
    )
    oc = orders.join(customer, orders.o_custkey == customer.c_custkey).select(
        "o_orderkey", "o_totalprice", "c_nationkey"
    )
    joined = salted_join(
        oc, nation, key="c_nationkey", salt_source="o_orderkey", buckets=8
    )
    return (
        joined.groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            dsum("o_totalprice").alias("revenue"),
        )
        .orderBy("n_name")
    )


@register(
    "order_percentiles",
    oracle="""
    SELECT c_custkey, o_orderkey,
           round(percent_rank() OVER w, 6) AS pct_rank,
           round(cume_dist() OVER w, 6) AS cume,
           ntile(4) OVER w AS quartile
    FROM orders JOIN customer ON o_custkey = c_custkey
    WINDOW w AS (PARTITION BY c_custkey
                 ORDER BY o_totalprice NULLS FIRST, o_orderkey)
    ORDER BY c_custkey, o_orderkey
    """,
    tags=("window", "stats"),
)
def order_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Analytic ranking functions (percent_rank/cume_dist/ntile) per
    customer — pure integer-derived ratios, bit-stable across engines
    (quantized at 6dp for safety)."""
    from pyspark.sql.window import Window

    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    w = Window.partitionBy("c_custkey").orderBy(
        F.asc("o_totalprice"), F.asc("o_orderkey")
    )
    return (
        o.join(c, o.o_custkey == c.c_custkey)
        .select(
            "c_custkey",
            "o_orderkey",
            F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
            F.round(F.cume_dist().over(w), 6).alias("cume"),
            F.ntile(4).over(w).alias("quartile"),
        )
        .orderBy("c_custkey", "o_orderkey")
    )


@register(
    "approx_distinct_parts",
    tags=("agg", "approx"),  # rows-only: HLL sketches differ per engine
)
def approx_distinct_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_count_distinct (HyperLogLog++) per return flag — the
    constant-memory distinct estimator for 100 TB cardinalities.
    Rows-only gate (sketch values are engine-specific); pytest bounds
    the estimation error against the exact count."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.approx_count_distinct("l_partkey", rsd=0.02).alias("approx_parts"),
            F.count(F.lit(1)).alias("n_rows"),
        )
        .orderBy("l_returnflag")
    )


@register(
    "asof_signup_before_purchase",
    oracle="""
    SELECT p.event_id,
           strftime(p.ts, '%Y-%m-%d %H:%M:%S') AS purchase_ts,
           p.user_id,
           strftime((SELECT max(s.ts) FROM events s
                     WHERE s.user_id = p.user_id
                       AND s.event_type = 'signup'
                       AND s.ts <= p.ts), '%Y-%m-%d %H:%M:%S') AS signup_ts
    FROM events p
    WHERE p.event_type = 'purchase'
    ORDER BY p.event_id
    """,
    headline=True,
    tags=("asof", "join", "extension"),
)
def asof_signup_before_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Backward as-of join (operators.asof.asof_join): each purchase
    event matched to the user's most recent signup at or before it.
    One shuffle + one sort via the union-window technique; the oracle
    is the correlated-subquery formulation."""
    events = load_table(spark, sf_dir, "events")
    purchases = events.filter(F.col("event_type") == "purchase").select(
        "event_id", "ts", "user_id"
    )
    signups = events.filter(F.col("event_type") == "signup").select("user_id", "ts")
    joined = asof_join(purchases, signups, on="ts", by="user_id", right_cols=[])
    return joined.select(
        "event_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("purchase_ts"),
        "user_id",
        F.date_format("ts_right", "yyyy-MM-dd HH:mm:ss").alias("signup_ts"),
    ).orderBy("event_id")


# ---------------------------------------------------------------------------
# Subquery shapes in decorrelated form
# ---------------------------------------------------------------------------


@register(
    "big_orders_in_subquery",
    oracle="""
    SELECT c_name, o_orderkey, o_totalprice AS total_price, qty_sum
    FROM orders
    JOIN customer ON o_custkey = c_custkey
    JOIN (SELECT l_orderkey, CAST(SUM(TRY_CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS qty_sum
          FROM lineitem GROUP BY l_orderkey HAVING SUM(TRY_CAST(l_quantity AS DECIMAL(12,2))) > 150) big
      ON o_orderkey = big.l_orderkey
    ORDER BY o_orderkey
    """,
    tags=("join", "subquery", "having"),
)
def big_orders_in_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: orders whose lineitems sum past a quantity
    threshold (IN + GROUP BY HAVING), joined back to customers."""
    li = load_table(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(dec("l_quantity")).alias("__q"))
        .filter(F.col("__q") > 150)
        .select("l_orderkey", F.col("__q").cast("double").alias("qty_sum"))
    )
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    return (
        orders.join(customer, orders.o_custkey == customer.c_custkey)
        .join(big, orders.o_orderkey == big.l_orderkey)
        .select(
            "c_name",
            "o_orderkey",
            F.col("o_totalprice").alias("total_price"),
            "qty_sum",
        )
        .orderBy("o_orderkey")
    )


@register(
    "parts_never_shipped",
    oracle="""
    SELECT p_partkey, p_name, p_type
    FROM part
    WHERE NOT EXISTS (SELECT 1 FROM lineitem
                      WHERE l_partkey = p_partkey AND l_quantity >= 48)
    ORDER BY p_partkey
    """,
    tags=("subquery", "anti"),
)
def parts_never_shipped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anti-join semantics, stated null-robustly: parts with no
    QUALIFYING shipment. The oracle is NOT EXISTS, not NOT IN — a
    single NULL l_partkey makes NOT IN return zero rows (three-valued
    logic) while the left-anti join keeps every non-matching part;
    NOT EXISTS matches the anti join exactly under NULLs (the
    NULL-injection campaign: 31 vs 0 rows under 5% null FKs).
    Threshold 48 keeps the result non-empty at every SF."""
    part = load_table(spark, sf_dir, "part")
    shipped = (
        load_table(spark, sf_dir, "lineitem")
        .filter(F.col("l_quantity") >= 48)
        .select("l_partkey")
    )
    return (
        part.join(shipped, part.p_partkey == shipped.l_partkey, "left_anti")
        .select("p_partkey", "p_name", "p_type")
        .orderBy("p_partkey")
    )


@register(
    "promo_revenue_share",
    oracle="""
    SELECT CAST(year(o_orderdate) AS INT) AS y,
           CAST(ROUND(SUM(CASE WHEN p_type = 'PROMO'
                    THEN TRY_CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(1 - (CASE WHEN l_discount BETWEEN 0 AND 1 THEN TRY_CAST(l_discount AS DECIMAL(3,2)) END) AS DECIMAL(4,2))
                    END), 2) AS DOUBLE)
             / CAST(ROUND(SUM(TRY_CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(1 - (CASE WHEN l_discount BETWEEN 0 AND 1 THEN TRY_CAST(l_discount AS DECIMAL(3,2)) END) AS DECIMAL(4,2))), 2) AS DOUBLE)
             AS promo_share,
           COUNT(*) AS n_items
    FROM lineitem
    JOIN part   ON l_partkey = p_partkey
    JOIN orders ON l_orderkey = o_orderkey
    GROUP BY 1
    ORDER BY y
    """,
    tags=("join", "agg", "ratio"),
)
def promo_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: conditional revenue ratio per year — exact
    decimal sums, one IEEE division at the end."""
    li = load_table(spark, sf_dir, "lineitem")
    # No broadcast hint on part: it scales with SF (~GBs at 100x), so
    # a forced broadcast would OOM executors. AQE picks broadcast at
    # runtime whenever the scan lands under autoBroadcastJoinThreshold.
    part = load_table(spark, sf_dir, "part")
    orders = load_table(spark, sf_dir, "orders")
    rev = dec("l_extendedprice") * (
        F.lit(1).cast("decimal(3,2)") - dec_rate("l_discount")
    ).cast("decimal(4,2)")
    # dsum_money-shape sums (exact-decimal ROUND to cents before the
    # double cast): revenue sums cross 2^53 scaled units under
    # extreme-but-valid prices, where raw decimal->double casts pick
    # up a cross-engine ulp (the pricing_summary precedent; the
    # extreme-value campaign caught the same class here).
    promo = dsum_money(F.when(F.col("p_type") == "PROMO", rev))
    total = dsum_money(rev)
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy(F.year("o_orderdate").alias("y"))
        .agg(
            (promo / total).alias("promo_share"),
            F.count(F.lit(1)).alias("n_items"),
        )
        .orderBy("y")
    )


@register(
    "top_revenue_supplier",
    oracle="""
    WITH srev AS (
      SELECT l_suppkey,
             CAST(ROUND(SUM(TRY_CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(1 - (CASE WHEN l_discount BETWEEN 0 AND 1 THEN TRY_CAST(l_discount AS DECIMAL(3,2)) END) AS DECIMAL(4,2))), 2) AS DOUBLE) AS revenue
      FROM lineitem GROUP BY l_suppkey
    )
    SELECT s_suppkey, s_name, revenue
    FROM supplier JOIN srev ON s_suppkey = l_suppkey
    WHERE revenue = (SELECT max(revenue) FROM srev)
    ORDER BY s_suppkey
    """,
    tags=("subquery", "scalar", "agg"),
)
def top_revenue_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape: supplier(s) achieving the global max revenue —
    a scalar subquery comparison, decorrelated as agg + cross-joined
    broadcast scalar."""
    li = load_table(spark, sf_dir, "lineitem")
    rev = dec("l_extendedprice") * (
        F.lit(1).cast("decimal(3,2)") - dec_rate("l_discount")
    ).cast("decimal(4,2)")
    srev = li.groupBy("l_suppkey").agg(dsum_money(rev).alias("revenue"))
    mx = srev.agg(F.max("revenue").alias("max_rev"))
    supplier = load_table(spark, sf_dir, "supplier")
    return (
        supplier.join(srev, supplier.s_suppkey == srev.l_suppkey)
        .crossJoin(F.broadcast(mx))
        .filter(F.col("revenue") == F.col("max_rev"))
        .select("s_suppkey", "s_name", "revenue")
        .orderBy("s_suppkey")
    )


@register(
    "nations_above_global_share",
    oracle="""
    WITH nrev AS (
      SELECT n_name,
             CAST(SUM(TRY_CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS revenue
      FROM orders
      JOIN customer ON o_custkey = c_custkey
      JOIN nation ON c_nationkey = n_nationkey
      GROUP BY n_name
    )
    SELECT n_name, revenue
    FROM nrev
    WHERE revenue > (SELECT 0.05 * CAST(SUM(TRY_CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) FROM orders)
    ORDER BY n_name
    """,
    tags=("subquery", "scalar", "having"),
)
def nations_above_global_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape: groups exceeding a fraction of the GLOBAL
    total (HAVING against a scalar subquery)."""
    orders = load_table(spark, sf_dir, "orders")
    # customer scales with SF — no forced broadcast (AQE decides);
    # nation is fixed 25 rows, so its hint is scale-safe.
    customer = load_table(spark, sf_dir, "customer")
    nation = F.broadcast(load_table(spark, sf_dir, "nation"))
    nrev = (
        orders.join(customer, orders.o_custkey == customer.c_custkey)
        .join(nation, customer.c_nationkey == nation.n_nationkey)
        .groupBy("n_name")
        .agg(dsum("o_totalprice").alias("revenue"))
    )
    total = orders.agg(
        (F.lit(0.05) * F.sum(dec("o_totalprice")).cast("double")).alias("cut")
    )
    return (
        nrev.crossJoin(F.broadcast(total))
        .filter(F.col("revenue") > F.col("cut"))
        .select("n_name", "revenue")
        .orderBy("n_name")
    )


# ---------------------------------------------------------------------------
# Range joins, gap filling, running frames and upserts
# ---------------------------------------------------------------------------


_US_PER_DAY = 86_400 * 1_000_000


@register(
    "events_in_promo_windows",
    oracle=f"""
    WITH b AS (SELECT epoch_us(MIN(ts)) AS mn FROM events),
    iv AS (
      SELECT k.range AS window_id,
             mn + k.range * 7 * {_US_PER_DAY} AS lo,
             mn + k.range * 7 * {_US_PER_DAY} + 3 * {_US_PER_DAY} AS hi
      FROM b, range(20) k
    )
    SELECT window_id, COUNT(*) AS n_events,
           CAST(SUM(TRY_CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
    FROM events e JOIN iv
      ON epoch_us(e.ts) >= iv.lo AND epoch_us(e.ts) < iv.hi
    GROUP BY window_id
    ORDER BY window_id
    """,
    tags=("range-join", "interval", "gap"),
)
def events_in_promo_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pure range join (no equi key): 20 deterministic 3-day promo
    windows spaced 7 days from the corpus start, joined to event
    timestamps via bucket decomposition
    (operators.ranges.interval_bucket_join, 1-day buckets) — an
    EQUI-join on bucket id + exact refine, never a nested-loop over
    points x intervals. All comparisons in epoch micros on both
    engines so boundary semantics are integer-exact."""
    from corral_spark.operators.timeseries import event_micros

    raw = load_table(spark, sf_dir, "events")
    ev = raw.select(event_micros(raw, "ts").alias("ts_us"), "value")
    mn = ev.agg(F.min("ts_us")).first()[0]
    iv = spark.range(20).select(
        F.col("id").alias("window_id"),
        (F.lit(mn) + F.col("id") * (7 * _US_PER_DAY)).alias("lo"),
        (F.lit(mn) + F.col("id") * (7 * _US_PER_DAY) + 3 * _US_PER_DAY).alias(
            "hi"
        ),
    )
    joined = interval_bucket_join(
        ev, iv, "ts_us", "lo", "hi", bucket_width=_US_PER_DAY
    )
    return (
        joined.groupBy("window_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(dec("value")).cast("double").alias("sum_value"),
        )
        .orderBy("window_id")
    )


@register(
    "daily_revenue_gapfill",
    oracle="""
    WITH obs AS (
      SELECT l_returnflag,
             datediff('day', DATE '1970-01-01', CAST(l_shipdate AS DATE)) AS day_num,
             CAST(SUM(TRY_CAST(l_extendedprice AS DECIMAL(12,2))
                      * CAST(1 - (CASE WHEN l_discount BETWEEN 0 AND 1 THEN TRY_CAST(l_discount AS DECIMAL(3,2)) END) AS DECIMAL(4,2))) AS DOUBLE) AS revenue
      FROM lineitem
      WHERE l_quantity >= 49
        -- declared series domain (r14): a ship date outside the
        -- table's documented range is corrupt and must not stretch
        -- the dense spine (one bad date = a 100k-day spine per key)
        AND l_shipdate >= TIMESTAMP '1992-01-01'
        AND l_shipdate < TIMESTAMP '1999-01-01'
      GROUP BY 1, 2
    ),
    bounds AS (SELECT MIN(day_num) AS lo, MAX(day_num) AS hi FROM obs),
    spine AS (
      SELECT f.l_returnflag, d.day_num
      FROM (SELECT DISTINCT l_returnflag FROM obs) f
      CROSS JOIN (SELECT unnest(generate_series(lo, hi)) AS day_num
                  FROM bounds) d
    )
    SELECT s.l_returnflag, s.day_num,
           last_value(o.revenue IGNORE NULLS) OVER (
             PARTITION BY s.l_returnflag ORDER BY s.day_num
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS revenue
    FROM spine s LEFT JOIN obs o
      ON s.l_returnflag = o.l_returnflag AND s.day_num = o.day_num
    ORDER BY s.l_returnflag, s.day_num
    """,
    tags=("timeseries", "gapfill", "locf", "gap"),
)
def daily_revenue_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style dense daily rollup: revenue from high-quantity
    lineitems (sparse by construction) bucketed per day and
    returnflag, densified over the global day range and gap-filled
    with last-observation-carried-forward
    (operators.timeseries.gapfill_locf). Buckets are integer day
    numbers on both engines — no timestamp-affinity risk."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_quantity") >= 49)
        & (F.col("l_shipdate") >= F.lit("1992-01-01"))
        & (F.col("l_shipdate") < F.lit("1999-01-01"))
    )
    obs = (
        li.select(
            "l_returnflag",
            F.datediff(
                F.col("l_shipdate").cast("date"), F.lit("1970-01-01").cast("date")
            ).alias("day_num"),
            (dec("l_extendedprice") * (F.lit(1).cast("decimal(3,2)") - dec_rate("l_discount")).cast("decimal(4,2)")).alias(
                "__rev"
            ),
        )
        .groupBy("l_returnflag", "day_num")
        .agg(F.sum("__rev").cast("double").alias("revenue"))
    )
    filled = gapfill_locf(
        obs, "l_returnflag", "day_num", ["revenue"], bucket_width=1
    )
    return filled.orderBy("l_returnflag", "day_num")


@register(
    "customer_running_totals",
    oracle="""
    SELECT o_custkey, o_orderkey,
           CAST(SUM(TRY_CAST(o_totalprice AS DECIMAL(12,2))) OVER (
             PARTITION BY o_custkey
             ORDER BY o_orderdate NULLS FIRST, o_orderkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
             AS running_total,
           CAST(ROW_NUMBER() OVER (
             PARTITION BY o_custkey
             ORDER BY o_orderdate NULLS FIRST, o_orderkey)
             AS BIGINT) AS order_seq,
           lag(o_totalprice) OVER (
             PARTITION BY o_custkey
             ORDER BY o_orderdate NULLS FIRST, o_orderkey)
             AS prev_price
    FROM orders
    ORDER BY o_orderkey
    """,
    tags=("window", "frame", "running", "gap"),
)
def customer_running_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running-frame window coverage (ROWS UNBOUNDED PRECEDING ->
    CURRENT ROW cumulative sum, row_number sequence, lag) per
    customer, deterministically ordered by (o_orderdate, o_orderkey).
    The cumulative SUM runs over exact decimals, surfaced as double
    (functions.det conventions); lag copies a raw double bit-for-bit.
    One shuffle on o_custkey serves all three window functions."""
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    wf = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return (
        load_table(spark, sf_dir, "orders")
        .select(
            "o_custkey",
            "o_orderkey",
            F.sum(dec("o_totalprice")).over(wf).cast("double").alias(
                "running_total"
            ),
            F.row_number().over(w).cast("bigint").alias("order_seq"),
            F.lag("o_totalprice").over(w).alias("prev_price"),
        )
        .orderBy("o_orderkey")
    )


@register(
    "orders_merge_upsert",
    oracle="""
    WITH upd AS (
      SELECT o_orderkey, 'U' AS o_orderstatus, o_totalprice + 100 AS o_totalprice
      FROM orders WHERE o_orderkey % 7 = 0
      UNION ALL
      SELECT o_orderkey + 1000000000, 'N', o_totalprice
      FROM orders WHERE o_orderkey % 1000 = 0
    ),
    tomb AS (SELECT o_orderkey FROM orders WHERE o_orderkey % 97 = 0)
    SELECT o_orderkey, o_orderstatus, o_totalprice FROM (
      SELECT c.o_orderkey, c.o_orderstatus, c.o_totalprice
      FROM orders c
      WHERE c.o_orderkey NOT IN (SELECT o_orderkey FROM upd)
      UNION ALL
      SELECT * FROM upd
    )
    WHERE o_orderkey NOT IN (SELECT o_orderkey FROM tomb)
    ORDER BY o_orderkey
    """,
    tags=("merge", "upsert", "cdc", "gap"),
)
def orders_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO semantics on plain DataFrames
    (operators.merge.merge_upsert): a derived CDC batch — updates
    (key%7: status U, price+100), inserts (key%1000 re-keyed +1e9),
    deletes (key%97 tombstones) — applied to orders via one full-outer
    join + per-column COALESCE + tombstone anti-join. The oracle
    states the same semantics as set algebra (carry ∪ upserts minus
    tombstones). +100 on a 2-decimal double is IEEE-exact, so no
    decimal detour is needed."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    updates = (
        orders.filter(F.col("o_orderkey") % 7 == 0)
        .select(
            "o_orderkey",
            F.lit("U").alias("o_orderstatus"),
            (F.col("o_totalprice") + 100).alias("o_totalprice"),
            F.lit(False).alias("__del"),
        )
        .unionByName(
            orders.filter(F.col("o_orderkey") % 1000 == 0).select(
                (F.col("o_orderkey") + 1_000_000_000).alias("o_orderkey"),
                F.lit("N").alias("o_orderstatus"),
                F.col("o_totalprice"),
                F.lit(False).alias("__del"),
            )
        )
        .unionByName(
            orders.filter(F.col("o_orderkey") % 97 == 0).select(
                "o_orderkey",
                F.lit(None).cast("string").alias("o_orderstatus"),
                F.lit(None).cast("double").alias("o_totalprice"),
                F.lit(True).alias("__del"),
            )
        )
    )
    merged = merge_upsert(orders, updates, "o_orderkey", delete_col="__del")
    return merged.orderBy("o_orderkey")
