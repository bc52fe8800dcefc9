"""Data-quality and text-hygiene operators for training pipelines.

North-star extension surface (SURVEY §2.4 "text analysis" family):
constraint reporting (null/uniqueness/referential checks in one pass
per table), text normalization, and PII redaction — the standard
pre-training hygiene steps. Everything is built-in expressions so the
checks run at scan speed and the report aggregates map-side.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: Conservative, mirrorable regexes (same semantics in Java and RE2).
EMAIL_RE = r"[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}"
IPV4_RE = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"
PHONE_RE = r"\b\d{3}[-.]\d{3}[-.]\d{4}\b"


def redact_pii(col: Column) -> Column:
    """Mask emails, IPv4s, and phone-shaped numbers with typed tokens.
    Order matters: emails first (an email contains no spaces, so later
    passes cannot re-match inside the token)."""
    out = F.regexp_replace(col, EMAIL_RE, "<EMAIL>")
    out = F.regexp_replace(out, IPV4_RE, "<IP>")
    out = F.regexp_replace(out, PHONE_RE, "<PHONE>")
    return out


def normalize_text(col: Column) -> Column:
    """Canonical text form: lowercase, collapse whitespace runs, trim.
    (Unicode NFC normalization would slot here via a pandas UDF when
    corpora need it; the driver corpus is ASCII.)"""
    return F.trim(F.regexp_replace(F.lower(col), r"\s+", " "))


def duplicate_key_report(df: DataFrame, key_cols: list[str]) -> DataFrame:
    """Keys violating uniqueness, with their multiplicities."""
    return (
        df.groupBy(*key_cols)
        .agg(F.count(F.lit(1)).alias("n_rows"))
        .filter(F.col("n_rows") > 1)
    )


def orphan_report(
    child: DataFrame, parent: DataFrame, child_key: str, parent_key: str
) -> DataFrame:
    """Referential integrity: child rows whose key has no parent
    (left-anti join — at scale the parent key set broadcasts when
    small, otherwise shuffles once)."""
    return child.join(
        parent.select(parent_key), child[child_key] == parent[parent_key], "left_anti"
    )


def profile_table(df: DataFrame, cols: list[str] | None = None) -> DataFrame:
    """Single-pass column profiler: one output row per column with
    (column, n_rows, n_nulls, n_distinct, min_value, max_value).

    All aggregates for all columns run in ONE aggregation job (the
    multi-distinct plan Spark expands internally); min/max are
    stringified type-aware — numerics via DECIMAL(18,2), timestamps
    via a fixed format — so the report schema is uniform and every
    value has ONE canonical cross-engine text form (raw double/
    timestamp casts format differently per engine).

    The profiler is the first thing run against an unknown 100 TB
    drop: one shuffle-free scan answers nullability, cardinality
    class, and range for every column at once.
    """
    from pyspark.sql.types import (
        DoubleType,
        FloatType,
        TimestampType,
    )

    cols = cols or df.columns

    def _fmt(c: str, agg):
        # Aggregate on the RAW column (numeric/timestamp ordering),
        # then stringify the single result — formatting before MIN/MAX
        # would compare lexicographically ('99.00' > '100.00').
        dt = df.schema[c].dataType
        if isinstance(dt, (DoubleType, FloatType)):
            return agg.cast("decimal(18,2)").cast("string")
        if isinstance(dt, TimestampType):
            return F.date_format(agg, "yyyy-MM-dd HH:mm:ss")
        return agg.cast("string")

    aggs = [F.count(F.lit(1)).alias("__n")]
    for c in cols:
        aggs += [
            # coalesce: SUM over zero rows is NULL, but "no rows" has
            # zero nulls (matches the oracle's COUNT(*)-COUNT(col)).
            F.coalesce(
                F.sum(F.col(c).isNull().cast("long")), F.lit(0)
            ).alias(f"__nulls_{c}"),
            F.count_distinct(F.col(c)).alias(f"__nd_{c}"),
            _fmt(c, F.min(F.col(c))).alias(f"__min_{c}"),
            _fmt(c, F.max(F.col(c))).alias(f"__max_{c}"),
        ]
    one = df.agg(*aggs)
    rows = [
        F.struct(
            F.lit(c).alias("column"),
            F.col("__n").alias("n_rows"),
            F.col(f"__nulls_{c}").alias("n_nulls"),
            F.col(f"__nd_{c}").alias("n_distinct"),
            F.col(f"__min_{c}").alias("min_value"),
            F.col(f"__max_{c}").alias("max_value"),
        )
        for c in cols
    ]
    return one.select(F.explode(F.array(*rows)).alias("p")).select("p.*")


#: Deterministic logistic quality-model weights: (bias, distinct_ratio,
#: stopword_ratio, ln(n_words+1), avg_word_len - 5). The weights are
#: fixed engine constants — the operator demonstrates MODEL-BASED
#: quality filtering (the fastText-classifier shape used by CCNet/
#: RefinedWeb-style pipelines) as a pure JVM-side expression: at 100 TB
#: a linear model over cheap features scores in the scan projection
#: with zero shuffle and zero Python.
QUALITY_WEIGHTS = (-1.0, 2.0, 1.5, 0.3, -0.2)


def quality_logistic_score(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-document quality score: sigmoid of a fixed linear model
    over textanalysis.text_stats features. Scores are rounded to 6 dp
    so ranking/filtering is engine-stable; ``keep`` applies the 0.5
    decision threshold. Output: (id_col, score, keep)."""
    from corral_spark.operators.textanalysis import text_stats

    w0, w1, w2, w3, w4 = QUALITY_WEIGHTS
    stats = text_stats(df, text_col, id_col=id_col)
    z = (
        F.lit(w0)
        + F.lit(w1) * F.col("distinct_ratio")
        + F.lit(w2) * F.col("stopword_ratio")
        + F.lit(w3) * F.log(F.col("n_words") + F.lit(1.0))
        + F.lit(w4) * (F.col("avg_word_len") - F.lit(5.0))
    )
    score = F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-z)), 6)
    return stats.select(
        id_col,
        score.alias("score"),
        (score >= F.lit(0.5)).alias("keep"),
    )


def mad_outlier_report(
    df: DataFrame,
    value_col: str,
    group_cols: tuple = (),
    k_scaled: float = 4.4478,
    cents_scale: int = 100,
) -> DataFrame:
    """Robust per-group outlier report: median, MAD (median absolute
    deviation), and how many rows fall outside median +/- k_scaled*MAD
    (default 4.4478 = 3 sigma-equivalents * the 1.4826 normal
    consistency constant). Median/MAD resist the very outliers a
    mean/stddev rule would absorb — the standard robust screen for a
    numeric column's junk rows (unit-confused prices, sensor spikes)
    before a corpus or feature table ships.

    Determinism contract: values are first scaled to integer "cents"
    (CAST(ROUND(v * cents_scale, 0) AS BIGINT)), so every median —
    including even-count interpolation — is an exact multiple of 0.5
    and every MAD an exact multiple of 0.25 in IEEE double; both
    engines then agree bit-exactly, which is what lets a DuckDB oracle
    replay the whole report (med_cents / mad_cents are exposed in
    cents for exactly that reason). Shape at scale: two
    partial-aggregated shuffles on the group key (medians, then MAD)
    plus one broadcast-sized join of per-group scalars back onto the
    rows; for a 100 TB single pass where exact medians are too dear,
    histogram_sketch + histogram_quantiles is the declared-precision
    substitute.
    """
    cents = F.round(F.col(value_col) * cents_scale, 0).cast("long")
    base = df.filter(F.col(value_col).isNotNull()).select(
        *group_cols, cents.alias("__c")
    )
    med = base.groupBy(*group_cols).agg(
        F.percentile(F.col("__c"), F.lit(0.5)).alias("med_cents")
    )
    keys = list(group_cols)
    withmed = base.join(F.broadcast(med), keys) if keys else base.crossJoin(
        F.broadcast(med)
    )
    dev = withmed.select(
        *group_cols,
        "__c",
        F.abs(F.col("__c") - F.col("med_cents")).alias("__dev"),
        "med_cents",
    )
    mad = dev.groupBy(*group_cols).agg(
        F.percentile(F.col("__dev"), F.lit(0.5)).alias("mad_cents")
    )
    withmad = dev.join(F.broadcast(mad), keys) if keys else dev.crossJoin(
        F.broadcast(mad)
    )
    return (
        withmad.select(
            *group_cols,
            "med_cents",
            "mad_cents",
            (F.col("__dev") > F.lit(k_scaled) * F.col("mad_cents"))
            .cast("int")
            .alias("__out"),
        )
        .groupBy(*group_cols)
        .agg(
            F.first("med_cents").alias("med_cents"),
            F.first("mad_cents").alias("mad_cents"),
            F.count(F.lit(1)).alias("n"),
            F.sum("__out").alias("outliers"),
            F.round(
                F.sum("__out").cast("double") / F.count(F.lit(1)), 4
            ).alias("outlier_share"),
        )
    )
