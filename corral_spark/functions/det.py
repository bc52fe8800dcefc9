"""Deterministic cross-engine aggregate helpers.

Problem: SUM/AVG over doubles accumulate in engine- and order-
dependent ways; ``round(x, n)`` then flips at boundaries (observed:
DuckDB avg 217870.85125 -> .8513 vs Spark .8512). The driver's gate
hash-compares values, so outputs must be BIT-identical.

Solution: the testdata money/rate columns carry exactly 2 decimal
places (verified in tests), so we cast to DECIMAL before aggregating —
integer-exact arithmetic in both engines — and cast the final result
to DOUBLE (one IEEE rounding of the same exact value on both sides).
AVG is expressed as CAST(SUM(dec) AS DOUBLE) / COUNT so both engines
perform the identical single division.

The mirrored DuckDB SQL shapes live in the oracle strings next to each
query; keep them in sync with these helpers.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

#: Per-column precision 12 keeps 3-factor decimal products within both
#: engines' 38-digit cap (12,2 x 13,2 x 13,2). SUM internally widens to
#: decimal(38,s) in both engines, so 100 TB-scale sums stay exact.
_PREC = 12


def dec(col: Column | str, scale: int = 2) -> Column:
    """Cast a (2-decimal) double column to exact decimal.

    try_cast, not cast (extreme-value campaign): a value outside
    the DECIMAL(12,2) domain (|x| >= 10^10 — corrupt at 100 TB
    schema-on-read, never a real money amount) becomes NULL and is
    skipped by SUM/AVG on BOTH engines (oracles mirror with
    TRY_CAST). A plain cast made the behavior SESSION-dependent:
    ANSI raised (one corrupt row kills the query), legacy silently
    nulled — the fix pins the null-and-skip semantics explicitly.
    Callers needing loud accounting of domain violations should
    count them separately (a dq_report-style audit), not rely on
    the aggregate raising."""
    c = F.col(col) if isinstance(col, str) else col
    return c.try_cast(f"decimal({_PREC},{scale})")


def dec_rate(col: Column | str) -> Column:
    """Cast a RATE column (discount, tax — semantically in [0, 1],
    2 decimal places) to exact DECIMAL(3,2), with the domain check
    inline: an out-of-domain value (a "discount" of 1.2e8 — corrupt
    at 100 TB schema-on-read) is invalid-measurement NULL, exactly
    like dec()'s try_cast rule. The narrow type matters beyond
    hygiene: revenue products sized from a (12,2) rate factor forced
    DuckDB's 128-bit path and let corrupt rates inflate money sums
    to 1e20 — past even dsum_money's 2^53 headroom, where
    decimal->double casting picks up a cross-engine ulp (extreme-value
    campaign). With rates pinned to (3,2), in-domain products stay
    within both engines' exact-integer range. Oracle mirror:
    ``CASE WHEN col BETWEEN 0 AND 1 THEN TRY_CAST(col AS
    DECIMAL(3,2)) END``."""
    c = F.col(col) if isinstance(col, str) else col
    return F.when(c.between(0, 1), c.try_cast("decimal(3,2)"))


def dsum(col: Column | str, scale: int = 2) -> Column:
    """Exact decimal SUM, surfaced as double."""
    return F.sum(dec(col, scale)).cast("double")


def dsum_expr(expr: Column) -> Column:
    """Exact SUM of an already-decimal expression, surfaced as double."""
    return F.sum(expr).cast("double")


def dsum_money(expr: Column) -> Column:
    """Exact SUM of a decimal-product expression, rounded to 2 dp IN
    DECIMAL (deterministic HALF_UP on the exact value in both
    engines), THEN surfaced as double.

    Use this instead of ``dsum_expr`` whenever the summed expression
    has scale > 2 (decimal products widen the scale) and the sum's
    magnitude can grow with the data: the "one IEEE rounding of the
    same exact value" guarantee in the module docstring holds only
    while the SCALED integer stays below 2^53 — above it the JVM's
    decimal->double conversion is correctly-rounded while DuckDB's is
    double-rounded (1-ulp divergence; observed on pricing_summary
    sum_charge at the sf1 replica: scale-6 sum 2.8e10 -> scaled
    2.8e16 > 2^53). Rounding to scale 2 first is an exact decimal
    operation with identical semantics in both engines and moves the
    2^53 boundary out by the dropped digits (scale-6 money sums:
    10^4x headroom). Mirror in the oracle as
    ``CAST(ROUND(SUM(...), 2) AS DOUBLE)``.
    """
    return F.round(F.sum(expr), 2).cast("double")


def davg(col: Column | str, scale: int = 2) -> Column:
    """Exact-sum average: CAST(SUM(dec) AS DOUBLE)/COUNT(*)."""
    return F.sum(dec(col, scale)).cast("double") / F.count(F.lit(1))
