"""Declared query registry — every operator from SURVEY.md §2 appears
here as a named (Spark DataFrame fn, DuckDB oracle SQL) pair, grouped
into one module per family.

Importing this package populates ``REGISTRY`` via module side effects.
"""

from corral_spark.queries.registry import REGISTRY, Query, register

# Import for side effect: each module registers its queries.
from corral_spark.queries import relational as _relational  # noqa: E402,F401
from corral_spark.queries import analytics as _analytics  # noqa: E402,F401
from corral_spark.queries import dedup as _dedup  # noqa: E402,F401
from corral_spark.queries import retrieval as _retrieval  # noqa: E402,F401
from corral_spark.queries import sketches as _sketches  # noqa: E402,F401
from corral_spark.queries import text as _text  # noqa: E402,F401
from corral_spark.queries import hygiene as _hygiene  # noqa: E402,F401
from corral_spark.queries import streaming_q as _streaming  # noqa: E402,F401

__all__ = ["REGISTRY", "Query", "register"]
