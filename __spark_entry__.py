"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` smoke-runs the flagship query at sf0.001;
``queries()`` exposes every declared operator from SURVEY.md §2 as a
(spark, sf_dir) -> DataFrame callable; ``oracle_sql()`` gives the
equivalent DuckDB SQL per query (omitted for non-SQL-expressible ops,
which get a rows-only check).

All real logic lives in the ``corral_spark`` package; this module is
a thin adapter over its query registry.
"""

from __future__ import annotations

import json
import re
import sys
from collections.abc import Callable
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

# Make corral_spark importable no matter the driver's cwd.
_REPO_ROOT = str(Path(__file__).resolve().parent)
if _REPO_ROOT not in sys.path:
    sys.path.insert(0, _REPO_ROOT)

from corral_spark.queries import REGISTRY  # noqa: E402

SMOKE_SF_DIR = "/root/testdata/sf0.001"


def _ship_package_to_workers(spark: SparkSession) -> None:
    """Make ``corral_spark`` importable on executor Python workers.

    Arrow/pandas UDFs pickle references to this package; workers
    resolve them by import. When the driver process runs from a cwd
    other than the repo (and without PYTHONPATH), that import fails —
    so ship the package as a zip via addPyFile, once per session.
    """
    sc = spark.sparkContext
    if getattr(sc, "_corral_pkg_shipped", False):
        return
    import tempfile
    import zipfile

    pkg_root = Path(__file__).resolve().parent / "corral_spark"
    zpath = Path(tempfile.gettempdir()) / "corral_spark_pkg.zip"
    with zipfile.ZipFile(zpath, "w") as zf:
        for py in sorted(pkg_root.rglob("*.py")):
            zf.write(py, py.relative_to(pkg_root.parent))
    sc.addPyFile(str(zpath))
    sc._corral_pkg_shipped = True


def _wrap(fn: Callable[[SparkSession, str], DataFrame]):
    def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
        _ship_package_to_workers(spark)
        return fn(spark, sf_dir)

    return wrapped


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query (TPC-H Q3-style join+agg+topk) on sf0.001."""
    return _wrap(REGISTRY["shipping_priority"].spark)(spark, SMOKE_SF_DIR)


# The driver's correctness gate records rows for the first 50
# queries() only, so the order decides which queries get a fresh driver
# row each round; every oracled query stays oracle-gated by pytest
# (tests/test_correctness.py) and tools/driver_sim.py regardless.
#
# Oracled queries whose code changed after their newest hash-green
# driver row, mapped to the last driver round before the change. Each
# leads the order until a later round's CORRECTNESS file shows it green.
FRESH = {
    "boilerplate_removed_docs": 17,  # words-array segment scaffold
    "cross_corpus_near_dups": 17,  # side-tagged MinHash kernel
    "minhash_pairs_docs": 17,  # side-tagged MinHash kernel, OPH signature
    "pretrain_corpus": 17,  # words-array hygiene cores
    "pretrain_corpus_full": 17,
    "pretrain_corpus_provenance": 17,
    "segment_dedup_docs": 17,  # words-array segment scaffold
}

Rounds = dict[int, dict[str, bool]]


def correctness_rounds(root: Path = Path(_REPO_ROOT)) -> Rounds:
    """``{round: {query: hash_match}}`` from ``root/CORRECTNESS_r<N>.json``."""
    rounds = {}
    for path in root.glob("CORRECTNESS_r*.json"):
        m = re.fullmatch(r"CORRECTNESS_r(\d+)\.json", path.name)
        if m:
            rows = json.loads(path.read_text())
            rounds[int(m.group(1))] = {
                name: isinstance(row, dict) and row.get("hash_match") is True
                for name, row in rows.items()
            }
    return rounds


def green_round(name: str, rounds: Rounds) -> int:
    """Newest round whose row for ``name`` matched the oracle; 0 if none."""
    return max((r for r, rows in rounds.items() if rows.get(name)), default=0)


def rotation_order(
    oracled: list[str],
    rows_only: list[str],
    rounds: Rounds,
    fresh: dict[str, int] = FRESH,
) -> list[str]:
    """``fresh`` queries not yet green after their change, then the
    other oracled queries by (green round, name), oldest first, then
    ``rows_only`` as given."""
    key = {name: (green_round(name, rounds), name) for name in oracled}
    changed = {n for n in oracled if n in fresh and key[n][0] <= fresh[n]}
    return (
        sorted(changed, key=key.get)
        + sorted(set(oracled) - changed, key=key.get)
        + list(rows_only)
    )


def _ordered_names() -> list[str]:
    oracled = [n for n, q in REGISTRY.items() if q.oracle is not None]
    rows_only = [n for n, q in REGISTRY.items() if q.oracle is None]
    return rotation_order(oracled, rows_only, correctness_rounds())


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: _wrap(REGISTRY[name].spark) for name in _ordered_names()}


def oracle_sql() -> dict[str, str]:
    return {
        name: REGISTRY[name].oracle
        for name in _ordered_names()
        if REGISTRY[name].oracle is not None
    }
