"""Robustness: every registered query must run (not crash) on EMPTY
input tables — a clean-corpus/fresh-partition world is a valid input.
The round-1 advisory found exactly this class of bug (empty edge set
crashing connected_components); this sweep pins the whole registry.
"""

from __future__ import annotations

import pytest

from corral_spark.queries import REGISTRY
from corral_spark.sources.tables import TABLES, load_table

SRC = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def empty_sf_dir(spark, tmp_path_factory):
    out = tmp_path_factory.mktemp("empty_sf")
    for name in TABLES:
        df = load_table(spark, SRC, name).limit(0)
        df.write.mode("overwrite").parquet(str(out / f"{name}.parquet"))
    return str(out)


@pytest.mark.parametrize("name", sorted(REGISTRY))
def test_query_survives_empty_tables(spark, empty_sf_dir, name):
    df = REGISTRY[name].spark(spark, empty_sf_dir)
    # Must build a valid plan and execute; aggregates over empty input
    # may legitimately emit a single all-NULL/zero row.
    assert df.count() >= 0


def test_fuzzy_counts_empty_input(spark):
    """An aggregate over zero rows is NULL, not 0; fuzzy_counts must
    report a zero for every funnel stage on an empty frame, not raise
    or report NULL."""
    from corral_spark.operators.fuzzy import fuzzy_counts

    empty = spark.createDataFrame([], "c_custkey: long, c_name: string")
    got = fuzzy_counts(empty, "c_name", "c_custkey", max_dist=1)
    assert got == {
        "variant_rows": 0,
        "raw_pairs": 0,
        "distinct_candidates": 0,
        "pairs": 0,
    }
