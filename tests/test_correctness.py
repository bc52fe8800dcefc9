"""Driver-gate replica: every registered query with an oracle must
match DuckDB exactly at sf0.001 (fast) — the real gate runs sf0.01.

Set CORRAL_TEST_SF_DIR=/root/testdata/sf0.01 to run at gate scale.
"""

from __future__ import annotations

import os

import pytest

from corral_spark.queries import REGISTRY
from tests.oracle import run_gate

SF_DIR = os.environ.get("CORRAL_TEST_SF_DIR", "/root/testdata/sf0.001")

ORACLE_QUERIES = sorted(name for name, q in REGISTRY.items() if q.oracle)
ROWS_ONLY_QUERIES = sorted(name for name, q in REGISTRY.items() if not q.oracle)


@pytest.mark.parametrize("name", ORACLE_QUERIES)
def test_oracle_match(spark, name):
    q = REGISTRY[name]
    problems = run_gate(spark, SF_DIR, name, q.spark, q.oracle)
    assert not problems, "\n".join(problems)


@pytest.mark.parametrize("name", ROWS_ONLY_QUERIES)
def test_rows_only_runs(spark, name):
    q = REGISTRY[name]
    df = q.spark(spark, SF_DIR)
    assert df.count() >= 0
    assert len(df.schema.fields) > 0


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    assert df.count() >= 0
    assert set(e.oracle_sql()) <= set(e.queries())


GATE_HEAD = 50  # the driver records rows for the first 50 queries only
# a query last green MAX_STALE rounds before the next driver round must
# be in that round's head
MAX_STALE = 3

# The head the ordering rule gives on CORRECTNESS_r01..r17: the 7 FRESH
# names (changed code, last green at r16), the 37 r15-green names, then
# the first 6 r16-green names.
R18_HEAD = [
    "boilerplate_removed_docs", "cross_corpus_near_dups",
    "minhash_pairs_docs", "pretrain_corpus", "pretrain_corpus_full",
    "pretrain_corpus_provenance", "segment_dedup_docs",
    "cube_sales", "customer_cohort_retention", "customer_id_parse",
    "customers_without_orders", "daily_revenue_gapfill",
    "distinct_parts_per_flag", "doc_chunks", "doc_fingerprint_md5",
    "doc_provenance", "event_hourly_anomalies", "events_in_promo_windows",
    "heavy_hitter_tokens", "high_value_order_exists",
    "incremental_dedup_new_docs", "mmr_diverse_topk", "nation_set_ops",
    "nations_above_global_share", "null_semantics", "order_date_parts",
    "order_latency", "orders_above_customer_avg", "orders_by_month",
    "orders_merge_upsert", "orders_rollup_ivm", "pack_docs_2k",
    "phrase_mining_docs", "pq_ann_topk", "priority_pivot",
    "psi_drift_docs", "psi_drift_probe", "quality_score_docs",
    "top_revenue_supplier", "top_tokens_per_lang", "udtf_sentences_docs",
    "union_all_parties", "weighted_sampled_docs", "window_top_orders",
    "amplab1", "amplab2", "amplab3", "asof_signup_before_purchase",
    "bloom_new_docs", "bloom_new_docs_registers",
]


def _check_staleness(order, oracled, rounds):
    """Every oracled query whose green round is MAX_STALE or more rounds
    behind the next driver round must sit in the head."""
    import __spark_entry__ as e

    next_round = max(rounds, default=0) + 1
    head = set(order[:GATE_HEAD])
    stale = sorted(
        n
        for n in oracled
        if e.green_round(n, rounds) <= next_round - MAX_STALE
        and n not in head
    )
    assert not stale, (
        f"{len(stale)} oracled queries would go stale at round "
        f"{next_round}, outside the first {GATE_HEAD}: {stale}"
    )


def test_rotation_invariants():
    """The driver records only the first 50 queries(): the head is 50
    oracled queries, every FRESH name is a registered oracled query, no
    oracled query is left out of the head once it is MAX_STALE rounds
    without a green row, rows-only queries come last, and the order
    loses no name."""
    import __spark_entry__ as e

    oracled = set(ORACLE_QUERIES)
    names = e._ordered_names()
    assert len(names) == len(set(names)) == len(REGISTRY)
    assert len(names[:GATE_HEAD]) == GATE_HEAD
    assert set(names[:GATE_HEAD]) <= oracled
    not_oracled = [n for n in e.FRESH if n not in oracled]
    assert not not_oracled, f"FRESH but not oracled: {not_oracled}"
    _check_staleness(names, oracled, e.correctness_rounds())
    assert set(names[len(oracled):]) == set(ROWS_ONLY_QUERIES)
    assert set(e.queries()) == set(REGISTRY)
    assert set(e.oracle_sql()) == oracled


def test_rotation_head_on_r17_files():
    """The rule on the committed r01..r17 files gives the r18 head, then
    the other oracled queries by (green round, name), then rows-only."""
    import __spark_entry__ as e

    rounds = {r: v for r, v in e.correctness_rounds().items() if r <= 17}
    assert sorted(rounds) == list(range(1, 18))
    rows_only = [n for n in REGISTRY if n not in ORACLE_QUERIES]
    order = e.rotation_order(ORACLE_QUERIES, rows_only, rounds)
    assert order[:GATE_HEAD] == R18_HEAD
    tail = order[GATE_HEAD : len(ORACLE_QUERIES)]
    assert tail == sorted(tail, key=lambda n: (e.green_round(n, rounds), n))
    assert order[len(ORACLE_QUERIES) :] == rows_only


def test_rotation_never_green_sorts_first():
    import __spark_entry__ as e

    rounds = {1: {"a": True, "b": True, "c": True}, 2: {"b": False}}
    order = e.rotation_order(["c", "b", "a", "new"], ["r"], rounds, {})
    assert order == ["new", "a", "b", "c", "r"]
    assert e.green_round("b", rounds) == 1


def test_rotation_fresh_leaves_once_green():
    import __spark_entry__ as e

    rounds = {1: {"a": True, "b": True}, 2: {"a": True}}
    fresh = {"b": 2}
    assert e.rotation_order(["a", "b"], [], rounds, fresh) == ["b", "a"]
    rounds[2]["b"] = True  # green in the round it was marked changed
    assert e.rotation_order(["a", "b"], [], rounds, fresh) == ["b", "a"]
    rounds[3] = {"b": True}
    assert e.rotation_order(["a", "b"], [], rounds, fresh) == ["a", "b"]


def test_rotation_without_correctness_files(tmp_path):
    import __spark_entry__ as e

    rounds = e.correctness_rounds(tmp_path)
    assert rounds == {}
    rows_only = [n for n in REGISTRY if n not in ORACLE_QUERIES]
    order = e.rotation_order(ORACLE_QUERIES, rows_only, rounds)
    assert order[: len(e.FRESH)] == sorted(e.FRESH)
    assert sorted(order[: len(ORACLE_QUERIES)]) == ORACLE_QUERIES
    assert order[len(ORACLE_QUERIES) :] == rows_only
    _check_staleness(order, ORACLE_QUERIES, rounds)


def test_correctness_rounds_reads_hash_match(tmp_path):
    import json

    import __spark_entry__ as e

    rows = {
        "x": {"rows_match": True, "hash_match": True},
        "y": {"rows_match": True, "hash_match": False},
        "z": {"err": "boom"},
    }
    (tmp_path / "CORRECTNESS_r03.json").write_text(json.dumps(rows))
    (tmp_path / "CORRECTNESS_r03_c8.json").write_text(json.dumps(rows))
    assert e.correctness_rounds(tmp_path) == {
        3: {"x": True, "y": False, "z": False}
    }


def test_rotation_staleness_check_fails_past_head_capacity():
    """More queries owed a fresh row than the head holds: the check
    names the ones left out."""
    import __spark_entry__ as e

    oracled = [f"q{i:02d}" for i in range(GATE_HEAD + 5)]
    rounds = {1: dict.fromkeys(oracled, True), 2: {}, 3: {}}
    order = e.rotation_order(oracled, [], rounds, {})
    with pytest.raises(AssertionError, match="5 oracled queries") as err:
        _check_staleness(order, oracled, rounds)
    assert "q54" in str(err.value)
    rounds[2] = dict.fromkeys(oracled[GATE_HEAD:], True)
    order = e.rotation_order(oracled, [], rounds, {})
    _check_staleness(order, oracled, rounds)
