"""Tests of the benchmark itself (not of corral_spark).

    python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import filecmp
import json
import os
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parents[2]
sys.path.insert(0, str(ROOT))

from perfbench import datagen  # noqa: E402
from perfbench.run import end_to_end, tail  # noqa: E402
from perfbench.trace import LAYER_METRICS  # noqa: E402
from perfbench.workloads import WORKLOADS  # noqa: E402

SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())


def _files(d: Path) -> list[str]:
    return sorted(str(p.relative_to(d)) for p in d.rglob("*") if p.is_file())


def test_same_seed_gives_byte_identical_inputs(tmp_path):
    a, b, c = tmp_path / "a", tmp_path / "b", tmp_path / "c"
    datagen.generate(str(a), seed=5, sf=0.001)
    datagen.generate(str(b), seed=5, sf=0.001)
    datagen.generate(str(c), seed=6, sf=0.001)
    names = _files(a)
    assert names == _files(b) and len(names) > 10
    for n in names:
        assert filecmp.cmp(a / n, b / n, shallow=False), n
    assert not filecmp.cmp(a / "lineitem.parquet", c / "lineitem.parquet", shallow=False)


def test_generated_tables_match_the_test_table_schema(tmp_path):
    import pyarrow.parquet as pq

    datagen.generate(str(tmp_path), seed=1, sf=0.001)
    docs = pq.read_table(tmp_path / "documents.parquet")
    assert docs.schema.names == ["doc_id", "text", "lang", "source", "n_chars"]
    assert docs.column("n_chars").to_pylist() == [len(t) for t in docs.column("text").to_pylist()]
    assert sum(t.endswith(" dup") for t in docs.column("text").to_pylist()) == docs.num_rows // 20
    li = pq.read_table(tmp_path / "lineitem.parquet")
    assert li.num_rows == 6000
    cents = [round(x * 100) for x in li.column("l_extendedprice").to_pylist()]
    assert li.column("l_extendedprice").to_pylist() == [c / 100 for c in cents]


@pytest.fixture(scope="module")
def spark():
    from pyspark.sql import SparkSession

    s = (
        SparkSession.builder.master("local[1]")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
    yield s
    s.stop()


def test_digest_changes_when_one_value_changes(spark):
    from perfbench.digest import digest

    rows = [(1, "a", 1.5), (2, "b", None), (3, "c", 2.25)]
    schema = "id long, s string, x double"
    base = digest(spark.createDataFrame(rows, schema))
    assert base == digest(spark.createDataFrame(rows[::-1], schema).repartition(3))
    changed = [(1, "a", 1.5), (2, "b", None), (3, "c", 2.26)]
    assert digest(spark.createDataFrame(changed, schema)) != base
    nulled = [(1, "a", None), (2, "b", None), (3, "c", 2.25)]
    assert digest(spark.createDataFrame(nulled, schema)) != base
    assert digest(spark.createDataFrame(rows[:2], schema)) != base


def test_oracle_digest_matches_query_digest(spark, tmp_path):
    from perfbench.digest import digest, oracle_digest

    datagen.generate(str(tmp_path), seed=2, sf=0.001)
    df = spark.read.parquet(str(tmp_path / "part.parquet")).where("p_size > 25").select(
        "p_partkey", "p_name", "p_size"
    )
    sql = "SELECT p_partkey, p_name, p_size FROM part WHERE p_size > 25"
    assert oracle_digest(spark, str(tmp_path), sql, df.schema) == digest(df)
    assert oracle_digest(spark, str(tmp_path), sql + " AND p_partkey > 0", df.schema) != digest(df)
    # same values, other int/float kind: a miss, as in the repo's oracle gate
    as_float = sql.replace("p_size FROM", "CAST(p_size AS DOUBLE) AS p_size FROM")
    assert oracle_digest(spark, str(tmp_path), as_float, df.schema) != digest(df)
    as_decimal = sql.replace("p_size FROM", "CAST(p_size AS DECIMAL(10,2)) AS p_size FROM")
    assert oracle_digest(spark, str(tmp_path), as_decimal, df.schema) != digest(df)
    df_float = df.withColumn("p_size", df["p_size"].cast("double"))
    assert oracle_digest(spark, str(tmp_path), sql, df_float.schema) != digest(df_float)


def test_output_names_every_metric_with_its_unit():
    passes = [[{"op": "q", "s": 0.5 + i / 10, "ok": True} for i in range(5)]]
    metrics, stats = end_to_end(12.0, passes, 3_000_000)
    want = {m["name"]: m["unit"] for m in SPEC["end_to_end"]}
    assert {k: u for k, (_v, u) in metrics.items()} == want
    assert all(v > 0 for v, _u in metrics.values())
    assert stats == {"op_tail_percentile": 90.0, "op_samples": 5}
    assert {m["name"]: m["unit"] for m in SPEC["per_layer"]} == LAYER_METRICS
    assert sorted(w["name"] for w in SPEC["workloads"]) == sorted(WORKLOADS)


def test_tail_is_the_interpolated_p90():
    xs = [float(i) for i in range(100)]
    value, pct = tail(xs)
    assert sum(x > value for x in xs) == 10 and pct == 90.0
    assert tail(xs[:30]) == (26.1, 90.0)
    assert tail([3.0, 1.0, 2.0]) == (2.8, 90.0)  # p90 between the two slowest
    assert tail([2.5]) == (2.5, 90.0)


def test_exits_nonzero_without_the_program(tmp_path):
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    shutil.copytree(ROOT / "perfbench", tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns(".work", ".traces", "__pycache__"))
    proc = subprocess.run(
        [sys.executable, *SPEC["command"][1:], "--workload", SPEC["workloads"][0]["name"],
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=170,
        env={k: v for k, v in os.environ.items() if k != "PYTHONPATH"},
    )
    assert proc.returncode != 0
    assert '"metrics"' not in proc.stdout


def test_tree_rss_counts_a_child_until_it_ends():
    from perfbench.rss import alive, tree_rss

    child = subprocess.Popen(["sleep", "30"])
    try:
        rss = tree_rss(os.getpid())
        assert child.pid in rss and os.getpid() in rss and rss[child.pid] > 0
    finally:
        child.kill()
        child.wait()
    assert not alive(child.pid)

