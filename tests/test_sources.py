"""I/O conventions: splitInputRecord parsing (reference job.go:52-63,
pinned by job_test.go:9-27), TSV/JSON-lines sinks (emitter.go:43,
106-119), and the AMPLab CSV path (the reference's native input
format, amplab1.go:16-26)."""

from __future__ import annotations

import json
import os

from pyspark.sql import functions as F

from corral_spark.sources import (
    read_kv_lines,
    write_json_kv,
    write_tsv_kv,
)


def test_kv_line_parse_reference_goldens(spark, tmp_path):
    # reference job_test.go:9-27 edge cases
    cases = [
        ("foo\tbar", ("foo", "bar")),
        ("foo bar", ("", "foo bar")),
        ("foo\tbar\tbaz", ("", "foo\tbar\tbaz")),
        ("\t", ("", "")),
        ("plain", ("", "plain")),
    ]
    p = tmp_path / "kv.txt"
    p.write_text("\n".join(c[0] for c in cases))
    rows = read_kv_lines(spark, str(p)).collect()
    got = sorted((r.key, r.value) for r in rows)
    assert got == sorted(c[1] for c in cases)


def test_tsv_roundtrip(spark, tmp_path):
    df = spark.createDataFrame(
        [("a", "1"), ("b", "2"), ("c", "x y z")], ["key", "value"]
    )
    out = str(tmp_path / "out")
    write_tsv_kv(df, out, rename=True)
    files = [f for f in os.listdir(out) if f.startswith("output-part-")]
    assert files, "rename pass must produce reference-style names"
    back = read_kv_lines(spark, os.path.join(out, "output-part-*"))
    assert sorted((r.key, r.value) for r in back.collect()) == [
        ("a", "1"),
        ("b", "2"),
        ("c", "x y z"),
    ]


def test_json_kv_matches_reference_shuffle_format(spark, tmp_path):
    # reference emitter.go:106-119: {"key":...,"value":...} JSON lines
    df = spark.createDataFrame([("k1", "v1")], ["key", "value"])
    out = str(tmp_path / "json_out")
    write_json_kv(df, out)
    lines = []
    for f in os.listdir(out):
        if f.startswith("part-") and f.endswith(".json"):
            lines += open(os.path.join(out, f)).read().splitlines()
    assert [json.loads(line) for line in lines] == [{"key": "k1", "value": "v1"}]


def test_observed_metrics_single_pass(spark):
    """F17 analog: counters computed during the action, no extra scan
    (functions/metrics.py)."""
    from corral_spark.functions.metrics import observed_rows_and_nulls
    from corral_spark.sources.tables import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    df, obs = observed_rows_and_nulls(docs, ["text", "lang"])
    n = df.count()
    got = obs.get
    assert got["rows"] == n == 500
    assert got["nulls_text"] == 0 and got["nulls_lang"] == 0


def test_amplab_csv_native_path(spark, tmp_path):
    """The reference's rankings CSV (pageURL,pageRank,avgDuration —
    amplab1.go:16-26) read with schema + malformed-row skip
    (PERMISSIVE + arity check, mirroring amplab1.go:18-20)."""
    p = tmp_path / "rankings.csv"
    p.write_text(
        "url_a,50,3\n"
        "url_b,12,7\n"
        "badline_with_no_commas\n"
        "url_c,99,1\n"
    )
    df = (
        spark.read.schema("pageURL STRING, pageRank INT, avgDuration INT")
        .option("mode", "PERMISSIVE")
        .csv(str(p))
    )
    # reference skips wrong-arity rows; PERMISSIVE gives nulls -> filter
    clean = df.filter(F.col("pageRank").isNotNull())
    got = sorted(
        (r.pageURL, r.pageRank) for r in clean.filter("pageRank > 25").collect()
    )
    assert got == [("url_a", 50), ("url_c", 99)]


def jobs_in_group(spark, group, fn):
    """Run ``fn`` under a job group; return its result and the ids of
    the Spark jobs it scheduled."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc._jsc.clearJobGroup()
    return out, list(sc.statusTracker().getJobIdsForGroup(group))


def test_load_table_reuses_inferred_schema(spark, tmp_path):
    """A second read of an unchanged single-file table skips parquet
    schema inference: zero Spark jobs, same schema, same rows."""
    import shutil

    from corral_spark.sources.tables import load_table, table_path
    from tests.conftest import SF_SMOKE

    # A fresh copy, so no earlier test has cached its schema.
    shutil.copy(
        table_path(SF_SMOKE, "customer"),
        table_path(str(tmp_path), "customer"),
    )
    first, jobs1 = jobs_in_group(
        spark, "schema-cache-1", lambda: load_table(spark, str(tmp_path), "customer")
    )
    second, jobs2 = jobs_in_group(
        spark, "schema-cache-2", lambda: load_table(spark, str(tmp_path), "customer")
    )
    assert jobs1, "the first read must infer (a footer-reading job)"
    assert jobs2 == []
    assert second.schema == first.schema
    assert sorted(second.collect()) == sorted(first.collect())


def test_directory_table_rewritten_in_place_is_inferred_again(spark, tmp_path):
    from corral_spark.sources.tables import load_table, table_path

    path = table_path(str(tmp_path), "documents")
    spark.createDataFrame([(1, "a")], "doc_id long, text string").write.parquet(
        path
    )
    assert load_table(spark, str(tmp_path), "documents").columns == [
        "doc_id",
        "text",
    ]
    spark.createDataFrame([(1, 2.5)], "doc_id long, score double").write.mode(
        "overwrite"
    ).parquet(path)
    again = load_table(spark, str(tmp_path), "documents")
    assert again.columns == ["doc_id", "score"]
    assert again.collect()[0].score == 2.5


def test_schema_cache_keys_on_inference_confs(spark, tmp_path):
    """A TIMESTAMP(NANOS) ``ts`` infers as bigint under nanosAsLong and
    is rejected without it: once the conf flips, a read must infer
    again instead of getting the cached bigint ``events`` schema."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    import pytest
    from pyspark.errors import AnalysisException
    from pyspark.sql.types import LongType

    from corral_spark.sources.tables import load_table, read_parquet, table_path

    path = table_path(str(tmp_path), "events")
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array([1, 2], pa.int64()),
                "ts": pa.array([1_000_000_001, 2_000_000_002], pa.timestamp("ns")),
            }
        ),
        path,
    )
    conf = "spark.sql.legacy.parquet.nanosAsLong"
    before = spark.conf.get(conf)
    try:
        load_table(spark, str(tmp_path), "events")  # sets nanosAsLong
        assert isinstance(read_parquet(spark, path).schema["ts"].dataType, LongType)
        spark.conf.set(conf, "false")
        with pytest.raises(AnalysisException, match="PARQUET_TYPE_ILLEGAL"):
            read_parquet(spark, path)
    finally:
        spark.conf.set(conf, before)
