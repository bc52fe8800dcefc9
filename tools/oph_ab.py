#!/usr/bin/env python
"""A/B the OPH signature aggregation (r16 residual #2): the shipped
ONE wide hash aggregate (64 min(if(__b = i, __h, NULL)) buffers -> one
row per doc) vs a TWO-LEVEL shape (groupBy(id, bin).min -> groupBy(id)
map_from_entries), which trades 64 agg-expression evaluations per
token row for one extra narrow shuffle of <= n_hashes rows/doc.

Both variants run from the SAME materialized shingle checkpoint (the
real pipeline's shape) and are timed interleaved min-of-N with a noop
sink (guide §1.4). Before timing, the two outputs are proven
VALUE-IDENTICAL (exceptAll both ways) — the variant is only admissible
if signatures are bit-equal, since band keys hash the sig slices.

Usage: python tools/oph_ab.py [sf_dir] [passes]
"""

from __future__ import annotations

import json
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from pyspark.sql import functions as F  # noqa: E402


def sig_two_level(tok, id_col: str, tok_col: str, n_hashes: int):
    """Two-level OPH: per-(id, bin) min first (O(1) agg work per token
    row, partial-aggregated map-side to <= n_hashes rows/doc), then a
    per-id map assembly. Densification rule identical to
    _signatures_from_tokens: xxhash64(int bin_index, global min)."""
    ex = tok.select(
        id_col,
        F.xxhash64(tok_col).alias("__h"),
        F.pmod(F.xxhash64(tok_col), F.lit(n_hashes)).alias("__b"),
    )
    l1 = ex.groupBy(id_col, "__b").agg(
        F.min("__h").alias("__m"), F.count(F.lit(1)).alias("__c")
    )
    l2 = l1.groupBy(id_col).agg(
        F.map_from_entries(F.collect_list(F.struct("__b", "__m"))).alias(
            "__mm"
        ),
        F.sum("__c").alias("n_shingles"),
        F.min("__m").alias("__gmin"),
    )
    sig = F.transform(
        F.sequence(F.lit(0), F.lit(n_hashes - 1)),
        lambda i: F.coalesce(
            F.element_at(F.col("__mm"), i.cast("bigint")),
            F.xxhash64(i, F.col("__gmin")),
        ),
    )
    return l2.select(id_col, sig.alias("sig"), "n_shingles")


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    passes = int(sys.argv[2]) if len(sys.argv) > 2 else 4

    from corral_spark.materialize import materialize
    from corral_spark.operators.dedup import (
        _signatures_from_tokens,
        word_shingles_arrow,
    )
    from corral_spark.session import local_session
    from corral_spark.sources.tables import load_table

    spark = local_session("oph-ab")
    spark.sparkContext.setLogLevel("ERROR")

    docs = load_table(spark, sf_dir, "documents")
    shing = materialize(
        docs.select(
            F.col("doc_id").alias("id"),
            word_shingles_arrow(F.col("text"), 5).alias("__sh"),
        ),
        eager=True,
    )
    tok = shing.select("id", F.explode("__sh").alias("__s"))

    a_df = _signatures_from_tokens(tok, "id", "__s", 64)
    b_df = sig_two_level(tok, "id", "__s", 64)

    # Equality proof first (cast n_shingles to common type for compare).
    a_c = a_df.select("id", "sig", F.col("n_shingles").cast("long").alias("n"))
    b_c = b_df.select("id", "sig", F.col("n_shingles").cast("long").alias("n"))
    diff = a_c.exceptAll(b_c).count() + b_c.exceptAll(a_c).count()

    times: dict[str, list[float]] = {"wide": [], "two_level": []}
    for _ in range(passes):
        for name, df in (("wide", a_df), ("two_level", b_df)):
            t0 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            times[name].append(round(time.perf_counter() - t0, 3))

    print(
        json.dumps(
            {
                "sf_dir": sf_dir,
                "value_diff_rows": diff,
                "min_sec": {k: min(v) for k, v in times.items()},
                "runs": times,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
