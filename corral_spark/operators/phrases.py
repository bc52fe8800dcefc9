"""Iterative phrase mining (word2phrase-style collocation learning):
k rounds of "count adjacent token pairs, merge the globally most
frequent pair everywhere" — the token-level cousin of BPE merge
learning, used to grow a phrase vocabulary for tokenizers.

This is a genuinely iterative distributed algorithm (like the k-means
IVF refinement in similarity.py): each round is one full-corpus pair
count (partial-aggregated groupBy — the per-round shuffle carries one
row per distinct pair, not per occurrence) plus a single-row argmax
collect, then a pure-projection merge application. The working corpus
is lazily materialized per round so round i+1 scans materialized
rows instead of re-running i stacked regex projections (at real scale,
substitute reliable checkpointing — same caveat as the dedup
pipeline's bucket_pairs).

Merge application semantics: the corpus is held as a single-space-
joined, space-delimited string ('' `` a b c `` ''), and a merge (a,b)
is applied as TWO passes of the literal pattern ``' a b '`` ->
``' a@b '`` (global, left-to-right, non-overlapping). Two passes are
needed because a replacement consumes the trailing space the next
occurrence would use as its leading space; the second pass picks
those up. This is deterministic and engine-identical (Java regex and
RE2 agree on literal patterns), and it equals classic greedy
left-to-right merging on everything except immediately-adjacent
repeats of the just-merged pair, which classic BPE also treats
specially. The DuckDB oracle replicates the exact same two-pass rule,
unrolled per iteration.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from corral_spark.functions.text import tokenize
from corral_spark.materialize import materialize

MERGES_SCHEMA = StructType(
    [
        StructField("iteration", IntegerType(), False),
        StructField("pair", StringType(), False),
        StructField("cnt", LongType(), False),
    ]
)


def _bigrams(toks):
    return F.when(
        F.size(toks) >= 2,
        F.zip_with(
            F.slice(toks, 1, F.size(toks) - 1),
            F.slice(toks, 2, F.size(toks) - 1),
            lambda a, b: F.concat_ws(" ", a, b),
        ),
    ).otherwise(F.array().cast("array<string>"))


#: Hard ceiling on merge rounds: each round is a full corpus
#: aggregation plus one single-row collect, so cost is k corpus scans
#: by construction. This is a vocabulary-learning utility (run on a
#: sample, like k-means centroid fitting), NOT a 100 TB hot-path
#: operator — the cap makes that contract executable.
MAX_MERGE_ROUNDS = 64


def learn_phrases(
    docs: DataFrame,
    text_col: str = "text",
    k: int = 4,
    joiner: str = "@",
) -> DataFrame:
    """Learn the top-k phrase merges. Returns (iteration, pair, cnt):
    the pair merged in each round and its pre-merge occurrence count.

    The driver loop runs k single-row collects (the argmax pair) —
    the same bounded driver-side control flow as k-means iteration;
    everything data-sized stays distributed. Tokens are alphanumeric
    (reference word-count tokenizer) plus ``joiner`` from earlier
    rounds, so the merge pattern is always regex-literal-safe.

    **Cost bound (explicit):** each of the k
    rounds is (a) one FULL corpus scan for the bigram count
    aggregation, (b) one single-row collect, and (c) one FULL corpus
    REWRITE — the double ``regexp_replace`` over every document,
    materialized so round i+1 reads round i's output once instead of
    re-deriving an i-deep expression tree. Total: exactly ``k`` scans
    + ``k`` rewrites of the working corpus; at 100 TB that is
    ``k x O(corpus)`` I/O with no shuffle (the rewrite is a map-only
    projection; the count agg partial-aggregates map-side). This is a
    BPE-style vocabulary MINER, not a hot-path operator: fit merges
    on a bounded sample (like k-means centroid fitting), then apply
    them corpus-wide in ONE pass with ``apply_phrases``.
    ``MAX_MERGE_ROUNDS`` makes that contract executable.
    """
    if k > MAX_MERGE_ROUNDS:
        raise ValueError(
            f"k={k} exceeds MAX_MERGE_ROUNDS={MAX_MERGE_ROUNDS}: "
            "each round scans the corpus; learn phrase merges on a "
            "sample instead of raising the cap"
        )
    from corral_spark.operators.dedup import spread_input

    spark = docs.sparkSession
    # Conditional spread BEFORE the first projection: a single-row-
    # group scan would otherwise run every round's bigram count AND
    # double-regex rewrite on one core — and the per-round checkpoint
    # re-inherits that 1-partition layout, so the serialization
    # compounds across all k rounds. No-op on an already-parallel
    # scan (the 100 TB case).
    corpus = spread_input(docs.select(F.col(text_col))).select(
        F.concat(
            F.lit(" "),
            F.concat_ws(" ", tokenize(F.col(text_col))),
            F.lit(" "),
        ).alias("s")
    )
    merges: list[tuple[int, str, int]] = []
    for it in range(1, k + 1):
        toks = F.filter(F.split(F.trim(F.col("s")), " "), lambda w: w != "")
        top = (
            corpus.select(F.explode(_bigrams(toks)).alias("pair"))
            .groupBy("pair")
            .agg(F.count(F.lit(1)).alias("cnt"))
            .orderBy(F.desc("cnt"), F.asc("pair"))
            .limit(1)
            .collect()
        )
        if not top:
            break
        pair, cnt = top[0]["pair"], int(top[0]["cnt"])
        merges.append((it, pair, cnt))
        pat = f" {pair} "
        repl = f" {pair.replace(' ', joiner)} "
        corpus = corpus.select(
            F.regexp_replace(
                F.regexp_replace("s", pat, repl), pat, repl
            ).alias("s")
        )
        corpus = materialize(corpus, eager=False)
    return spark.createDataFrame(merges, MERGES_SCHEMA)


def apply_phrases(
    docs: DataFrame,
    merges: list[str],
    text_col: str = "text",
    out_col: str = "phrased",
    joiner: str = "@",
) -> DataFrame:
    """Apply an ordered list of learned merge pairs to a corpus (same
    two-pass rule per merge), returning the input plus ``out_col`` as
    an array of phrase tokens. Pure projection — fuses into the scan."""
    s = F.concat(
        F.lit(" "), F.concat_ws(" ", tokenize(F.col(text_col))), F.lit(" ")
    )
    for pair in merges:
        pat = f" {pair} "
        repl = f" {pair.replace(' ', joiner)} "
        s = F.regexp_replace(F.regexp_replace(s, pat, repl), pat, repl)
    return docs.select(
        "*", F.filter(F.split(F.trim(s), " "), lambda w: w != "").alias(out_col)
    )
