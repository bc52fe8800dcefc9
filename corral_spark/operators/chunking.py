"""Document chunking and sequence packing — the two structural
transforms between a cleaned corpus and a training batch (SURVEY §2.4
family; no reference analog).

Both are pure Catalyst expressions (sequence/transform/slice +
posexplode and window cumsum) — no Python in the hot path, so they
codegen and scale like any other projection/window.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from corral_spark.functions.text import split_words, tokenize


def chunk_documents(
    df: DataFrame,
    text_col: str,
    id_col: str,
    chunk_words: int = 100,
    overlap: int = 20,
) -> DataFrame:
    """Split each document into word-window chunks of ``chunk_words``
    words with ``overlap`` words of context carried between adjacent
    chunks (the standard RAG/pretraining chunker shape).

    Chunk i covers words [i*stride, i*stride + chunk_words) with
    stride = chunk_words - overlap; the last chunk may be short, and a
    document shorter than one chunk yields exactly one chunk. Pure
    explode-of-slices: cost is linear in corpus words, parallelism is
    per-document rows, no shuffle at all.

    Output: (id_col, chunk_id, chunk_text, n_words).
    """
    if not 0 <= overlap < chunk_words:
        raise ValueError("need 0 <= overlap < chunk_words")
    stride = chunk_words - overlap
    words = tokenize(F.col(text_col))
    n = F.size(words)
    # ceil((n - overlap) / stride), min 1 — counts windows whose start
    # < n - overlap (a start inside the pure-overlap tail would only
    # repeat already-covered words).
    n_chunks = F.greatest(
        F.lit(1), F.ceil((n - F.lit(overlap)) / F.lit(stride)).cast("int")
    )
    chunks = F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda i: F.slice(words, i * stride + 1, chunk_words),
    )
    ex = df.select(
        F.col(id_col),
        F.posexplode(chunks).alias("chunk_id", "__w"),
    )
    return ex.select(
        id_col,
        F.col("chunk_id").cast("int").alias("chunk_id"),
        F.array_join(F.col("__w"), " ").alias("chunk_text"),
        F.size("__w").cast("int").alias("n_words"),
    )


def pack_sequences(
    df: DataFrame,
    id_col: str,
    weight_col: str,
    budget: int,
    order_col: str | None = None,
) -> DataFrame:
    """Assign rows to contiguous packs of total ``weight_col`` (token
    count) ~``budget`` each — streaming sequence packing for training
    batches.

    Deterministic formulation: rows in ``order_col`` order (default:
    ``id_col``), pack_id = floor(exclusive_cumsum / budget). Each
    pack's weight is < budget + its last row's weight (a row may
    straddle the boundary) — the scalable approximation of first-fit
    packing; exact bin packing is NP-hard and inherently sequential.
    The cumsum is DISTRIBUTED (ranking.with_exclusive_prefix_sum:
    range partition + per-partition totals prefix-combined + local
    running sums — a prefix sum is an associative scan), so the
    operator needs no single-task global window and no per-shard
    workaround at cluster scale. ``order_col`` must be a unique key
    (the default id_col is). The pack index divides EXACTLY
    ((excl - excl % budget) / budget): a float divide-then-truncate
    misplaces pack boundaries once the corpus's total token weight
    crosses the quotient's ulp spacing — i.e. precisely at the 100 TB
    corpus sizes packing exists for.

    Output: input columns + pack_id (bigint) + pack_offset (bigint,
    the row's starting weight offset inside its pack).
    """
    from corral_spark.operators.ranking import with_exclusive_prefix_sum

    order = order_col or id_col
    packed = with_exclusive_prefix_sum(
        df, [order], weight_col, "__excl"
    )
    excl = F.col("__excl")
    return packed.select(
        *df.columns,
        ((excl - excl % budget) / budget).cast("bigint").alias("pack_id"),
        (excl % budget).cast("bigint").alias("pack_offset"),
    )


def content_defined_chunks(
    df: DataFrame,
    text_col: str,
    id_col: str,
    window_k: int = 4,
    divisor: int = 16,
) -> DataFrame:
    """Content-defined chunking (the rsync/LBFS/FastCDC idea at word
    granularity): cut each document after word j+k whenever the hash
    of the k-word window starting at j satisfies hash % divisor == 0.
    Because a cut depends only on the LOCAL window content, inserting
    or deleting words perturbs only the chunk containing the edit —
    every later chunk re-aligns and hashes identically, which is what
    makes exact chunk-hash dedup catch PARTIAL duplicates (shared
    boilerplate tails, quoted passages) that fixed-width chunking
    misses after any offset shift (pytest-pinned shift-resilience).

    Expected chunk length ~ divisor words. Documents shorter than
    ``window_k`` words form a single chunk. Output: (id_col,
    chunk_id, chunk_text, chunk_hash, n_words), one row per chunk;
    empty tail chunks (a cut at the final window) are dropped on both
    engine and oracle sides.

    Pure Catalyst expressions end-to-end — window hashes, cut
    positions, and chunk slices are array transforms inside one
    projection (cost linear in corpus words, no shuffle), and the
    md5-derived cut rule is bit-replayable by a SQL oracle.
    """
    if window_k < 1 or divisor < 1:
        raise ValueError("need window_k >= 1 and divisor >= 1")
    k = window_k
    words_expr = split_words(F.col(text_col))
    # Stage words and cut positions as REAL columns across separate
    # projections. Spark expressions are trees, not DAGs: had the
    # chunk-slice transform referenced the bpos EXPRESSION, every
    # element_at below would re-inline — and re-execute — the whole
    # O(n_words) window-hash filter, turning the projection
    # O(n_words * n_chunks) per document (measured: 81s -> 3s at
    # sf0.1). As multi-use non-cheap aliases, CollapseProject keeps
    # these projections separate, so each evaluates once per row.
    base = df.select(F.col(id_col), words_expr.alias("__cdcw"))
    words = F.col("__cdcw")
    n = F.size(words)

    def _cut(j: Column) -> Column:
        gram = F.concat_ws(" ", F.slice(words, j + 1, k))
        h = F.conv(F.substring(F.md5(gram), 1, 8), 16, 10).cast("long")
        return h % divisor == 0

    staged = base.withColumn(
        "__bpos",
        F.when(
            n >= k, F.filter(F.sequence(F.lit(0), n - k), _cut)
        ).otherwise(F.array().cast("array<int>")),
    )
    bpos = F.col("__bpos")
    nb = F.size(bpos)

    def _start(c: Column) -> Column:
        return F.when(c == 0, F.lit(0)).otherwise(F.element_at(bpos, c) + k)

    def _end(c: Column) -> Column:
        return F.when(c == nb, n).otherwise(F.element_at(bpos, c + 1) + k)

    chunk_arr = F.transform(
        F.sequence(F.lit(0), nb),
        lambda c: F.slice(words, _start(c) + 1, _end(c) - _start(c)),
    )
    ex = staged.select(
        F.col(id_col), F.posexplode(chunk_arr).alias("chunk_id", "__w")
    ).filter(F.size("__w") > 0)
    return ex.select(
        id_col,
        F.col("chunk_id").cast("int").alias("chunk_id"),
        F.array_join("__w", " ").alias("chunk_text"),
        F.md5(F.array_join("__w", " ")).alias("chunk_hash"),
        F.size("__w").cast("int").alias("n_words"),
    )
