"""Property-based tests (hypothesis) for the pure-Python pieces and
engine invariants — a strengthening of the reference's table-driven
unit-test style (SURVEY §5: the reference has no property tests)."""

from __future__ import annotations

from hypothesis import given, settings
from hypothesis import strategies as st

from corral_spark.mapreduce.api import _parse_kv_line, fnv64, fnv64a_partition
from corral_spark.operators.sampling import _hex_threshold


@given(st.text())
def test_parse_kv_total_and_lossless(line):
    # Parsing never fails, and (key, value) always reconstruct the line
    # when a key exists (exactly-one-tab rule, reference job.go:52-63).
    key, value = _parse_kv_line(line)
    if key != "" or line.count("\t") == 1:
        if line.count("\t") == 1:
            assert f"{key}\t{value}" == line
    else:
        assert value == line


@given(st.text(), st.integers(min_value=1, max_value=10_000))
def test_partitioner_in_range(key, bins):
    assert 0 <= fnv64a_partition(key, bins) < bins


@given(st.text())
def test_fnv64_is_stable_and_64bit(data):
    h1, h2 = fnv64(data), fnv64(data)
    assert h1 == h2 and 0 <= h1 < 2**64


@given(st.floats(min_value=0.0, max_value=1.0, allow_nan=False))
def test_hex_threshold_monotone(f):
    t = _hex_threshold(f)
    # 8 hex chars, or the "g" sentinel (sorts above every hex prefix)
    # for fraction 1.0 — found by this property: format() alone gave a
    # 9-char string that sorted BELOW most prefixes.
    assert len(t) == 8 or t == "g"
    assert t <= _hex_threshold(1.0)
    assert _hex_threshold(0.0) <= t


@given(
    st.lists(st.floats(min_value=0.0, max_value=1.0, allow_nan=False), min_size=2, max_size=2)
)
@settings(max_examples=30)
def test_hex_threshold_order_matches_fraction_order(fs):
    a, b = sorted(fs)
    assert _hex_threshold(a) <= _hex_threshold(b)


def test_decimal_sum_matches_python_exact(spark):
    """Engine invariant behind det.py: decimal SUM == exact Python sum
    over the same 2dp values."""
    from decimal import Decimal

    from pyspark.sql import functions as F

    vals = [round(i * 0.07 + 0.01, 2) for i in range(1, 5000)]
    df = spark.createDataFrame([(v,) for v in vals], ["x"])
    got = df.agg(F.sum(F.col("x").cast("decimal(12,2)")).alias("s")).collect()[0].s
    expect = sum(Decimal(str(v)) for v in vals)
    assert got == expect


# Spark-backed properties, capped at few examples (each is a job).


@settings(max_examples=8, deadline=None)
@given(
    n_words=st.integers(min_value=0, max_value=300),
    chunk=st.integers(min_value=2, max_value=60),
    data=st.data(),
)
def test_chunking_reconstructs_any_length(spark, n_words, chunk, data):
    from corral_spark.operators.chunking import chunk_documents

    overlap = data.draw(st.integers(min_value=0, max_value=chunk - 1))
    words = [f"w{i}" for i in range(n_words)]
    df = spark.createDataFrame([(1, " ".join(words))], ["doc_id", "text"])
    chunks = [
        r.chunk_text.split(" ") if r.chunk_text else []
        for r in chunk_documents(df, "text", "doc_id", chunk, overlap)
        .orderBy("chunk_id")
        .collect()
    ]
    assert len(chunks) >= 1
    assert all(len(c) <= chunk for c in chunks)
    rebuilt = list(chunks[0])
    for c in chunks[1:]:
        assert rebuilt[-overlap:] == c[:overlap] if overlap else True
        rebuilt.extend(c[overlap:])
    assert rebuilt == words


@settings(max_examples=8, deadline=None)
@given(
    weights=st.lists(
        st.integers(min_value=1, max_value=3000), min_size=1, max_size=60
    ),
    budget=st.integers(min_value=100, max_value=4000),
)
def test_packing_invariants_any_weights(spark, weights, budget):
    from corral_spark.operators.chunking import pack_sequences

    df = spark.createDataFrame(list(enumerate(weights)), ["id", "w"])
    out = sorted(pack_sequences(df, "id", "w", budget).collect(), key=lambda r: r.id)
    packs: dict = {}
    for r in out:
        assert 0 <= r.pack_offset < budget
        packs.setdefault(r.pack_id, 0)
        packs[r.pack_id] += r.w
    for pid, total in packs.items():
        assert total < budget + max(weights)
    # pack ids are nondecreasing in row order (contiguous fills)
    ids = [r.pack_id for r in out]
    assert ids == sorted(ids)


@settings(max_examples=8, deadline=None)
@given(
    corpus=st.lists(
        st.lists(
            st.sampled_from("a b c d e".split()), min_size=0, max_size=24
        ),
        min_size=1,
        max_size=6,
    ),
    k=st.integers(min_value=2, max_value=5),
)
def test_sliding_gram_dedup_matches_bruteforce(spark, corpus, k):
    """sliding_gram_dedup vs an independent brute-force reference:
    tiny alphabet + short docs force dense window collisions (within
    and across docs), exercising first-occurrence ordering, coverage
    votes, whole-doc erasure, and sub-k docs."""
    from corral_spark.operators.dedup import sliding_gram_dedup

    docs = [(i, " ".join(ws)) for i, ws in enumerate(corpus)]

    # Brute force: global first occurrence per gram by (doc, pos);
    # token kept iff some covering window is first, or uncovered.
    firsts: dict[tuple[str, ...], tuple[int, int]] = {}
    for d, ws in enumerate(corpus):
        for j in range(len(ws) - k + 1):
            g = tuple(ws[j : j + k])
            if g not in firsts:
                firsts[g] = (d, j)
    expected = {}
    for d, ws in enumerate(corpus):
        kept = []
        for i, w in enumerate(ws):
            covering = [
                j
                for j in range(max(0, i - k + 1), min(i, len(ws) - k) + 1)
            ]
            if not covering or any(
                firsts[tuple(ws[j : j + k])] == (d, j) for j in covering
            ):
                kept.append(w)
        expected[d] = (" ".join(kept), len(kept), len(ws))

    df = spark.createDataFrame(docs, ["doc_id", "text"])
    got = {
        r.doc_id: (r.clean_text, r.n_kept, r.n_total)
        for r in sliding_gram_dedup(df, "text", "doc_id", k=k).collect()
    }
    assert got == expected


@settings(max_examples=6, deadline=None)
@given(
    rows=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=60),  # key (dups likely)
            st.sampled_from(["g1", "g2", None]),  # group (NULL group is legitimate)
        ),
        min_size=0,
        max_size=200,
    ),
    k=st.integers(min_value=1, max_value=12),
    nparts=st.integers(min_value=1, max_value=7),
)
def test_bottomk_grouped_local_pass_matches_naive(spark, rows, k, nparts):
    # The bounded build (per-partition Arrow local bottom-k + global
    # distinct/re-rank) must equal the naive global
    # distinct-then-rank definition for ANY data, grouping, k, and
    # partitioning — the merge law the operator's exchange bound
    # rests on.
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from corral_spark.operators.sketches import bottomk_sketch

    df = spark.createDataFrame(
        [(key, grp, key * 10) for key, grp in rows] or [(None, "gx", None)],
        "k int, grp string, v int",
    ).repartition(nparts)
    keyf = lambda t: (t[0] is None, t[0] or "", t[1])  # noqa: E731
    got = sorted(
        (
            (r["grp"], r["rnk"], r["k"], r["v"])
            for r in bottomk_sketch(
                df, "k", k=k, group_cols=("grp",), keep_cols=("v",)
            ).collect()
        ),
        key=keyf,
    )
    h = F.conv(
        F.substring(
            F.md5(F.concat(F.lit("bk:"), F.col("k").cast("string"))), 1, 8
        ),
        16,
        10,
    ).cast("long")
    naive = (
        df.filter(F.col("k").isNotNull())
        .select("grp", "k", "v")
        .distinct()
        .select("*", h.alias("h"))
        .withColumn(
            "rnk",
            F.row_number().over(Window.partitionBy("grp").orderBy("h", "k")),
        )
        .filter(F.col("rnk") <= k)
    )
    want = sorted(
        ((r["grp"], r["rnk"], r["k"], r["v"]) for r in naive.collect()),
        key=keyf,
    )
    assert got == want


@settings(max_examples=6, deadline=None)
@given(
    weights=st.lists(
        st.integers(min_value=0, max_value=5000), min_size=1, max_size=60
    ),
    rate=st.sampled_from([0.0, 0.25, 0.5, 0.7, 1.0]),
)
def test_weighted_bernoulli_sample_matches_integer_rule(spark, weights, rate):
    # The Spark sample must equal the pure-Python integer keep rule
    # (u32 * max_w < w * floor(rate * 2^32)) for any weights and rate
    # — the exactness contract the DuckDB oracle relies on. Also: zero
    # weights are never kept, and rate=1.0 keeps every max-weight row.
    import hashlib

    from corral_spark.operators.sampling import weighted_bernoulli_sample

    df = spark.createDataFrame(
        [(i, w) for i, w in enumerate(weights)], "id int, w int"
    )
    got = {r["id"] for r in weighted_bernoulli_sample(df, "id", "w", rate).collect()}
    maxw = max(weights)
    r_int = int(rate * float(1 << 32))
    want = {
        i
        for i, w in enumerate(weights)
        if int(hashlib.md5(f"wsamp:{i}".encode()).hexdigest()[:8], 16) * maxw
        < w * r_int
    }
    assert got == want
    assert not any(weights[i] == 0 for i in got)
    if rate == 1.0 and maxw > 0:
        assert all(i in got for i, w in enumerate(weights) if w == maxw)


# ---------------------------------------------------------------------------
# Short-doc df-capped LSH completeness (r6 verdict item 3)
# ---------------------------------------------------------------------------


def _brute_jaccard_pairs(texts, n=5, threshold=0.5):
    """All-pairs exact shingle-Jaccard >= threshold, pure Python —
    same tokenizer/shingle rules as word_shingles_arrow."""
    import re as _re

    def sh(t):
        words = _re.sub(r"[^a-zA-Z0-9\s]+", " ", t or "").lower().split()
        if not words:
            return frozenset()
        if len(words) <= n:
            return frozenset([" ".join(words)])
        return frozenset(
            " ".join(words[i : i + n]) for i in range(len(words) - n + 1)
        )

    sets = {i: sh(t) for i, t in texts.items()}
    ids = sorted(sets)
    out = set()
    for x in range(len(ids)):
        for y in range(x + 1, len(ids)):
            a, b = ids[x], ids[y]
            if not sets[a] or not sets[b]:
                continue
            inter = len(sets[a] & sets[b])
            if inter and inter / len(sets[a] | sets[b]) >= threshold:
                out.add((a, b))
    return out


def test_short_path_df_cap_planted_stop_shingle(spark):
    # A stop shingle planted in MANY short docs exceeds the df cap, so
    # the capped inverted index drops it; completeness must survive via
    # the hot-heavy fallback: docs 100/101 are pure stop-phrase (their
    # ONLY shingle is hot) and must still pair at Jaccard 1.0, while
    # pair (200, 201) flows through the capped (non-hot) index.
    from corral_spark.operators.dedup import minhash_verified_pairs

    stop = "the quick brown fox jumps"
    docs = [
        (
            i,
            f"{stop} unique{i}a unique{i}b unique{i}c "
            f"unique{i}d unique{i}e",
        )
        for i in range(20)
    ]
    docs += [(100, stop), (101, stop)]
    docs += [
        (200, "alpha beta gamma delta epsilon zeta eta theta"),
        (201, "alpha beta gamma delta epsilon zeta eta iota"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        (r["id_a"], r["id_b"])
        for r in minhash_verified_pairs(
            df, "text", "doc_id", threshold=0.5, short_df_max=2
        ).collect()
    }
    want = _brute_jaccard_pairs(dict(docs))
    assert (100, 101) in want  # sanity: the fallback-only pair exists
    assert (200, 201) in want
    assert got == want


def test_cross_corpus_short_path_df_cap_planted(spark):
    # Same planted-stop-shingle discipline for the two-corpus path:
    # candidates never touch the full other-corpus token table, yet
    # the output still equals TRUE all-pairs cross Jaccard.
    from corral_spark.operators.dedup import minhash_pairs_across

    stop = "click here to subscribe now"
    a_docs = [(i, f"{stop} atail{i}x atail{i}y atail{i}z") for i in range(8)]
    a_docs += [(50, stop)]
    b_docs = [
        (1000 + i, f"{stop} btail{i}x btail{i}y btail{i}z") for i in range(8)
    ]
    b_docs += [(1050, stop), (1051, "alpha beta gamma delta epsilon zeta")]
    a = spark.createDataFrame(a_docs, "doc_id long, text string")
    b = spark.createDataFrame(b_docs, "doc_id long, text string")
    got = {
        (r["id_a"], r["id_b"])
        for r in minhash_pairs_across(
            a, b, "text", "doc_id", threshold=0.5, short_df_max=2
        ).collect()
    }
    texts = dict(a_docs + b_docs)
    all_pairs = _brute_jaccard_pairs(texts)
    a_ids = {i for i, _ in a_docs}
    want = {
        (x, y)
        for (x, y) in all_pairs
        if (x in a_ids) != (y in a_ids)
    }
    want = {(x, y) if x in a_ids else (y, x) for (x, y) in want}
    assert (50, 1050) in want  # hot-fallback-only cross pair
    assert got == want


@settings(max_examples=5, deadline=None)
@given(
    corpus=st.lists(
        st.lists(
            st.sampled_from(["red", "blue", "green", "dog", "cat", "run"]),
            min_size=0,
            max_size=12,
        ),
        min_size=2,
        max_size=8,
    ),
    df_max=st.sampled_from([1, 2]),
)
def test_short_path_any_corpus_matches_bruteforce(spark, corpus, df_max):
    # Tiny-vocab random corpora maximize shingle collisions (most
    # shingles go hot at df_max 1-2); every doc is short, so the
    # df-capped short path + fallback must alone reproduce the exact
    # all-pairs answer regardless of what the bands contribute.
    from corral_spark.operators.dedup import minhash_verified_pairs

    docs = [(i, " ".join(words)) for i, words in enumerate(corpus)]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        (r["id_a"], r["id_b"])
        for r in minhash_verified_pairs(
            df, "text", "doc_id", threshold=0.5, short_df_max=df_max
        ).collect()
    }
    want = _brute_jaccard_pairs(dict(docs))
    assert got == want


def _py_morton(a: int, b: int, bits: int) -> int:
    z = 0
    for i in range(bits):
        z |= ((a >> i) & 1) << (2 * i)
        z |= ((b >> i) & 1) << (2 * i + 1)
    return z


@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=1023),
            st.integers(min_value=0, max_value=1023),
        ),
        min_size=1,
        max_size=40,
    )
)
@settings(max_examples=30, deadline=None)
def test_zorder_sql_matches_python_reference(pairs):
    # The generated SQL twin (what the oracle runs) must equal a
    # straight-line Python Morton reference on arbitrary inputs — so
    # the Spark column expression, the SQL text, and the mathematical
    # definition can never drift three ways.
    import duckdb

    from corral_spark.operators.layout import zorder_key_sql

    con = duckdb.connect()
    con.execute("CREATE TABLE t(i INT, a BIGINT, b BIGINT)")
    con.executemany(
        "INSERT INTO t VALUES (?, ?, ?)",
        [(i, a, b) for i, (a, b) in enumerate(pairs)],
    )
    got = con.execute(
        f"SELECT {zorder_key_sql('a', 'b', 10)} FROM t ORDER BY i"
    ).fetchall()
    assert [g[0] for g in got] == [_py_morton(a, b, 10) for a, b in pairs]


@given(
    st.integers(min_value=0, max_value=2**16 - 1),
    st.integers(min_value=0, max_value=2**16 - 1),
)
def test_morton_is_a_bijection(a, b):
    # Deinterleaving the even/odd bits recovers (a, b) exactly: the
    # z-key loses no information, so sorting by it is a pure layout
    # choice, never a lossy bucketing.
    z = _py_morton(a, b, 16)
    ra = sum(((z >> (2 * i)) & 1) << i for i in range(16))
    rb = sum(((z >> (2 * i + 1)) & 1) << i for i in range(16))
    assert (ra, rb) == (a, b)


@given(
    st.floats(min_value=-1e6, max_value=1e6, allow_nan=False),
    st.integers(min_value=1, max_value=512),
)
@settings(max_examples=50)
def test_histogram_bin_rule_in_range(v, nbins):
    # The python form of the bin rule (the contract the Spark column
    # and the SQL oracle both implement) always lands in [0, nbins-1]
    # for ANY finite value — out-of-range clamps, never drops.
    import math

    lo, hi = 900.0, 105000.0
    raw = math.floor((v - lo) * float(nbins) / (hi - lo))
    bin_ = min(max(raw, 0), nbins - 1)
    assert 0 <= bin_ <= nbins - 1


def test_short_path_nonbinary_thresholds_match_bruteforce(spark):
    """Complement of the hypothesis test above, at thresholds whose
    t*n products are NOT binary-exact (2/3, 0.7, 0.75) — the ones
    that exercise the hot-heavy fallback's ceil boundary (r11
    float-ceil slack) — with word shingles (shingle_n=1) so every
    random doc contributes and dfs collide hard at df_max=2.
    Distilled from an 80/80-trial r11-close fuzz; fixed seed."""
    import itertools
    import random

    from corral_spark.operators.dedup import minhash_verified_pairs

    rng = random.Random(7)
    for thr in (2 / 3, 0.7, 0.75):
        vocab = [f"w{i}" for i in range(10)]
        docs = []
        for i in range(22):
            k = rng.randint(1, 8)
            docs.append((i, " ".join(rng.sample(vocab, k))))
        df = spark.createDataFrame(docs, "doc_id long, text string")
        got = {
            (r["id_a"], r["id_b"])
            for r in minhash_verified_pairs(
                df,
                "text",
                "doc_id",
                threshold=thr,
                shingle_n=1,
                short_df_max=2,
            ).collect()
        }
        want = set()
        for (ia, ta), (ib, tb) in itertools.combinations(docs, 2):
            a, b = set(ta.split()), set(tb.split())
            if len(a & b) / len(a | b) >= thr:
                want.add((min(ia, ib), max(ia, ib)))
        assert got == want, f"thr {thr}"


def _length_mix_docs(prefix_vocab: str):
    """Corpus straddling the r16 length-routing boundary at the
    shipped params (n_hashes=64, t=0.5 -> small_max=128 distinct
    1-shingles, partner bound 256): short docs (<=128), medium docs
    (129..256, exact-index side only), long docs (>256, banded only),
    with qualifying pairs across every route."""
    base = [f"{prefix_vocab}{i}" for i in range(100)]        # short: 100 words
    medium = base + [f"{prefix_vocab}m{i}" for i in range(60)]   # 160, J=100/160
    long1 = [f"{prefix_vocab}L{i}" for i in range(300)]      # long: 300 words
    long2 = long1[:280] + [f"{prefix_vocab}x{i}" for i in range(20)]  # J=280/320
    short2 = base[:90] + [f"{prefix_vocab}s{i}" for i in range(10)]   # J=90/110
    lone = [f"{prefix_vocab}z{i}" for i in range(50)]
    return {
        0: " ".join(base),
        1: " ".join(medium),
        2: " ".join(long1),
        3: " ".join(long2),
        4: " ".join(short2),
        5: " ".join(lone),
    }


def test_length_routed_candidates_match_bruteforce(spark):
    """r16 length-filter routing: docs above small_max skip the exact
    index, docs at or below it skip the bands, and the (short, medium)
    route moved from banding to the partner-extended exact index. The
    output must still equal TRUE all-pairs Jaccard on a corpus with
    qualifying pairs across ALL routes (short-short, short-medium,
    long-long) plus non-pairs."""
    from corral_spark.operators.dedup import minhash_verified_pairs

    texts = _length_mix_docs("w")
    df = spark.createDataFrame(
        list(texts.items()), "doc_id long, text string"
    )
    got = {
        (r["id_a"], r["id_b"])
        for r in minhash_verified_pairs(
            df, "text", "doc_id", threshold=0.5, shingle_n=1
        ).collect()
    }
    want = _brute_jaccard_pairs(texts, n=1)
    assert (0, 1) in want  # short x medium: the re-routed case
    assert (2, 3) in want  # long x long: still banded
    assert (0, 4) in want  # short x short
    assert got == want


def test_across_length_routing_mixed_id_types(spark):
    """Mixed integral id dtypes (int existing, long incoming) under the
    length routing: the ids are joined as long, the exact path covers
    short-A x partner-B and medium-A x short-B, and only docs above
    small_max are banded. Output must equal TRUE cross-corpus Jaccard,
    including a short-A x medium-B pair and a medium-A x short-B pair
    that banding does not cover, and each output id column must keep
    its own corpus's declared type."""
    from pyspark.sql.types import IntegerType, LongType

    from corral_spark.operators.dedup import minhash_pairs_across

    a_texts = _length_mix_docs("a")
    b_texts = {
        # b10 medium partner of short a0 (share the 100-word base).
        10: a_texts[1],
        # b11 short partner of medium a1 (the a-side medium doc's own
        # base), also short-short partner of a0.
        11: a_texts[0],
        # b12 long near-dup of long a2.
        12: a_texts[3],
        # b13 unrelated.
        13: "only unrelated words here",
    }
    a = spark.createDataFrame(
        [(int(i), t) for i, t in a_texts.items()],
        "doc_id int, text string",
    )
    b = spark.createDataFrame(
        list(b_texts.items()), "doc_id long, text string"
    )
    out = minhash_pairs_across(
        a, b, "text", "doc_id", threshold=0.5, shingle_n=1
    )
    assert out.schema["id_a"].dataType == IntegerType()
    assert out.schema["id_b"].dataType == LongType()
    got = {(r["id_a"], r["id_b"]) for r in out.collect()}
    want = set()
    all_pairs = _brute_jaccard_pairs({**a_texts, **{k + 100: v for k, v in b_texts.items()}}, n=1)
    for (x, y) in all_pairs:
        lo, hi = min(x, y), max(x, y)
        if lo < 100 <= hi:  # cross-corpus only
            want.add((lo, hi - 100))
    assert any(p[0] == 0 for p in want)  # short-A has cross partners
    assert got == want


def test_across_mismatched_id_types_raise_before_any_job(spark):
    """A non-integral id type mismatch cannot be joined without a lossy
    coercion, so it raises ValueError naming both types — at plan
    construction, before any Spark job runs."""
    import pytest

    from corral_spark.operators.dedup import minhash_pairs_across

    a = spark.createDataFrame([("a0", "alpha beta")], "doc_id string, text string")
    b = spark.createDataFrame([(0, "alpha beta")], "doc_id long, text string")
    sc = spark.sparkContext
    sc.setJobGroup("mixed-id-raise", "mixed-id-raise")
    try:
        with pytest.raises(ValueError, match="string.*bigint"):
            minhash_pairs_across(a, b, "text", "doc_id")
    finally:
        sc._jsc.clearJobGroup()
    assert list(sc.statusTracker().getJobIdsForGroup("mixed-id-raise")) == []


def test_across_overlapping_ids_match_bruteforce(spark):
    """Both corpora use the SAME id values (0..5), so any stage keyed on
    id without the side tag would merge two documents or pair a doc
    with its own corpus. Planted: a true cross pair (i, i), a cross
    pair (i, j), a long cross pair that only the bands cover, hot-only
    pairs (the stop phrase is hot at short_df_max=2), and a same-side
    near-dup on each side that must not appear."""
    from corral_spark.operators.dedup import minhash_pairs_across

    stop = "click here to subscribe now"
    long_words = [f"lw{i}" for i in range(200)]
    a_texts = {
        0: "alpha beta gamma delta epsilon zeta eta theta",
        1: stop,
        2: "lorem ipsum dolor sit amet consectetur adipiscing elit",
        3: f"{stop} atail1 atail2 atail3",
        4: "lorem ipsum dolor sit amet consectetur adipiscing elit sed",
        5: " ".join(long_words),
    }
    b_texts = {
        0: "alpha beta gamma delta epsilon zeta eta iota",
        1: f"{stop} btail1 btail2 btail3",
        2: "pack my box with five dozen liquor jugs today",
        3: stop,
        4: "pack my box with five dozen liquor jugs tonight",
        5: " ".join(long_words[:190] + [f"lx{i}" for i in range(10)]),
    }
    a = spark.createDataFrame(list(a_texts.items()), "doc_id long, text string")
    b = spark.createDataFrame(list(b_texts.items()), "doc_id long, text string")
    rows = minhash_pairs_across(
        a, b, "text", "doc_id", threshold=0.5, short_df_max=2
    ).collect()
    got = {(r["id_a"], r["id_b"]): r["jaccard"] for r in rows}
    # One row per pair, scored against the right side's document: a
    # verification join on id alone would also match the same id on
    # the other side.
    assert len(rows) == len(got)
    assert got[(0, 0)] == 3 / 5
    want = set()
    all_pairs = _brute_jaccard_pairs(
        {**a_texts, **{k + 100: v for k, v in b_texts.items()}}
    )
    for (x, y) in all_pairs:
        if x < 100 <= y:  # cross-corpus only
            want.add((x, y - 100))
    assert (0, 0) in want  # cross pair with equal ids
    assert (1, 3) in want  # cross pair, hot-heavy fallback only
    assert (5, 5) in want  # long cross pair, banded only
    assert (2, 4) in all_pairs and (102, 104) in all_pairs  # same-side
    assert (2, 4) not in want and (2, 2) not in want
    assert set(got) == want

