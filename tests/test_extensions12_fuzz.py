"""Randomized brute-force pins for the round-13 operators.

Seeded trials (deterministic forever): mmr_topk against a pure-Python
greedy reference on random corpora; apply_agg_delta against a full
recompute on random signed deltas INCLUDING null group keys (the r13
null-safe join fix under random traffic, not just the hand case)."""

from __future__ import annotations

import math
import random

from corral_spark.operators.merge import apply_agg_delta
from corral_spark.operators.similarity import mmr_topk


def _cos(a, b):
    num = sum(x * y for x, y in zip(a, b))
    na = math.sqrt(sum(x * x for x in a))
    nb = math.sqrt(sum(x * x for x in b))
    return 0.0 if na * nb == 0 else num / (na * nb)


def _mmr_ref(vecs: dict, q, k, lam, round_dp=4):
    """Python mirror of the operator's arithmetic: quantize every
    similarity to round_dp BEFORE the argmax, ties to lowest id."""
    qsim = {i: round(_cos(v, q), round_dp) for i, v in vecs.items()}
    picked = []
    for _ in range(k):
        best = None
        for i, v in vecs.items():
            if i in (p for p, _ in picked):
                continue
            pen = max(
                (round(_cos(v, pv), round_dp) for _, pv in picked),
                default=0.0,
            )
            score = lam * qsim[i] - (1.0 - lam) * pen
            key = (-score, i)
            if best is None or key < best[0]:
                best = (key, i, v)
        if best is None:
            break
        picked.append((best[1], best[2]))
    return [i for i, _ in picked]


def test_mmr_matches_bruteforce_reference(spark):
    rng = random.Random(1337)
    for trial in range(12):
        n = rng.randint(3, 14)
        dim = rng.randint(3, 6)
        k = rng.randint(1, min(5, n))
        lam = rng.choice([0.5, 0.7, 0.9])
        vecs = {
            i: [rng.uniform(-1, 1) for _ in range(dim)] for i in range(n)
        }
        q = [rng.uniform(-1, 1) for _ in range(dim)]
        df = spark.createDataFrame(
            [(i, [float(x) for x in v], 0) for i, v in vecs.items()],
            "vec_id long, embedding array<float>, label int",
        )
        # Reference must see the FLOAT32-cast values the operator sees.
        import struct

        def f32(x):
            return struct.unpack("f", struct.pack("f", x))[0]

        vecs32 = {i: [f32(x) for x in v] for i, v in vecs.items()}
        got = [
            r.vec_id
            for r in mmr_topk(df, q, k=k, lam=lam).orderBy("rnk").collect()
        ]
        want = _mmr_ref(vecs32, q, k, lam)
        assert got == want, (trial, n, dim, k, lam, got, want)


def test_psi_nonnegative_and_symmetric_under_swap(spark, tmp_path):
    """PSI terms are always >= 0 ((q-p) and ln(q/p) share sign), and
    swapping the ref/cur roles preserves every term exactly (the
    formula is symmetric in (p, q))."""
    from corral_spark.queries.hygiene import psi_drift_docs

    rng = random.Random(7)
    rows = []
    langs = ["en", "fr", "de", "es", "zh"]
    for i in range(300):
        src = f"src{rng.randint(0, 19)}"
        rows.append(
            (i, "t", rng.choice(langs), src, rng.randint(40, 560))
        )
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    df.coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "documents.parquet")
    )
    out = psi_drift_docs(spark, str(tmp_path)).collect()
    assert out and all(r.psi_term_micro >= 0 for r in out)
    # swap roles: flip the source suffix across the 10-boundary
    rows_sw = [
        (i, t, lg, f"src{(int(s[3:]) + 10) % 20}", n)
        for (i, t, lg, s, n) in rows
    ]
    df2 = spark.createDataFrame(
        rows_sw, "doc_id long, text string, lang string, source string, n_chars long"
    )
    df2.coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "documents.parquet")
    )
    out2 = psi_drift_docs(spark, str(tmp_path)).collect()
    a = {(r.feature, r.bin): (r.psi_term_micro, r.ref_cnt, r.cur_cnt) for r in out}
    b = {(r.feature, r.bin): (r.psi_term_micro, r.cur_cnt, r.ref_cnt) for r in out2}
    assert a == b  # terms identical, counts mirrored


def test_agg_delta_random_traffic_with_null_keys(spark):
    """Random signed delta streams (inserts then bounded deletes, null
    group keys included) maintained by apply_agg_delta must equal a
    full recompute over the surviving base rows."""
    rng = random.Random(99)
    for trial in range(6):
        groups = ["A", "B", None, "C"]
        base = []
        for i in range(rng.randint(5, 30)):
            base.append((rng.choice(groups), round(rng.uniform(1, 9), 2)))
        # delta: delete a subset of base, insert some new rows
        dele = [r for r in base if rng.random() < 0.4]
        ins = [
            (rng.choice(groups), round(rng.uniform(1, 9), 2))
            for _ in range(rng.randint(0, 10))
        ]
        snap_rows = {}
        for g, v in base:
            n, s_ = snap_rows.get(g, (0, 0.0))
            snap_rows[g] = (n + 1, round(s_ + v, 10))
        snap = spark.createDataFrame(
            [(g, n, s_) for g, (n, s_) in snap_rows.items()],
            "g string, n long, s double",
        )
        delta = spark.createDataFrame(
            [(g, v, -1) for g, v in dele] + [(g, v, 1) for g, v in ins],
            "g string, s double, sign int",
        )
        out = {
            r.g: (r.n, round(r.s, 6))
            for r in apply_agg_delta(snap, delta, ["g"], ["s"], count_col="n").collect()
        }
        from collections import Counter

        mult = Counter(base)
        for r in dele:
            mult[r] -= 1
        mult.update(Counter(ins))
        final = {}
        for (g, v), c in mult.items():
            if c <= 0:
                continue
            n, s_ = final.get(g, (0, 0.0))
            final[g] = (n + c, s_ + v * c)
        want = {
            g: (n, round(s_, 6)) for g, (n, s_) in final.items() if n > 0
        }
        for g in set(out) | set(want):
            assert g in out and g in want, (trial, g, out.get(g), want.get(g))
            assert out[g][0] == want[g][0], (trial, g, out[g], want[g])
            assert abs(out[g][1] - want[g][1]) < 1e-6, (trial, g, out[g], want[g])
