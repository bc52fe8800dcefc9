"""Operator-level tests for the extension ops: semantics that the
rows-only driver gate can't see (recall vs exact methods, determinism,
duplicate handling on synthetic fixtures)."""

from __future__ import annotations

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from corral_spark.operators.dedup import (
    dedup_exact,
    jaccard_pairs,
    minhash_lsh_pairs,
    minhash_signatures,
    simhash64,
    simhash_pairs,
)
from corral_spark.operators.multimodal import (
    FEATURE_SCHEMA,
    assets_from_documents,
    decode_real,
    extract_features,
)
from corral_spark.operators.similarity import cosine_topk, ivf_topk
from corral_spark.sources.tables import load_table

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return load_table(spark, SF, "documents").cache()


@pytest.fixture(scope="module")
def emb(spark):
    return load_table(spark, SF, "embeddings").cache()


def test_dedup_exact_keeps_min_id_on_synthetic_dups(spark):
    df = spark.createDataFrame(
        [
            Row(doc_id=3, text="a b c"),
            Row(doc_id=1, text="a b c"),
            Row(doc_id=2, text="x y z"),
            Row(doc_id=9, text="a b c"),
        ]
    )
    out = dedup_exact(df, ["text"], "doc_id").collect()
    kept = sorted(r.doc_id for r in out)
    assert kept == [1, 2]


def test_minhash_recall_vs_exact_shingle_jaccard(spark, docs):
    """MinHash estimates SHINGLE-set Jaccard, so compare against the
    exact shingle Jaccard (not token Jaccard — the corpus shares one
    small vocabulary, making token Jaccard ~1 for most pairs). Every
    exact pair >=0.5 must be recalled by LSH at threshold 0.4."""
    from corral_spark.operators.dedup import word_shingles

    n = 3
    tok = docs.select(
        F.col("doc_id").alias("id"),
        F.explode(word_shingles(F.col("text"), n)).alias("token"),
    )
    sizes = tok.groupBy("id").agg(F.count(F.lit(1)).alias("cnt"))
    a = tok.select(F.col("id").alias("id_a"), "token")
    b = tok.select(F.col("id").alias("id_b"), "token")
    inter = (
        a.join(b, "token")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("i"))
    )
    sa = sizes.select(F.col("id").alias("id_a"), F.col("cnt").alias("na"))
    sb = sizes.select(F.col("id").alias("id_b"), F.col("cnt").alias("nb"))
    jac = F.col("i") / (F.col("na") + F.col("nb") - F.col("i"))
    exact = {
        (r.id_a, r.id_b)
        for r in inter.join(sa, "id_a")
        .join(sb, "id_b")
        .filter(jac >= 0.5)
        .select("id_a", "id_b")
        .collect()
    }
    sigs = minhash_signatures(docs, "text", "doc_id", n_hashes=64, shingle_n=n)
    approx = {
        (r.id_a, r.id_b)
        for r in minhash_lsh_pairs(sigs, "doc_id", bands=16, threshold=0.4).collect()
    }
    assert exact, "fixture should contain shingle-similar pairs"
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.8, f"minhash recall {recall} over {len(exact)} pairs"


def test_minhash_identical_docs_full_agreement(spark):
    df = spark.createDataFrame(
        [
            Row(doc_id=1, text="the quick brown fox jumps over the lazy dog today"),
            Row(doc_id=2, text="the quick brown fox jumps over the lazy dog today"),
            Row(doc_id=3, text="completely different words appear in this one here"),
        ]
    )
    sigs = minhash_signatures(df, "text", "doc_id", n_hashes=32, shingle_n=3)
    pairs = minhash_lsh_pairs(sigs, "doc_id", bands=8, threshold=0.9).collect()
    assert [(p.id_a, p.id_b, p.est_jaccard) for p in pairs] == [(1, 2, 1.0)]


def test_simhash_identical_docs_zero_hamming(spark):
    df = spark.createDataFrame(
        [
            Row(doc_id=1, text="spark query engine shuffles data across the cluster"),
            Row(doc_id=2, text="spark query engine shuffles data across the cluster"),
        ]
    )
    sims = simhash64(df, "text", "doc_id")
    pairs = simhash_pairs(sims, "doc_id", max_hamming=3).collect()
    assert len(pairs) == 1 and pairs[0].hamming == 0


def test_fingerprint_deterministic_across_runs(spark, docs):
    from corral_spark.operators.textanalysis import doc_fingerprint

    a = {r.doc_id: (r.fp_min, r.fp_max, r.fp_xor) for r in doc_fingerprint(docs).collect()}
    b = {r.doc_id: (r.fp_min, r.fp_max, r.fp_xor) for r in doc_fingerprint(docs).collect()}
    assert a == b and len(a) == docs.count()


def test_ivf_recall_vs_bruteforce(spark, emb):
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = cosine_topk(emb, queries, k=10).collect()
    approx = ivf_topk(emb, queries, ncells=16, nprobe=4, k=10).collect()
    exact_sets = {}
    for r in exact:
        exact_sets.setdefault(r.query_id, set()).add(r.vec_id)
    approx_sets = {}
    for r in approx:
        approx_sets.setdefault(r.query_id, set()).add(r.vec_id)
    recalls = [
        len(exact_sets[q] & approx_sets.get(q, set())) / len(exact_sets[q])
        for q in exact_sets
    ]
    # IVF with deterministic (non-kmeans) centroids and nprobe=4/16:
    # macro recall should be well above random cell coverage (25%).
    assert sum(recalls) / len(recalls) >= 0.5, recalls


def test_cosine_near_dup_recall_on_synthetic(spark):
    """Plant 5 near-dup pairs (small perturbations, cosine ~0.99) in
    100 random vectors; sign-LSH must recall all of them and report
    the exact cosine."""
    import numpy as np

    rng = np.random.RandomState(7)
    base = rng.randn(100, 64)
    rows = [(i, base[i].astype(float).tolist()) for i in range(100)]
    for j in range(5):
        noisy = base[j] + 0.05 * rng.randn(64)
        rows.append((1000 + j, noisy.astype(float).tolist()))
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])

    from corral_spark.operators.similarity import cosine_near_dup_pairs

    pairs = cosine_near_dup_pairs(df, threshold=0.9).collect()
    found = {(r.id_a, r.id_b) for r in pairs}
    assert {(j, 1000 + j) for j in range(5)} <= found
    assert all(r.cos_sim >= 0.9 for r in pairs)


def test_ivf_kmeans_helps_on_clustered_data(spark):
    """Lloyd refinement must pay off when the corpus actually
    clusters: 8 Gaussian blobs, recall with refined centroids >= the
    init-only centroids."""
    import numpy as np

    rng = np.random.RandomState(3)
    centers = rng.randn(8, 32) * 5
    rows = []
    for i in range(400):
        c = i % 8
        rows.append((i, (centers[c] + rng.randn(32) * 0.3).astype(float).tolist()))
    df = spark.createDataFrame(rows, ["vec_id", "embedding"]).cache()
    df.count()
    queries = df.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = cosine_topk(df, queries, k=10).collect()
    es = {}
    for r in exact:
        es.setdefault(r.query_id, set()).add(r.vec_id)

    def recall(kmeans_iters):
        approx = ivf_topk(
            df, queries, ncells=8, nprobe=1, k=10, kmeans_iters=kmeans_iters
        ).collect()
        got = {}
        for r in approx:
            got.setdefault(r.query_id, set()).add(r.vec_id)
        return sum(
            len(es[q] & got.get(q, set())) / len(es[q]) for q in es
        ) / len(es)

    r_plain, r_kmeans = recall(0), recall(2)
    assert r_kmeans >= r_plain, (r_plain, r_kmeans)
    assert r_kmeans >= 0.9, r_kmeans


def test_multimodal_schema_and_determinism(spark, docs):
    feats = extract_features(assets_from_documents(docs))
    assert feats.schema == FEATURE_SCHEMA
    rows = feats.orderBy("asset_id").limit(5).collect()
    again = feats.orderBy("asset_id").limit(5).collect()
    assert rows == again
    assert all(64 <= r.width < 256 and 64 <= r.height < 256 for r in rows)
    assert all(len(r.sha256) == 64 for r in rows)


def test_multimodal_real_decode_is_stubbed():
    with pytest.raises(NotImplementedError):
        decode_real(b"bytes", "image/png")


def test_multimodal_resize_and_frame_sample(spark, docs):
    from corral_spark.operators.multimodal import resize_assets, sample_frames

    assets = assets_from_documents(docs.limit(20))
    resized = resize_assets(assets, 128, 96)
    rows = resized.collect()
    assert len(rows) == 20
    expected_len = (128 * 96) // 64
    assert all(r.n_bytes == expected_len == len(bytes(r.payload)) for r in rows)

    frames = sample_frames(assets, n_frames=3)
    per_asset = frames.groupBy("asset_id").count().collect()
    assert all(r["count"] == 3 for r in per_asset) and len(per_asset) == 20
    one = frames.filter("asset_id = 0").orderBy("frame_idx").collect()
    assert [r.frame_idx for r in one] == [0, 1, 2]
    assert len({bytes(r.frame) for r in one}) == 3  # distinct frames


def test_redact_pii_on_synthetic(spark):
    """The corpus has no PII; prove the patterns fire on planted data."""
    from pyspark.sql import functions as F

    from corral_spark.operators.quality import normalize_text, redact_pii

    df = spark.createDataFrame(
        [
            (1, "Contact  A.User@Example.COM  now"),
            (2, "server at 192.168.1.100 down"),
            (3, "call 555-123-4567 today"),
            (4, "nothing sensitive here"),
        ],
        ["id", "text"],
    )
    out = {
        r.id: r.clean
        for r in df.select(
            "id", redact_pii(normalize_text(F.col("text"))).alias("clean")
        ).collect()
    }
    assert out[1] == "contact <EMAIL> now"
    assert out[2] == "server at <IP> down"
    assert out[3] == "call <PHONE> today"
    assert out[4] == "nothing sensitive here"


def test_approx_distinct_within_error_bound(spark):
    li = load_table(spark, "/root/testdata/sf0.01", "lineitem")
    from pyspark.sql import functions as F

    rows = (
        li.groupBy("l_returnflag")
        .agg(
            F.approx_count_distinct("l_partkey", rsd=0.02).alias("approx"),
            F.countDistinct("l_partkey").alias("exact"),
        )
        .collect()
    )
    for r in rows:
        assert abs(r.approx - r.exact) / r.exact < 0.1, (r.l_returnflag, r.approx, r.exact)


def test_deterministic_sample_stable_and_sized(spark, docs):
    from corral_spark.operators.sampling import deterministic_sample

    a = {r.doc_id for r in deterministic_sample(docs, "doc_id", 0.3).collect()}
    b = {r.doc_id for r in deterministic_sample(docs, "doc_id", 0.3).collect()}
    assert a == b
    n = docs.count()
    assert 0.15 * n < len(a) < 0.45 * n  # ~binomial around 0.3
    # Nested property: a smaller fraction is a subset of a larger one.
    c = {r.doc_id for r in deterministic_sample(docs, "doc_id", 0.1).collect()}
    assert c <= a


@pytest.mark.parametrize("across", [False, True], ids=["self", "across"])
def test_minhash_pair_counts_consistent_with_verified_pairs(spark, across):
    """The scaling diagnostic must count the SAME pipeline it reports
    on: pairs == the pair operator's row count, candidates >= pairs
    (verification only ever filters candidates) — for the self-join
    and for the cross-corpus check (src0 vs the rest)."""
    from corral_spark.operators.dedup import (
        minhash_across_counts,
        minhash_pair_counts,
        minhash_pairs_across,
        minhash_verified_pairs,
    )
    from corral_spark.sources.tables import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    if across:
        sides = (
            docs.filter(F.col("source") == "src0"),
            docs.filter(F.col("source") != "src0"),
        )
        counts = minhash_across_counts(*sides, "text", "doc_id", threshold=0.5)
        n_pairs = minhash_pairs_across(
            *sides, "text", "doc_id", threshold=0.5
        ).count()
    else:
        counts = minhash_pair_counts(docs, "text", "doc_id", threshold=0.5)
        n_pairs = minhash_verified_pairs(
            docs, "text", "doc_id", threshold=0.5
        ).count()
    assert counts["pairs"] == n_pairs
    assert counts["candidates"] >= counts["pairs"]


def test_multimodal_decode_seam_with_injected_pil(spark, tmp_path, docs):
    """r4 verdict item 8: decode_real stays a stub in this container,
    but the SEAM is contract-tested — a fake PIL module shipped via
    addPyFile must flow through the same lazy per-worker import,
    batch iteration, and FEATURE_SCHEMA output that a real Pillow
    install would, end-to-end through mapInPandas on executors."""
    import subprocess
    import sys
    import zipfile

    from corral_spark.operators.multimodal import decode_real

    # A fake PIL package: Image.open(fp) -> object with .size derived
    # deterministically from the payload bytes.
    pkg = tmp_path / "PIL"
    pkg.mkdir()
    (pkg / "__init__.py").write_text("")
    (pkg / "Image.py").write_text(
        "class _Img:\n"
        "    def __init__(self, data):\n"
        "        self.size = ((len(data) % 97) + 1, (data[0] if data else 0) + 1)\n"
        "    def __enter__(self):\n"
        "        return self\n"
        "    def __exit__(self, *a):\n"
        "        return False\n"
        "\n"
        "def open(fp):\n"
        "    return _Img(fp.read())\n"
    )
    zpath = tmp_path / "fakepil.zip"
    with zipfile.ZipFile(zpath, "w") as zf:
        for f in sorted(pkg.rglob("*.py")):
            zf.write(f, f.relative_to(tmp_path))

    # Without the fake, the seam raises (proves no silent fallback) —
    # in a clean interpreter, since addPyFile side effects below stick
    # to this session.
    probe = subprocess.run(
        [
            sys.executable,
            "-c",
            "from corral_spark.operators.multimodal import decode_real\n"
            "try:\n"
            "    decode_real(b'x')\n"
            "except NotImplementedError:\n"
            "    print('STUB-OK')\n",
        ],
        capture_output=True,
        text=True,
        cwd="/root/repo",
    )
    assert "STUB-OK" in probe.stdout, probe.stderr

    spark.sparkContext.addPyFile(str(zpath))
    try:
        assets = assets_from_documents(docs.limit(16))
        feats = (
            extract_features(assets, decoder=decode_real)
            .orderBy("asset_id")
            .collect()
        )
        assert len(feats) == 16
        payloads = {
            r.asset_id: bytes(r.payload)
            for r in assets.orderBy("asset_id").collect()
        }
        for r in feats:
            data = payloads[r.asset_id]
            assert r.width == (len(data) % 97) + 1
            assert r.height == (data[0] if data else 0) + 1
            assert len(r.sha256) == 64
    finally:
        sys.path[:] = [p for p in sys.path if "fakepil" not in p]
        sys.modules.pop("PIL.Image", None)
        sys.modules.pop("PIL", None)


class TestNativeMediaDecode:
    """Round 6: uncompressed formats decode FOR REAL with no media
    libraries — PPM/BMP images and RIFF/WAVE PCM audio."""

    @staticmethod
    def _ppm(w, h, comment=False):
        header = b"P6\n"
        if comment:
            header += b"# a comment line\n"
        header += f"{w} {h}\n255\n".encode()
        return header + bytes((x * 7) % 256 for x in range(w * h * 3))

    @staticmethod
    def _bmp(w, h):
        import struct

        info = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, 0, 0, 0, 0, 0)
        pixels = b"\x00" * (((w * 3 + 3) // 4 * 4) * abs(h))
        head = struct.pack("<2sIHHI", b"BM", 14 + len(info) + len(pixels), 0, 0, 54)
        return head + info + pixels

    @staticmethod
    def _wav(rate, samples):
        import struct

        data = struct.pack(f"<{len(samples)}h", *samples)
        fmt = struct.pack("<HHIIHH", 1, 1, rate, rate * 2, 2, 16)
        return (
            struct.pack("<4sI4s", b"RIFF", 4 + 8 + len(fmt) + 8 + len(data), b"WAVE")
            + b"fmt " + struct.pack("<I", len(fmt)) + fmt
            + b"data" + struct.pack("<I", len(data)) + data
        )

    def test_ppm_decode_real_dimensions(self):
        from corral_spark.operators.multimodal import decode_auto, decode_ppm

        assert decode_ppm(self._ppm(17, 9)) == (17, 9)
        assert decode_ppm(self._ppm(3, 5, comment=True)) == (3, 5)
        assert decode_auto(self._ppm(17, 9)) == (17, 9)
        import pytest as _pytest

        with _pytest.raises(ValueError):
            decode_ppm(self._ppm(17, 9)[:-5])  # truncated pixels
        with _pytest.raises(ValueError):
            decode_ppm(b"P3\n1 1\n255\n0 0 0")  # ascii PPM unsupported
        # Header digits running straight into pixel data must raise,
        # not silently shift the pixel region by one byte (the byte
        # after maxval is verified to BE whitespace before advancing).
        with _pytest.raises(ValueError):
            decode_ppm(b"P6\n1 1\n255" + b"A" * 4)
        # \r as the single separator is legal whitespace.
        assert decode_ppm(b"P6\n2 1\n255\r" + b"x" * 6) == (2, 1)

    def test_bmp_decode_real_dimensions(self):
        from corral_spark.operators.multimodal import decode_auto, decode_bmp

        assert decode_bmp(self._bmp(31, 12)) == (31, 12)
        assert decode_bmp(self._bmp(8, -4)) == (8, 4)  # top-down rows
        assert decode_auto(self._bmp(31, 12)) == (31, 12)

    @staticmethod
    def _png(w, h):
        return (
            b"\x89PNG\r\n\x1a\n"
            + (13).to_bytes(4, "big") + b"IHDR"
            + w.to_bytes(4, "big") + h.to_bytes(4, "big")
            + bytes(5)  # bit depth / color / compression / filter / interlace
        )

    @staticmethod
    def _gif(w, h):
        return (
            b"GIF89a"
            + w.to_bytes(2, "little") + h.to_bytes(2, "little")
            + bytes(4)
        )

    @staticmethod
    def _jpeg(w, h, extra_segments=True, rst=False):
        app0 = b"\xff\xe0" + (16).to_bytes(2, "big") + b"JFIF\x00" + bytes(9)
        dqt = b"\xff\xdb" + (67).to_bytes(2, "big") + bytes(65)
        sof = (
            b"\xff\xc0" + (17).to_bytes(2, "big") + bytes([8])
            + h.to_bytes(2, "big") + w.to_bytes(2, "big") + bytes(10)
        )
        body = b"\xff\xd8"
        if extra_segments:
            body += app0 + dqt
        if rst:
            body += b"\xff\xd0"  # standalone RST0 must be stepped over
        return body + sof + b"\xff\xd9"

    def test_png_gif_jpeg_header_dims(self):
        """Compressed web formats: REAL zero-dependency dimension
        parsing from header bytes — no codec needed for metadata."""
        from corral_spark.operators.multimodal import (
            decode_auto,
            decode_gif_dims,
            decode_jpeg_dims,
            decode_png_dims,
        )

        assert decode_png_dims(self._png(320, 200)) == (320, 200)
        assert decode_gif_dims(self._gif(640, 480)) == (640, 480)
        assert decode_jpeg_dims(self._jpeg(800, 600)) == (800, 600)
        # The dispatcher routes by magic bytes.
        assert decode_auto(self._png(7, 9)) == (7, 9)
        assert decode_auto(self._gif(7, 9)) == (7, 9)
        assert decode_auto(self._jpeg(7, 9)) == (7, 9)
        # JPEG walk: SOF found behind fill/standalone markers too.
        assert decode_jpeg_dims(self._jpeg(12, 34, rst=True)) == (12, 34)
        # SOF first (no APP0/DQT) is legal.
        assert decode_jpeg_dims(self._jpeg(5, 6, extra_segments=False)) == (5, 6)
        import pytest as _pytest

        with _pytest.raises(ValueError):
            decode_png_dims(self._png(320, 200)[:20])  # truncated IHDR
        with _pytest.raises(ValueError):
            decode_png_dims(b"\x89PNG\r\n\x1a\n" + bytes(16))  # no IHDR
        with _pytest.raises(ValueError):
            decode_gif_dims(b"GIF89a" + bytes(2))  # truncated descriptor
        with _pytest.raises(ValueError):
            # Cut inside the SOF header before the dimension bytes.
            decode_jpeg_dims(self._jpeg(5, 6, extra_segments=False)[:9])
        with _pytest.raises(ValueError):
            decode_jpeg_dims(b"\xff\xd8" + b"\x00\x00")  # marker expected

    def test_extract_features_with_native_decoder(self, spark):
        # The same mapInPandas plumbing that runs decode_fake runs the
        # REAL PPM parser end-to-end through Spark.
        from corral_spark.operators.multimodal import (
            decode_auto,
            extract_features,
        )

        rows = [(i, "image/ppm", self._ppm(10 + i, 4 + i)) for i in range(6)]
        assets = spark.createDataFrame(
            [(a, m, p, len(p)) for a, m, p in rows],
            "asset_id long, media_type string, payload binary, n_bytes long",
        )
        got = {
            r["asset_id"]: (r["width"], r["height"])
            for r in extract_features(assets, decoder=decode_auto).collect()
        }
        assert got == {i: (10 + i, 4 + i) for i in range(6)}

    def test_wav_metadata_and_exact_rms(self, spark):
        import math

        from corral_spark.operators.multimodal import (
            decode_wav_meta,
            extract_audio_features,
        )

        samples = [0, 1000, -1000, 500, -500, 250, -250, 0]
        wav = self._wav(8000, samples)
        meta = decode_wav_meta(wav)
        assert {k: meta[k] for k in meta if k != "data_offset" and not k.startswith("_")} == {
            "sample_rate": 8000,
            "channels": 1,
            "bits_per_sample": 16,
            "n_frames": 8,
            "duration_ms": 1,
        }
        assert wav[meta["data_offset"] - 8 : meta["data_offset"] - 4] == b"data"

        want_rms = math.isqrt(sum(s * s for s in samples) // len(samples))

        assets = spark.createDataFrame(
            [(1, "audio/wav", wav, len(wav)), (2, "audio/wav", b"junk", 4)],
            "asset_id long, media_type string, payload binary, n_bytes long",
        )
        rows = {
            r["asset_id"]: r
            for r in extract_audio_features(assets).collect()
        }
        assert rows[1]["sample_rate"] == 8000
        assert rows[1]["n_frames"] == 8
        assert rows[1]["rms"] == want_rms
        assert rows[2]["sample_rate"] is None  # malformed -> NULLs, no crash


def _oph_reference(spark, tok, keys, n_hashes):
    """OPH signatures built independently of the operator: per
    (key, bin) min hash in Spark, then assembly and densification of
    empty bins with xxhash64(bin, global min) in Python."""
    per_bin = (
        tok.select(*keys, F.xxhash64("__s").alias("h"))
        .groupBy(*keys, F.pmod("h", F.lit(n_hashes)).alias("bin"))
        .agg(F.min("h").alias("m"), F.count(F.lit(1)).alias("c"))
        .collect()
    )
    docs = {}
    for r in per_bin:
        key = tuple(r[k] for k in keys)
        bins, n = docs.get(key, ({}, 0))
        bins[r.bin] = r.m
        docs[key] = (bins, n + r.c)
    gmin = {key: min(bins.values()) for key, (bins, _) in docs.items()}
    fill = [
        (b, gmin[key])
        for key, (bins, _) in docs.items()
        for b in range(n_hashes)
        if b not in bins
    ]
    dense = {
        (r.b, r.g): r.x
        for r in spark.createDataFrame(fill, "b int, g long")
        .select("b", "g", F.xxhash64("b", "g").alias("x"))
        .collect()
    }
    return {
        key: (
            [
                bins[b] if b in bins else dense[(b, gmin[key])]
                for b in range(n_hashes)
            ],
            n,
        )
        for key, (bins, n) in docs.items()
    }


@pytest.mark.parametrize("keys", [["id"], ["__side", "id"]])
def test_oph_signatures_match_reference_bin_for_bin(spark, keys):
    """Every bin of every signature equals an independent OPH build,
    including the densified bins of documents with fewer shingles
    than bins and the tagged (side, id) key of the cross-corpus
    path."""
    from corral_spark.operators.dedup import _signatures_from_tokens

    n_hashes = 64
    docs = {
        1: [f"s{i}" for i in range(300)],  # more shingles than bins
        2: ["a", "b", "c"],  # 61+ densified bins
        3: ["a", "a", "b"],  # repeated shingle: counted twice
        4: ["only"],
    }
    rows = [
        (side, doc, s)
        for side in (0, 1)
        for doc, shingles in docs.items()
        for s in (shingles if side == 0 else shingles[::-1] + ["x"])
    ]
    tok = spark.createDataFrame(rows, "__side int, id long, __s string")
    if keys == ["id"]:
        tok = tok.filter("__side = 0").drop("__side")
    got = {
        tuple(r[k] for k in keys): (list(r.sig), r.n_shingles)
        for r in _signatures_from_tokens(
            tok, keys[0] if len(keys) == 1 else keys, "__s", n_hashes
        ).collect()
    }
    want = _oph_reference(spark, tok, keys, n_hashes)
    assert got == want
    assert len(got) == len(docs) * len(keys)
