"""Multimodal-column plumbing: opaque binary payloads + typed metadata.

North-star extension (SURVEY §2.4). The engine treats image/audio/
video as ``binary`` columns with a metadata struct, processed by
Arrow-batched pandas functions via ``mapInPandas``.

Decode status: UNCOMPRESSED formats decode FOR REAL with zero
dependencies — binary PPM (P6) and BMP images (``decode_ppm`` /
``decode_bmp`` / ``decode_auto``) and RIFF/WAVE PCM audio incl. exact
integer RMS over the samples (``decode_wav_meta`` /
``extract_audio_features``). Compressed codecs (JPEG/PNG/mp3/...)
remain charter-limited: ``decode_real`` is the lazy-import PIL seam
that raises NotImplementedError in this container and resolves the
real library per executor process on a cluster that has it (seam
contract pinned by an injected-fake-PIL pytest). ``decode_fake`` is
the deterministic digest-keyed test double. The Spark-side contract —
schema, batch iteration, partition behavior, UDF signatures — is real
and tested throughout.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

#: Canonical asset schema: payload + typed metadata, parquet-friendly.
ASSET_SCHEMA = StructType(
    [
        StructField("asset_id", LongType(), False),
        StructField("media_type", StringType(), False),
        StructField("payload", BinaryType(), False),
        StructField("n_bytes", LongType(), False),
    ]
)

FEATURE_SCHEMA = StructType(
    [
        StructField("asset_id", LongType(), False),
        StructField("media_type", StringType(), False),
        StructField("n_bytes", LongType(), False),
        StructField("width", IntegerType(), True),
        StructField("height", IntegerType(), True),
        StructField("sha256", StringType(), False),
    ]
)


def decode_real(payload: bytes, media_type: str = "image") -> tuple[int, int]:
    """The real-decoder SEAM: decode image dimensions via PIL when an
    image library is importable, raise NotImplementedError otherwise
    (this container ships no media libs — charter limit).

    The import happens HERE, lazily, per process: on a cluster with
    Pillow installed the same pickled function resolves the real
    library inside each executor worker, with zero engine changes.
    The seam's contract (payload-in, (width, height)-out, usable as
    ``extract_features``'s decoder) is pinned by a pytest that ships a
    fake PIL module through ``addPyFile`` — proving the batch/schema
    plumbing end-to-end without media libs."""
    try:
        from PIL import Image  # noqa: PLC0415 — the seam IS the lazy import
    except ImportError as exc:
        raise NotImplementedError(
            "media decode requires image/audio libraries not present "
            "here; decode_fake provides the deterministic test double"
        ) from exc
    import io

    with Image.open(io.BytesIO(payload)) as im:
        width, height = im.size
        return int(width), int(height)


def decode_ppm(payload: bytes) -> tuple[int, int]:
    """REAL image decode for binary PPM (P6) — pure stdlib, no media
    library needed, so this path works in ANY container. Parses the
    magic, comment-tolerant whitespace-separated header (width,
    height, maxval) and validates the pixel payload length. Raises
    ValueError on malformed input.

    This is not a stub: a P6 file produced by any imaging tool decodes
    here. Compressed formats (JPEG/PNG) still go through the
    ``decode_real`` PIL seam — the charter limit is the codec, not the
    plumbing."""
    if not payload.startswith(b"P6"):
        raise ValueError("not a binary PPM (P6) payload")
    fields: list[int] = []
    i = 2
    n = len(payload)
    while len(fields) < 3:
        while i < n and payload[i : i + 1].isspace():
            i += 1
        if i < n and payload[i : i + 1] == b"#":  # comment to EOL
            while i < n and payload[i : i + 1] not in (b"\n", b"\r"):
                i += 1
            continue
        j = i
        while j < n and payload[j : j + 1].isdigit():
            j += 1
        if j == i:
            raise ValueError("malformed PPM header")
        fields.append(int(payload[i:j]))
        i = j
    width, height, maxval = fields
    if not (0 < maxval < 65536):
        raise ValueError(f"PPM maxval {maxval} out of range")
    bpp = 3 if maxval < 256 else 6
    # Exactly ONE whitespace byte separates maxval from pixel data
    # (spec); verify it IS whitespace before advancing — otherwise a
    # header whose digits run straight into pixel bytes would silently
    # shift the pixel region by one byte.
    if i >= n or not payload[i : i + 1].isspace():
        raise ValueError("PPM header must end with one whitespace byte")
    i += 1
    if n - i < width * height * bpp:
        raise ValueError("PPM pixel payload truncated")
    return width, height


def decode_bmp(payload: bytes) -> tuple[int, int]:
    """REAL image decode for BMP (BITMAPINFOHEADER and newer) — pure
    stdlib: dimensions live at fixed offsets 18/22 as little-endian
    int32 (height may be negative for top-down rows). Legacy OS/2
    BITMAPCOREHEADER files (DIB header size < 40, 16-bit dims at
    different offsets) are REJECTED rather than misparsed — the
    header-size field at offset 14 is checked first."""
    import struct

    if not payload.startswith(b"BM") or len(payload) < 26:
        raise ValueError("not a BMP payload")
    (dib_size,) = struct.unpack_from("<I", payload, 14)
    if dib_size < 40:
        raise ValueError(
            f"unsupported legacy BMP DIB header (size {dib_size} < 40)"
        )
    width, height = struct.unpack_from("<ii", payload, 18)
    if width <= 0 or height == 0:
        raise ValueError("malformed BMP dimensions")
    return width, abs(height)


def decode_png_dims(payload: bytes) -> tuple[int, int]:
    """REAL dimension decode for PNG — pure stdlib. PNG pixel data is
    DEFLATE-compressed (behind the charter seam), but the dimensions
    are plain header bytes: the 8-byte signature must be followed by
    the IHDR chunk (the spec requires IHDR first), whose payload
    starts with width/height as big-endian uint32."""
    sig = b"\x89PNG\r\n\x1a\n"
    if not payload.startswith(sig) or len(payload) < 24:
        raise ValueError("not a PNG payload")
    if payload[12:16] != b"IHDR":
        raise ValueError("PNG missing leading IHDR chunk")
    width = int.from_bytes(payload[16:20], "big")
    height = int.from_bytes(payload[20:24], "big")
    if width == 0 or height == 0 or width >= 2**31 or height >= 2**31:
        # PNG caps dimensions at 2^31 - 1 (spec: "shall not exceed
        # 2^31-1"), so 2^31 exactly is malformed too.
        raise ValueError("malformed PNG dimensions")
    return width, height


def decode_gif_dims(payload: bytes) -> tuple[int, int]:
    """REAL dimension decode for GIF (87a/89a) — pure stdlib: the
    logical screen descriptor's width/height are little-endian uint16
    at bytes 6..9, before any LZW-compressed image data."""
    if payload[:6] not in (b"GIF87a", b"GIF89a") or len(payload) < 10:
        raise ValueError("not a GIF payload")
    width = int.from_bytes(payload[6:8], "little")
    height = int.from_bytes(payload[8:10], "little")
    if width == 0 or height == 0:
        raise ValueError("malformed GIF dimensions")
    return width, height


#: JPEG frame-header (SOF) markers carrying dimensions: C0-CF minus
#: C4 (DHT), C8 (JPG extension), CC (DAC) — per ITU T.81 table B.1.
_JPEG_SOF = frozenset(range(0xC0, 0xD0)) - {0xC4, 0xC8, 0xCC}


def decode_jpeg_dims(payload: bytes) -> tuple[int, int]:
    """REAL dimension decode for JPEG — pure stdlib segment walk (the
    entropy-coded image data never has to be decoded to learn the
    frame size): from SOI, step marker segments by their big-endian
    lengths until the first SOF frame header, whose payload is
    [precision u8, height u16 BE, width u16 BE, ...]. Standalone
    markers (TEM, RSTn) and fill bytes are skipped per spec; a
    truncated or non-JPEG stream raises instead of guessing."""
    n = len(payload)
    if n < 4 or payload[0:2] != b"\xff\xd8":
        raise ValueError("not a JPEG payload (no SOI)")
    i = 2
    while i + 1 < n:
        if payload[i] != 0xFF:
            raise ValueError(f"JPEG marker expected at byte {i}")
        # Fill bytes: any number of 0xFF may pad before the marker id.
        while i + 1 < n and payload[i + 1] == 0xFF:
            i += 1
        marker = payload[i + 1]
        if marker == 0xD9:  # EOI before any SOF
            break
        if marker == 0x01 or 0xD0 <= marker <= 0xD7:  # TEM / RSTn
            i += 2
            continue
        if i + 4 > n:
            break
        seglen = int.from_bytes(payload[i + 2 : i + 4], "big")
        if seglen < 2:
            raise ValueError("malformed JPEG segment length")
        if marker in _JPEG_SOF:
            if seglen < 7 or i + 9 > n:
                raise ValueError("truncated JPEG frame header")
            height = int.from_bytes(payload[i + 5 : i + 7], "big")
            width = int.from_bytes(payload[i + 7 : i + 9], "big")
            if width == 0 or height == 0:
                raise ValueError("malformed JPEG dimensions")
            return width, height
        i += 2 + seglen
    raise ValueError("JPEG frame header (SOF) not found")


def decode_wav_meta(payload: bytes) -> dict:
    """REAL audio metadata decode for RIFF/WAVE (PCM) — pure stdlib
    chunk walk: returns sample_rate, channels, bits_per_sample,
    n_frames, duration_ms. Raises ValueError on malformed input."""
    import struct

    if len(payload) < 12 or payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE payload")
    i, n = 12, len(payload)
    fmt = None
    data_size = None
    while i + 8 <= n:
        cid, csize = payload[i : i + 4], struct.unpack_from("<I", payload, i + 4)[0]
        body = i + 8
        if cid == b"fmt " and csize >= 16 and body + 16 <= n:
            (_audio_fmt, channels, rate, _brate, block_align, bits) = (
                struct.unpack_from("<HHIIHH", payload, body)
            )
            fmt = (channels, rate, block_align, bits)
        elif cid == b"data":
            data_size = min(csize, n - body)
            data_off = body
        i = body + csize + (csize & 1)  # chunks are word-aligned
    if fmt is None or data_size is None:
        raise ValueError("WAVE missing fmt/data chunk")
    channels, rate, block_align, bits = fmt
    if block_align == 0 or rate == 0:
        raise ValueError("malformed WAVE fmt chunk")
    n_frames = data_size // block_align
    return {
        "sample_rate": rate,
        "channels": channels,
        "bits_per_sample": bits,
        "n_frames": n_frames,
        "duration_ms": n_frames * 1000 // rate,
        # chunk-walk offset of the PCM bytes — consumers must not
        # substring-search for b"data", which can legally appear
        # inside an earlier chunk's body (LIST/INFO metadata)
        "data_offset": data_off,
        # internal: lets RMS consumers verify frames are tightly
        # packed before treating the data chunk as contiguous samples
        "_block_align": block_align,
    }


def decode_auto(payload: bytes) -> tuple[int, int]:
    """Image decode dispatcher: uncompressed formats (PPM, BMP) decode
    NATIVELY, and the compressed web formats (PNG, GIF, JPEG) get
    their DIMENSIONS from real zero-dependency header parsing — the
    size lives in plain header bytes before any compressed data, so
    metadata extraction at 100 TB never needs a codec. Full pixel
    decode of compressed formats falls through to the ``decode_real``
    PIL seam (charter-limited in this container)."""
    if payload.startswith(b"P6"):
        return decode_ppm(payload)
    if payload.startswith(b"BM"):
        return decode_bmp(payload)
    if payload.startswith(b"\x89PNG\r\n\x1a\n"):
        return decode_png_dims(payload)
    if payload[:6] in (b"GIF87a", b"GIF89a"):
        return decode_gif_dims(payload)
    if payload.startswith(b"\xff\xd8"):
        return decode_jpeg_dims(payload)
    return decode_real(payload)


def decode_fake(payload: bytes) -> tuple[int, int]:
    """Deterministic stand-in for image decode: derive (width, height)
    from the payload digest so tests are stable and schema-real."""
    digest = hashlib.sha256(payload).digest()
    width = 64 + digest[0] % 192
    height = 64 + digest[1] % 192
    return width, height


def resize_fake(payload: bytes, target_w: int, target_h: int) -> bytes:
    """Deterministic stand-in for image resize: where PIL's
    ``Image.resize`` would run, produce a digest-derived byte string
    of length proportional to the target area, so downstream size
    accounting and schema plumbing behave like the real op."""
    digest = hashlib.sha256(payload + f"{target_w}x{target_h}".encode()).digest()
    n = max(1, (target_w * target_h) // 64)
    return (digest * (n // len(digest) + 1))[:n]


def frame_sample_fake(payload: bytes, n_frames: int) -> list[bytes]:
    """Deterministic stand-in for video frame sampling (pyav/ffmpeg
    territory): n digest-derived 'frames' per payload. Real plumbing
    shape: one binary in, array<binary> out."""
    return [
        hashlib.sha256(payload + bytes([i])).digest() for i in range(n_frames)
    ]


def assets_from_documents(docs: DataFrame) -> DataFrame:
    """Manufacture a binary asset table from the documents corpus
    (text bytes as payload) — the container has no real media files;
    the column types and row shapes match what real ingestion would
    produce.

    Rows with NULL text are dropped: a NULL payload is not an asset
    (ingestion would have nothing to write), and downstream
    Arrow-batched decoders receive ``bytes`` per row by contract —
    without the filter a NULL reaches ``bytes(None)`` and kills the
    whole batch (found by the NULL-injection campaign). Mirrored in the
    multimodal_features oracle as ``text IS NOT NULL``."""
    docs = docs.filter(F.col("text").isNotNull())
    return docs.select(
        F.col("doc_id").alias("asset_id"),
        F.lit("image/fake").alias("media_type"),
        F.encode("text", "UTF-8").cast("binary").alias("payload"),
        F.length(F.encode("text", "UTF-8")).cast("long").alias("n_bytes"),
    )


def extract_features(assets: DataFrame, decoder=None) -> DataFrame:
    """Arrow-batched feature extraction over binary payloads.

    ``mapInPandas`` streams record batches through Python once —
    payload bytes never round-trip row-at-a-time. At scale this is the
    pattern for any CPU-bound media op: batch in, batch out, stateless,
    so Spark can fuse it after the scan with no extra shuffle.

    ``decoder``: ``bytes -> (width, height)``; defaults to
    ``decode_fake``. Pass ``decode_real`` on a cluster with image
    libraries installed — the decoder reference is pickled into the
    UDF and resolved per worker process.
    """
    decode = decoder if decoder is not None else decode_fake

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            dims = pdf["payload"].map(lambda b: decode(bytes(b)))
            yield pd.DataFrame(
                {
                    "asset_id": pdf["asset_id"],
                    "media_type": pdf["media_type"],
                    "n_bytes": pdf["n_bytes"],
                    "width": dims.map(lambda d: d[0]).astype("int32"),
                    "height": dims.map(lambda d: d[1]).astype("int32"),
                    "sha256": pdf["payload"].map(
                        lambda b: hashlib.sha256(bytes(b)).hexdigest()
                    ),
                }
            )

    return assets.mapInPandas(batches, schema=FEATURE_SCHEMA)


def resize_assets(assets: DataFrame, target_w: int, target_h: int) -> DataFrame:
    """Resize pipeline stage: binary in, binary out, Arrow-batched.
    Output keeps asset identity plus the resized payload and its size.
    """
    from pyspark.sql.types import StructType, StructField

    schema = StructType(
        [
            StructField("asset_id", LongType(), False),
            StructField("payload", BinaryType(), False),
            StructField("n_bytes", LongType(), False),
        ]
    )

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            resized = pdf["payload"].map(
                lambda b: resize_fake(bytes(b), target_w, target_h)
            )
            yield pd.DataFrame(
                {
                    "asset_id": pdf["asset_id"],
                    "payload": resized,
                    "n_bytes": resized.map(len).astype("int64"),
                }
            )

    return assets.mapInPandas(batches, schema=schema)


def sample_frames(assets: DataFrame, n_frames: int = 4) -> DataFrame:
    """Frame-sampling stage: one binary 'video' in, one row per
    sampled frame out (asset_id, frame_idx, frame) — the explode-
    after-Python shape a real pyav sampler would use."""
    from pyspark.sql.types import IntegerType, StructType, StructField

    schema = StructType(
        [
            StructField("asset_id", LongType(), False),
            StructField("frame_idx", IntegerType(), False),
            StructField("frame", BinaryType(), False),
        ]
    )

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out = {"asset_id": [], "frame_idx": [], "frame": []}
            for aid, payload in zip(pdf["asset_id"], pdf["payload"]):
                for i, fr in enumerate(frame_sample_fake(bytes(payload), n_frames)):
                    out["asset_id"].append(aid)
                    out["frame_idx"].append(i)
                    out["frame"].append(fr)
            yield pd.DataFrame(out)

    return assets.mapInPandas(batches, schema=schema)


AUDIO_FEATURE_SCHEMA = StructType(
    [
        StructField("asset_id", LongType(), False),
        StructField("sample_rate", IntegerType(), True),
        StructField("channels", IntegerType(), True),
        StructField("bits_per_sample", IntegerType(), True),
        StructField("n_frames", LongType(), True),
        StructField("duration_ms", LongType(), True),
        StructField("rms", LongType(), True),
    ]
)


def extract_audio_features(assets: DataFrame) -> DataFrame:
    """REAL audio feature extraction for RIFF/WAVE PCM payloads —
    header metadata via decode_wav_meta plus an integer RMS over the
    16-bit samples (numpy frombuffer; exact integer sqrt floor, so the
    value is engine-independent). Arrow-batched mapInPandas, same
    scale shape as extract_features; malformed payloads yield NULL
    features instead of failing the batch (corpus ingest reality)."""
    import math

    import numpy as np

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = {k.name: [] for k in AUDIO_FEATURE_SCHEMA.fields}
            for aid, payload in zip(pdf["asset_id"], pdf["payload"]):
                rows["asset_id"].append(aid)
                try:
                    if payload is None:
                        raise ValueError("NULL payload")
                    b = bytes(payload)
                    meta = decode_wav_meta(b)
                    # RMS only where it is EXACT: canonical tightly-
                    # packed 16-bit frames (block_align == 2*channels
                    # — padded frames would silently mix padding bytes
                    # into the samples) and few enough samples that
                    # the int64 square-sum cannot overflow (squares
                    # are <= 2^30, so <= 2^32 samples is safe).
                    # Anything else: NULL rms, metadata kept.
                    rms = None
                    usable = meta["n_frames"] * meta["channels"]
                    if (
                        meta["bits_per_sample"] == 16
                        and meta["_block_align"] == 2 * meta["channels"]
                        and usable <= 1 << 32
                    ):
                        pcm = np.frombuffer(
                            b,
                            dtype="<i2",
                            count=usable,
                            offset=meta["data_offset"],
                        ).astype(np.int64)
                        rms = (
                            math.isqrt(int((pcm * pcm).sum()) // len(pcm))
                            if len(pcm)
                            else 0
                        )
                    rows["sample_rate"].append(meta["sample_rate"])
                    rows["channels"].append(meta["channels"])
                    rows["bits_per_sample"].append(meta["bits_per_sample"])
                    rows["n_frames"].append(meta["n_frames"])
                    rows["duration_ms"].append(meta["duration_ms"])
                    rows["rms"].append(rms)
                except (ValueError, IndexError, TypeError):
                    for k in (
                        "sample_rate",
                        "channels",
                        "bits_per_sample",
                        "n_frames",
                        "duration_ms",
                        "rms",
                    ):
                        rows[k].append(None)
            yield pd.DataFrame(rows)

    return assets.mapInPandas(batches, schema=AUDIO_FEATURE_SCHEMA)
