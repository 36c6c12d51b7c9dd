"""Multimodal column plumbing: image/audio/video as opaque binary + metadata.

For a 100 TB training-data pipeline, media payloads ride in the table as
``binary`` columns with a typed metadata struct, and every transform is an
Arrow-batched ``mapInPandas`` stage — identical plumbing to the HTML/PDF
extraction stage. Two decode paths:

  * ``decode_stub=True`` (default): a deterministic fake decoder
    (md5-derived dimensions + byte-histogram features, both
    SQL-reproducible — the q24 oracle recomputes them in DuckDB), so
    schema, partitioning, UDF signature and batch shape are gated even
    where no codec exists.
  * ``decode_stub=False``: REAL decoding for the formats pure
    stdlib+numpy can handle — PNG (zlib inflate + scanline unfilter),
    baseline+progressive JPEG (huffman + IDCT, kernel/jpeg.py), GIF,
    lossless WebP (VP8L, kernel/webp.py), uncompressed 24-bit
    BMP, and 16-bit PCM WAV (kernel/media.py; no PIL/ffmpeg needed) —
    emitting true dimensions / duration and luminance/amplitude
    histogram features; MP4 and lossy-VP8 WebP get true header
    dimensions (box-tree / keyframe probe) with null features. Formats
    that genuinely need an external codec (HEIC/AVIF/...) sniff as
    'unknown' (or isolate via
    ValueError) and yield a null-feature row (per-payload isolation,
    same contract as the extraction kernel); that row is exactly where
    PIL/ffmpeg would plug in.
"""

from __future__ import annotations

import hashlib
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T

MEDIA_META_TYPE = T.StructType(
    [
        T.StructField("media_type", T.StringType()),   # image|audio|video
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("duration_ms", T.LongType()),
        T.StructField("codec", T.StringType()),
    ]
)

FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("media_type", T.StringType()),
        T.StructField("n_bytes", T.LongType()),
        T.StructField("content_hash", T.StringType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("duration_ms", T.LongType()),
        T.StructField("features", T.ArrayType(T.FloatType())),
    ]
)

# single source of the fixed feature width, shared by the stub and the
# real-decode paths (a silent mismatch would desynchronize q24's f00..f15
# flatten from the real features) — defined next to the real codecs
from document_ai_spark.kernel.media import N_FEATURES  # noqa: E402


def _fake_decode(payload: bytes) -> tuple:
    """Deterministic stand-in for a real image decode: dimensions derived
    from the content hash (md5 — SQL-expressible, so the q24 oracle can
    recompute them), features = normalized 16-bin byte histogram (bin =
    high nibble, i.e. counts of odd-position hex digits — also
    SQL-expressible)."""
    h = hashlib.md5(payload).digest()
    width = 64 + h[0] % 192
    height = 64 + h[1] % 192
    if payload:
        arr = np.frombuffer(payload, dtype=np.uint8)
        hist, _ = np.histogram(arr, bins=N_FEATURES, range=(0, 256))
        feats = (hist / max(1, arr.size)).astype(np.float32)
    else:
        feats = np.zeros(N_FEATURES, dtype=np.float32)
    return width, height, [float(x) for x in feats]


def media_features(
    df: DataFrame,
    id_col: str = "media_id",
    payload_col: str = "payload",
    media_type: str = "image",
    decode_stub: bool = True,
) -> DataFrame:
    """payload binary -> feature rows via mapInPandas (Arrow batches).

    ``decode_stub=False`` runs the real stdlib codecs (see module
    docstring); the Spark-side plumbing (pruned input, batch iterator,
    fixed output schema) is identical on both paths."""

    def _real_decode(b: bytes) -> tuple:
        """-> (kind, width, height, duration_ms, features) with
        per-payload isolation: corrupt/unknown media yields null fields,
        never an exception out of the batch."""
        from document_ai_spark.kernel import media as M

        kind = M.sniff_media(b)
        try:
            if kind == "png":
                w, h, gray = M.decode_png(b)
                return kind, w, h, 0, M.image_features(gray)
            if kind == "jpeg":
                w, h, gray = M.decode_jpeg(b)
                return kind, w, h, 0, M.image_features(gray)
            if kind == "gif":
                w, h, gray = M.decode_gif(b)
                return kind, w, h, 0, M.image_features(gray)
            if kind == "bmp":
                w, h, gray = M.decode_bmp(b)
                return kind, w, h, 0, M.image_features(gray)
            if kind == "mp4":
                w, h, dur = M.probe_mp4(b)
                # metadata is REAL (box-tree probe); frame features need
                # an external codec -> None, the documented seam
                return kind, w, h, dur, None
            if kind == "webp":
                try:
                    w, h, gray = M.decode_webp(b)  # lossless: full decode
                    return kind, w, h, 0, M.image_features(gray)
                except ValueError:
                    # lossy VP8 / VP8X: true header dims, features behind
                    # the external-codec seam (the MP4 treatment)
                    w, h, _variant = M.probe_webp(b)
                    return kind, w, h, 0, None
            if kind == "wav":
                n, rate, samples = M.decode_wav(b)
                dur = (n * 1000) // max(1, rate)
                return kind, None, None, dur, M.audio_features(samples)
        except Exception:
            return kind, None, None, None, None
        return "unknown", None, None, None, None  # the external-codec seam

    def _batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            ids = pdf[id_col].tolist()
            payloads = pdf[payload_col].tolist()
            rows = {k: [] for k in
                    ("media_id", "media_type", "n_bytes", "content_hash",
                     "width", "height", "duration_ms", "features")}
            for mid, p in zip(ids, payloads):
                b = bytes(p) if p is not None else b""
                if decode_stub:
                    w, h, feats = _fake_decode(b)
                    kind, dur = media_type, 0
                else:
                    kind, w, h, dur, feats = _real_decode(b)
                rows["media_id"].append(mid)
                rows["media_type"].append(kind)
                rows["n_bytes"].append(len(b))
                rows["content_hash"].append(hashlib.md5(b).hexdigest())
                rows["width"].append(w)
                rows["height"].append(h)
                rows["duration_ms"].append(dur)
                rows["features"].append(feats)
            yield pd.DataFrame(rows)

    return df.select(id_col, payload_col).mapInPandas(_batches, schema=FEATURES_SCHEMA)
