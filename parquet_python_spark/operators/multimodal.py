"""Multimodal columns: image/audio/video as opaque `binary` + typed metadata.

The decode libraries (PIL/ffmpeg/librosa) are not in this container, so the
actual media decoding is stubbed — either behind NotImplementedError (real
codec path) or as a deterministic fake (for tests) — but the Spark-side
plumbing is real and exercised: schemas, Arrow batch shapes, mapInPandas
signatures, and partition-safe determinism all match what a production
decode would use.

Design for 100 TB: media blobs never shuffle — every operator here is a
narrow mapInPandas/built-in projection over the scan, so the only bytes that
move are the extracted features/metadata.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

FEATURE_DIM = 16

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("media_type", T.StringType(), False),
        T.StructField("payload", T.BinaryType(), False),
    ]
)

FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("media_type", T.StringType(), False),
        T.StructField("n_bytes", T.LongType(), False),
        T.StructField("features", T.ArrayType(T.DoubleType(), False), False),
    ]
)

FRAMES_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("frame_idx", T.IntegerType(), False),
        T.StructField("frame_bytes", T.BinaryType(), False),
    ]
)


def with_media_column(docs: DataFrame, media_type: str = "image") -> DataFrame:
    """Attach an opaque binary payload column (here: the utf-8 text bytes as
    a deterministic stand-in for real media; in production this is the raw
    image/audio blob read from object storage)."""
    return docs.select(
        "doc_id",
        F.lit(media_type).alias("media_type"),
        F.encode("text", "utf-8").alias("payload"),
    )


def media_meta(media: DataFrame) -> DataFrame:
    """Typed metadata over opaque blobs — pure JVM built-ins (length/md5),
    no decode: the cheap first pass a 100 TB media pipeline runs to
    partition/filter before any expensive decoding."""
    return media.select(
        "doc_id",
        "media_type",
        F.octet_length("payload").cast("long").alias("n_bytes"),
        F.md5("payload").alias("content_md5"),
    )


def decode_image(payload: bytes) -> "np.ndarray":
    """Real image decode (PIL/libjpeg) — STUB: decode libs absent here."""
    raise NotImplementedError(
        "media decode libraries are not available in this environment; "
        "use fake_decode_features for the deterministic test path"
    )


def fake_decode_features(buf: np.ndarray, dim: int = FEATURE_DIM) -> np.ndarray:
    """Deterministic stand-in for decode+feature-extract: a byte-value
    histogram folded to `dim` buckets, normalized.  Pure-numpy over the raw
    bytes, so tests exercise the exact batch shapes a real extractor sees."""
    if len(buf) == 0:
        return np.zeros(dim, dtype=np.float64)
    hist = np.bincount(buf % dim, minlength=dim).astype(np.float64)
    return hist / hist.sum()


def extract_features(media: DataFrame, use_stub: bool = True) -> DataFrame:
    """Decode + feature-extract via mapInPandas (Arrow-batched; the real
    extractor drops in by replacing fake_decode_features with decode_image +
    a model forward pass — signature and schema unchanged)."""

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = []
            for payload in pdf["payload"]:
                buf = np.frombuffer(payload or b"", dtype=np.uint8)
                if use_stub:
                    feats.append(fake_decode_features(buf))
                else:
                    feats.append(decode_image(bytes(payload)))
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "media_type": pdf["media_type"],
                    "n_bytes": pdf["payload"].map(len).astype("int64"),
                    "features": feats,
                }
            )

    return media.mapInPandas(extract, schema=FEATURES_SCHEMA)


def frame_sample(media: DataFrame, every_n_bytes: int = 64, frame_len: int = 16) -> DataFrame:
    """Frame sampling over opaque video-ish blobs: emit one row per sampled
    frame (here: fixed-stride byte windows; a real sampler seeks keyframes).
    One-to-many mapInPandas — the Spark shape of video frame extraction."""

    def sample(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, idxs, frames = [], [], []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                b = bytes(payload or b"")
                for k, off in enumerate(range(0, len(b), every_n_bytes)):
                    ids.append(doc_id)
                    idxs.append(k)
                    frames.append(b[off : off + frame_len])
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(ids, dtype="int64"),
                    "frame_idx": pd.Series(idxs, dtype="int32"),
                    "frame_bytes": frames,
                }
            )

    return media.mapInPandas(sample, schema=FRAMES_SCHEMA)

