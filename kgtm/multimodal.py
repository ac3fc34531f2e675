"""Multimodal column plumbing: opaque binary media + typed metadata.

Images/audio/video ride as `binary` columns with a metadata struct; decode /
feature-extraction / resize / frame-sampling run as Arrow-batched
`mapInPandas` stages. IMAGE decode is REAL when PIL is importable
(grayscale → 4x4 → normalized intensities) and falls back to a
loudly-labeled deterministic stub otherwise (this container ships no codec
libraries); `backend="pil"` makes the real path mandatory, `backend="stub"`
forces the fake. Audio/video decode remains stubbed pending
torchaudio/ffmpeg. Either way the Spark-side plumbing — schema, batching,
partition flow — is identical and tested (tests/test_dataops.py ships a
hand-rolled 2-asset BMP fixture exercising whichever branch the
environment provides).
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    FloatType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

MEDIA_SCHEMA = StructType(
    [
        StructField("asset_id", LongType(), False),
        StructField("media_type", StringType(), False),  # image|audio|video
        StructField("content", BinaryType(), True),
        StructField("meta_width", IntegerType(), True),
        StructField("meta_height", IntegerType(), True),
        StructField("meta_duration_ms", IntegerType(), True),
    ]
)

FEATURE_SCHEMA = StructType(
    [
        StructField("asset_id", LongType(), False),
        StructField("media_type", StringType(), False),
        StructField("n_bytes", LongType(), True),
        StructField("content_digest", StringType(), True),
        StructField("features", ArrayType(FloatType()), True),
    ]
)

N_FEATURES = 16


def _decode_image_pil(content: bytes) -> np.ndarray | None:
    """REAL image decode when PIL is importable: grayscale → 4x4 resize →
    L1-normalized pixel intensities (the same 16-feature shape contract as
    the stub). Returns None when PIL is missing OR the bytes are not a
    decodable image (PIL raises OSError — UnidentifiedImageError is one —
    or ValueError) — the caller falls back to the stub, so the pipeline is
    environment-portable: real features where codecs exist, deterministic
    fakes where they don't. Any other error propagates."""
    import io

    try:
        from PIL import Image  # optional dependency, absent in the sandbox
    except ImportError:
        return None
    try:
        with Image.open(io.BytesIO(content)) as im:
            px = np.asarray(
                im.convert("L").resize((4, 4)), dtype=np.float32
            ).ravel()
    except (OSError, ValueError):
        return None
    return px / max(float(px.sum()), 1.0)


def _decode_and_featurize(
    content: bytes, media_type: str, backend: str = "auto"
) -> np.ndarray:
    """Decode + featurize one asset.

    ``backend``:
      - "auto" (default): real PIL decode for image rows when PIL is
        importable and the bytes parse; deterministic stub otherwise.
      - "pil": real decode REQUIRED — raises on missing PIL/undecodable
        bytes instead of silently stubbing (pipelines that must never
        train on fake features).
      - "stub": always the deterministic fake (tests of the stub contract).

    The stub is a 16-bin byte histogram, L1-normalized — keeps every
    downstream contract (shape, dtype, determinism) honest without codecs.
    """
    if content is None or len(content) == 0:
        return np.zeros(N_FEATURES, dtype=np.float32)
    if backend != "stub" and media_type == "image":
        real = _decode_image_pil(bytes(content))
        if real is not None:
            return real
        if backend == "pil":
            raise ValueError(
                "backend='pil' requires PIL and decodable image bytes"
            )
    # <<DECODE STUB>> — audio/video real decode still needs torchaudio/ffmpeg
    arr = np.frombuffer(content, dtype=np.uint8)
    hist = np.bincount(arr >> 4, minlength=N_FEATURES).astype(np.float32)
    return hist / max(hist.sum(), 1.0)


def extract_features(media: DataFrame, backend: str = "auto") -> DataFrame:
    """mapInPandas feature extraction — one Arrow batch in, one out."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = [
                _decode_and_featurize(c, m, backend).tolist()
                for c, m in zip(pdf["content"], pdf["media_type"])
            ]
            yield pd.DataFrame(
                {
                    "asset_id": pdf["asset_id"],
                    "media_type": pdf["media_type"],
                    "n_bytes": [len(c) if c is not None else 0 for c in pdf["content"]],
                    "content_digest": [
                        hashlib.md5(c).hexdigest() if c else None for c in pdf["content"]
                    ],
                    "features": feats,
                }
            )

    return media.mapInPandas(run, FEATURE_SCHEMA)


def sample_frames(
    media: DataFrame, every_ms: int = 1000
) -> DataFrame:
    """Frame-sampling plumbing for video rows: one output row per sampled
    frame offset (decode stubbed — frame content is the sliced byte window).

    Pure DataFrame shape: explode a generated offset sequence; at scale the
    fan-out stays partition-local (no shuffle)."""
    video = media.filter(F.col("media_type") == "video")
    offsets = F.sequence(
        F.lit(0),
        F.greatest(F.coalesce(F.col("meta_duration_ms"), F.lit(0)) - 1, F.lit(0)),
        F.lit(every_ms),
    )
    return video.select(
        "asset_id",
        F.explode(offsets).alias("frame_ms"),
        F.length("content").alias("n_bytes"),
    )


def synth_media_df(spark, documents: DataFrame) -> DataFrame:
    """Deterministic media table derived from document text bytes (test rig)."""
    return documents.select(
        F.col("doc_id").alias("asset_id"),
        F.element_at(
            F.array(F.lit("image"), F.lit("audio"), F.lit("video")),
            (F.pmod(F.col("doc_id"), F.lit(3)) + 1).cast("int"),
        ).alias("media_type"),
        F.encode(F.col("text"), "utf-8").alias("content"),
        F.lit(64).alias("meta_width"),
        F.lit(64).alias("meta_height"),
        (F.pmod(F.col("doc_id"), F.lit(5)) * 1000 + 500).cast("int").alias("meta_duration_ms"),
    )
