"""Multimodal (image/audio/video) column plumbing (SURVEY.md training-data
ops; reference analogue: the PDF/binary Bronze path,
``pipeline/ingestion/drivers.py:33-50`` + ``manager.py:17-47``).

Design for 100 TB:
- media travels as an opaque ``binary`` column plus a typed metadata
  struct (modality, mime, width/height/duration, sha256) — never decoded
  into the row until a stage needs pixels/samples;
- decode / feature-extract / resize / frame-sample run as Arrow-batched
  ``mapInPandas`` stages: each executor core pulls one Arrow batch of
  binary payloads, decodes in-process, and emits fixed-schema rows — no
  driver involvement, no Python-per-row overhead;
- the decode itself is PLUGGABLE. The container has no image/audio codecs,
  so the default codec is a deterministic fake (shape + checksum-derived
  features) and a real codec (PIL/ffmpeg/torchaudio) can be dropped in by
  passing ``decode_fn``; the Spark-side contract (schemas, batching,
  partitioning) is identical and is what's tested.
"""

from __future__ import annotations

import hashlib
from collections.abc import Callable, Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

MEDIA_METADATA_SCHEMA = StructType(
    [
        StructField("modality", StringType(), False),  # image|audio|video
        StructField("mime", StringType(), True),
        StructField("width", IntegerType(), True),
        StructField("height", IntegerType(), True),
        StructField("duration_ms", LongType(), True),
        StructField("sha256", StringType(), True),
    ]
)

MEDIA_SCHEMA = StructType(
    [
        StructField("media_id", StringType(), False),
        StructField("payload", BinaryType(), True),
        StructField("meta", MEDIA_METADATA_SCHEMA, True),
    ]
)

FEATURE_SCHEMA = StructType(
    [
        StructField("media_id", StringType(), False),
        StructField("modality", StringType(), True),
        StructField("n_bytes", LongType(), True),
        StructField("feature", ArrayType(DoubleType()), True),
    ]
)

FRAME_SCHEMA = StructType(
    [
        StructField("media_id", StringType(), False),
        StructField("frame_idx", IntegerType(), False),
        StructField("frame", BinaryType(), True),
    ]
)


def attach_media_metadata(
    df: DataFrame, payload_col: str = "payload", modality: str = "image",
    mime: str | None = None,
) -> DataFrame:
    """Wrap a raw binary column with the typed metadata struct. The sha256
    is the content-addressed id of the Bronze pattern (manager.py:17-21);
    width/height/duration stay NULL until a decode stage fills them."""
    p = F.col(payload_col)
    return df.withColumn(
        "meta",
        F.struct(
            F.lit(modality).alias("modality"),
            F.lit(mime).cast("string").alias("mime"),
            F.lit(None).cast("int").alias("width"),
            F.lit(None).cast("int").alias("height"),
            F.lit(None).cast("long").alias("duration_ms"),
            F.sha2(p, 256).alias("sha256"),
        ),
    )


def fake_decode(payload: bytes | None, dim: int = 8) -> np.ndarray | None:
    """Deterministic stand-in for a real codec: features derive from the
    payload's sha256 digest, so every engine/run agrees. Swap for a real
    ``decode_fn`` (PIL → pixel stats, torchaudio → spectrogram…) in
    production."""
    if payload is None:
        return None
    digest = hashlib.sha256(payload).digest()
    # dim doubles in [0, 1) from consecutive digest uint16s
    u = np.frombuffer((digest * ((dim * 2) // len(digest) + 1))[: dim * 2],
                      dtype=np.uint16).astype(np.float64)
    return np.round(u / 65536.0, 6)


def extract_features(
    media: DataFrame,
    decode_fn: Callable[[bytes | None], np.ndarray | None] | None = None,
    batch_hint: int | None = None,
) -> DataFrame:
    """mapInPandas feature extraction: binary payload → fixed-size float
    vector. One Arrow batch in, one out; schema is explicit so the plan
    never depends on what the codec returns."""
    decode = decode_fn or fake_decode

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = [
                None if v is None else list(decode(bytes(v)))
                for v in pdf["payload"]
            ]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "modality": [
                        None if m is None else m["modality"] for m in pdf["meta"]
                    ]
                    if "meta" in pdf
                    else None,
                    "n_bytes": [
                        None if v is None else len(bytes(v)) for v in pdf["payload"]
                    ],
                    "feature": feats,
                }
            )

    return media.mapInPandas(run, schema=FEATURE_SCHEMA)


def resize_images(
    media: DataFrame,
    width: int,
    height: int,
    resize_fn: Callable[[bytes, int, int], bytes] | None = None,
) -> DataFrame:
    """mapInPandas resize: payload → payload' with meta.width/height set.

    Without a real codec the default raises NotImplementedError at
    EXECUTION time (the plan itself builds fine — schema/partitioning are
    real); pass ``resize_fn`` (e.g. PIL thumbnail → bytes) to run it.
    """

    def _stub(payload: bytes, w: int, h: int) -> bytes:
        raise NotImplementedError(
            "no image codec in this environment — supply resize_fn"
        )

    fn = resize_fn or _stub

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = pdf.copy()
            out["payload"] = [
                None if v is None else fn(bytes(v), width, height)
                for v in pdf["payload"]
            ]
            meta = []
            for m in pdf["meta"]:
                m = dict(m) if m is not None else {}
                m["width"], m["height"] = width, height
                meta.append(m)
            out["meta"] = meta
            yield out[["media_id", "payload", "meta"]]

    return media.mapInPandas(run, schema=MEDIA_SCHEMA)


def sample_frames(
    media: DataFrame,
    every_n_bytes: int = 1024,
    frame_bytes: int = 64,
    max_frames: int = 16,
) -> DataFrame:
    """Deterministic frame sampling: one "frame" = a fixed-size byte window
    every N bytes (a real implementation samples video keyframes via
    ffmpeg; the Spark contract — one input row fans out to ≤max_frames
    FRAME_SCHEMA rows inside mapInPandas — is identical)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, idxs, frames = [], [], []
            for mid, v in zip(pdf["media_id"], pdf["payload"]):
                if v is None:
                    continue
                raw = bytes(v)
                for i, off in enumerate(range(0, len(raw), every_n_bytes)):
                    if i >= max_frames:
                        break
                    ids.append(mid)
                    idxs.append(i)
                    frames.append(raw[off : off + frame_bytes])
            yield pd.DataFrame(
                {"media_id": ids, "frame_idx": idxs, "frame": frames}
            )

    return media.mapInPandas(run, schema=FRAME_SCHEMA)

