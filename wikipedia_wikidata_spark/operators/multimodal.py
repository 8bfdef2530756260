"""Multimodal columns: opaque binary payloads + typed metadata, processed by
Arrow-batched mapInPandas (the Spark-side plumbing is real and tested; the
actual image decode is STUBBED — no imaging libs in this container).

media spans (kind='media', media_ref='img://<hash>') become a media table with
a deterministic fake binary payload; ``media_features`` runs a batched
"decode + feature extract" over it.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType, FloatType, IntegerType, StringType, StructField,
    StructType,
)

FEATURE_DIM = 8

FEATURES_SCHEMA = StructType([
    StructField("doc_id", StringType()),
    StructField("media_ref", StringType()),
    StructField("width", IntegerType()),
    StructField("height", IntegerType()),
    StructField("n_frames", IntegerType()),
    StructField("feature", ArrayType(FloatType())),
])


def media_table(docs: DataFrame) -> DataFrame:
    """Media spans -> (doc_id, media_ref, caption, payload binary).

    Payload is a deterministic fake: md5(media_ref) digest bytes — stands in
    for real image bytes so partitioning/batching behavior is realistic."""
    s = docs.select("doc_id", F.explode("spans").alias("s")).filter(
        F.col("s.kind") == "media"
    )
    return s.select(
        "doc_id",
        F.col("s.media_ref").alias("media_ref"),
        F.col("s.text").alias("caption"),
        F.unhex(F.md5(F.col("s.media_ref").cast("binary"))).alias("payload"),
    )


def media_features(media: DataFrame) -> DataFrame:
    """Arrow-batched decode + feature extraction over binary payloads.

    The stub derives (width, height, n_frames, 8-dim feature) from the payload
    bytes deterministically; a real decoder would replace _decode_batch."""

    def _decode_batch(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            payloads = pdf["payload"].to_numpy()
            b = np.frombuffer(b"".join(payloads), dtype=np.uint8).reshape(len(pdf), 16)
            out = pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "media_ref": pdf["media_ref"],
                    "width": (256 + b[:, 0].astype(np.int32) * 4),
                    "height": (256 + b[:, 1].astype(np.int32) * 4),
                    "n_frames": (1 + (b[:, 2].astype(np.int32) % 8)),
                    "feature": [
                        (row / 255.0).astype(np.float32).tolist()
                        for row in b[:, :FEATURE_DIM]
                    ],
                }
            )
            yield out

    return media.mapInPandas(_decode_batch, FEATURES_SCHEMA)


RESIZE_SCHEMA = StructType([
    StructField("doc_id", StringType()),
    StructField("media_ref", StringType()),
    StructField("width", IntegerType()),
    StructField("height", IntegerType()),
    StructField("resized_w", IntegerType()),
    StructField("resized_h", IntegerType()),
    StructField("resized_md5", StringType()),
])

RESIZE_BOX = 128


def media_resize(media: DataFrame) -> DataFrame:
    """Arrow-batched 'resize': fit each media item into a RESIZE_BOX square
    preserving aspect ratio (integer arithmetic only, so the DuckDB oracle
    matches exactly). The pixel work is stubbed (md5 of ref+dims stands in
    for resampled bytes); the Spark-side batching/schema is real."""

    def _resize_batch(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            payloads = pdf["payload"].to_numpy()
            b = np.frombuffer(b"".join(payloads), dtype=np.uint8).reshape(len(pdf), 16)
            w = 256 + b[:, 0].astype(np.int64) * 4
            h = 256 + b[:, 1].astype(np.int64) * 4
            mx = np.maximum(w, h)
            rw = (w * RESIZE_BOX) // mx
            rh = (h * RESIZE_BOX) // mx
            md5s = [
                hashlib.md5(f"{r}:{a}x{c}".encode()).hexdigest()
                for r, a, c in zip(pdf["media_ref"], rw, rh)
            ]
            yield pd.DataFrame({
                "doc_id": pdf["doc_id"],
                "media_ref": pdf["media_ref"],
                "width": w.astype(np.int32),
                "height": h.astype(np.int32),
                "resized_w": rw.astype(np.int32),
                "resized_h": rh.astype(np.int32),
                "resized_md5": md5s,
            })

    return media.mapInPandas(_resize_batch, RESIZE_SCHEMA)


FRAME_SCHEMA = StructType([
    StructField("doc_id", StringType()),
    StructField("media_ref", StringType()),
    StructField("frame_idx", IntegerType()),
    StructField("frame_md5", StringType()),
])


FRAME_STEP = 2


def media_frame_sample(media: DataFrame) -> DataFrame:
    """Row-expanding mapInPandas (UDTF shape): every FRAME_STEP-th frame of each
    media item becomes its own row. Frame count comes from the stub decode;
    frame bytes are stubbed as md5(ref:idx)."""

    def _frames_batch(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            payloads = pdf["payload"].to_numpy()
            b = np.frombuffer(b"".join(payloads), dtype=np.uint8).reshape(len(pdf), 16)
            n_frames = 1 + (b[:, 2].astype(np.int64) % 8)
            idxs = [np.arange(0, n, FRAME_STEP) for n in n_frames]
            cnt = np.array([len(i) for i in idxs])
            rows = np.repeat(np.arange(len(pdf)), cnt)
            flat_idx = np.concatenate(idxs) if len(idxs) else np.array([], dtype=np.int64)
            refs = pdf["media_ref"].to_numpy()[rows]
            yield pd.DataFrame({
                "doc_id": pdf["doc_id"].to_numpy()[rows],
                "media_ref": refs,
                "frame_idx": flat_idx.astype(np.int32),
                "frame_md5": [
                    hashlib.md5(f"{r}:{i}".encode()).hexdigest()
                    for r, i in zip(refs, flat_idx)
                ],
            })

    return media.mapInPandas(_frames_batch, FRAME_SCHEMA)


def fake_decode_reference(media_ref: str) -> tuple[int, int, int, list[float]]:
    """Python-side oracle for the stub decode (used by tests)."""
    d = hashlib.md5(media_ref.encode()).digest()
    b = list(d)
    return (
        256 + b[0] * 4,
        256 + b[1] * 4,
        1 + b[2] % 8,
        [np.float32(x / 255.0) for x in b[:FEATURE_DIM]],
    )
