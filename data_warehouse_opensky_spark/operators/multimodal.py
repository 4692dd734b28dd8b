"""Multimodal column plumbing (north-star T3.3).

Images/audio/video are opaque `binary` columns with typed metadata.
The Spark-side plumbing — schema, Arrow batch shape, mapInPandas
signatures, partitioning — is real and tested; the actual media
decode is stubbed: `decode_image_meta` substitutes a deterministic
fake decode so the pipeline (and its SQL oracle) is end-to-end
verifiable.

Why mapInPandas: decode is inherently Python-library work, so the
correct Spark shape is Arrow-batched pandas iteration (10-100× over
row-at-a-time UDFs), one batch per input split, output schema declared
up front. At 100 TB: binary payloads dominate scan bytes — partition
the table so `maxPartitionBytes` bounds Arrow batch memory, and prune
the binary column out of every query that only needs metadata.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

#: Typed metadata contract for binary media columns.
MEDIA_META_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("n_bytes", T.LongType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("channels", T.IntegerType()),
    ]
)

FRAME_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("frame_idx", T.IntegerType()),
        T.StructField("frame_offset", T.LongType()),
        T.StructField("frame_bytes", T.LongType()),
    ]
)

FRAME_SIZE = 500  # bytes per fake "frame"
MAX_FRAMES = 6


def attach_binary(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Materialize an opaque binary payload column + typed metadata.

    In production this column arrives from the source (image bytes);
    here we derive it from text (utf-8) so the pipeline is testable.
    """
    return docs.withColumn("payload", F.encode(F.col(text_col), "utf-8")).withColumn(
        "payload_md5", F.md5(F.col("payload"))
    )


def decode_image_meta(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """mapInPandas: binary payload → typed image metadata (Arrow batches)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            n_bytes = pdf["payload"].map(len)
            yield pd.DataFrame(
                {
                    "doc_id": pdf[id_col],
                    "n_bytes": n_bytes.astype("int64"),
                    "width": ((n_bytes * 7) % 640 + 16).astype("int32"),
                    "height": ((n_bytes * 13) % 480 + 16).astype("int32"),
                    "channels": 3,
                }
            )

    return df.select(id_col, "payload").mapInPandas(run, MEDIA_META_SCHEMA)


def frame_sample(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """mapInPandas: sample fake "frames" from each payload (1 row per
    frame) — the video-frame-sampling batch shape: an exploding
    transform whose output row count differs from its input's."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, payload in zip(pdf[id_col], pdf["payload"]):
                n_bytes = len(payload)
                n_frames = min(n_bytes // FRAME_SIZE + 1, MAX_FRAMES)
                for i in range(n_frames):
                    off = i * FRAME_SIZE
                    rows.append(
                        (doc_id, i, off, min(FRAME_SIZE, n_bytes - off))
                    )
            yield pd.DataFrame(
                rows, columns=["doc_id", "frame_idx", "frame_offset", "frame_bytes"]
            ).astype(
                {
                    "doc_id": "int64",
                    "frame_idx": "int32",
                    "frame_offset": "int64",
                    "frame_bytes": "int64",
                }
            )

    return df.select(id_col, "payload").mapInPandas(run, FRAME_SCHEMA)


RESIZE_W, RESIZE_H, RESIZE_C = 64, 64, 3
FEATURE_DIM = 8
AUDIO_BYTES_PER_MS = 16  # fake 16 bytes/ms ("128 kbit/s")

RESIZED_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("resized", T.BinaryType()),
        T.StructField("out_bytes", T.LongType()),
        T.StructField("out_width", T.IntegerType()),
        T.StructField("out_height", T.IntegerType()),
    ]
)

FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("features", T.ArrayType(T.DoubleType())),
    ]
)

AUDIO_META_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("n_bytes", T.LongType()),
        T.StructField("duration_ms", T.LongType()),
        T.StructField("n_chunks", T.LongType()),
    ]
)


def resize_image(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """mapInPandas: binary → binary transform (the resize batch shape).

    Real body would be PIL `img.resize((W, H))`; the fake keeps the
    contract honest — output is a NEW binary column of exactly
    W·H·C bytes (payload truncated / zero-padded), so downstream
    schema, memory sizing, and Arrow binary round-trip are all real.
    """
    target = RESIZE_W * RESIZE_H * RESIZE_C

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            resized = [
                bytes(p[:target]).ljust(target, b"\0") for p in pdf["payload"]
            ]
            yield pd.DataFrame(
                {
                    "doc_id": pdf[id_col].astype("int64"),
                    "resized": resized,
                    "out_bytes": target,
                    "out_width": RESIZE_W,
                    "out_height": RESIZE_H,
                }
            ).astype({"out_bytes": "int64", "out_width": "int32", "out_height": "int32"})

    return df.select(id_col, "payload").mapInPandas(run, RESIZED_SCHEMA)


def extract_features(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """mapInPandas: binary → fixed-dim feature vector (feature-extract
    batch shape; real body = a vision/audio model forward pass).

    Fake features are exact grid values (k/1000.0) so the SQL oracle
    reproduces them bit-for-bit.
    """

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            n_bytes = pdf["payload"].map(len).astype("int64")
            feats = [
                [((int(n) * (j + 13)) % 1000) / 1000.0 for j in range(FEATURE_DIM)]
                for n in n_bytes
            ]
            yield pd.DataFrame(
                {"doc_id": pdf[id_col].astype("int64"), "features": feats}
            )

    return df.select(id_col, "payload").mapInPandas(run, FEATURE_SCHEMA)


def decode_audio_meta(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """mapInPandas: binary → audio metadata (duration, chunk count).

    Real body = soundfile/librosa header parse — STUB; duration is
    derived deterministically from payload length.
    """

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            n_bytes = pdf["payload"].map(len).astype("int64")
            duration = n_bytes // AUDIO_BYTES_PER_MS
            yield pd.DataFrame(
                {
                    "doc_id": pdf[id_col].astype("int64"),
                    "n_bytes": n_bytes,
                    "duration_ms": duration.astype("int64"),
                    "n_chunks": (duration // 1000 + 1).astype("int64"),
                }
            )

    return df.select(id_col, "payload").mapInPandas(run, AUDIO_META_SCHEMA)
