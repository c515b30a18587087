"""Multimodal (image/audio/video) column processing.

Media items are opaque ``binary`` columns plus a typed metadata
struct — the layout a 100 TB training-data lake uses (content stays
in parquet/object storage; Spark moves bytes only through the
Arrow-batched Pandas UDF boundary, never row-at-a-time Python).

The *codec* step (actual JPEG/PNG/audio decode) is environment-
dependent: PIL / torchvision / ffmpeg are NOT installed in this
container, so decoding is STUBBED behind ``backend="fake"`` — a
deterministic md5-derived pseudo-decode with the same schema, batch
shape and partitioning as a real decoder. ``backend="pil"`` raises
``NotImplementedError`` until an image library is present; everything
Spark-side (schemas, ``mapInPandas`` iterator contract, Arrow batch
flow, partition sizing) is real and tested.

Feature extraction (byte histograms) is fully real — it needs no
codec and is the shape of every per-item featurizer: bytes in,
fixed-width vector out, one Arrow batch at a time.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

#: Typed metadata carried beside the raw bytes.
MEDIA_META_SCHEMA = T.StructType(
    [
        T.StructField("format", T.StringType(), True),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("sample_rate", T.IntegerType(), True),
        T.StructField("duration_ms", T.IntegerType(), True),
    ]
)

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("kind", T.StringType(), False),  # image|audio|video
        T.StructField("content", T.BinaryType(), True),
        T.StructField("meta", MEDIA_META_SCHEMA, True),
    ]
)

DECODED_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("kind", T.StringType(), False),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("n_bytes", T.IntegerType(), True),
        T.StructField("checksum", T.StringType(), True),
    ]
)

def media_from_documents(docs: DataFrame, kind: str = "image") -> DataFrame:
    """Build a media table from the ``documents`` fixture: the text
    bytes stand in for encoded content. Deterministic, engine-free —
    used by tests and the bench harness to exercise the binary path
    without real media fixtures."""
    return docs.select(
        F.col("doc_id").alias("media_id"),
        F.lit(kind).alias("kind"),
        F.encode("text", "UTF-8").alias("content"),
        F.struct(
            F.lit("fake").alias("format"),
            (F.length("text") % 640 + 1).cast("int").alias("width"),
            (F.length("text") % 480 + 1).cast("int").alias("height"),
            F.lit(16000).alias("sample_rate"),
            (F.length("text") * 40).cast("int").alias("duration_ms"),
        ).alias("meta"),
    )


def _fake_decode(content: bytes | None) -> tuple[int | None, int | None, int, str]:
    """Deterministic pseudo-decode: dimensions derived from the md5 of
    the bytes. Same contract as a real decoder (bytes -> dims +
    integrity checksum); replace with PIL/ffmpeg when available."""
    if content is None:
        return None, None, 0, ""
    digest = hashlib.md5(content).hexdigest()
    return (
        int(digest[:4], 16) % 4096 + 1,
        int(digest[4:8], 16) % 4096 + 1,
        len(content),
        digest,
    )


def decode_media(df: DataFrame, backend: str = "fake") -> DataFrame:
    """Decode every media item → ``DECODED_SCHEMA`` via mapInPandas.

    The iterator-of-batches contract keeps peak memory at one Arrow
    batch regardless of partition size — the property that matters
    when a partition holds gigabytes of media bytes.
    """
    if backend != "fake":
        raise NotImplementedError(
            f"backend {backend!r}: no media codec library in this "
            "environment — plug PIL/ffmpeg in here; the Spark-side "
            "plumbing is identical"
        )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for batch in batches:
            decoded = [_fake_decode(c) for c in batch["content"]]
            yield pd.DataFrame(
                {
                    "media_id": batch["media_id"].astype("int64"),
                    "kind": batch["kind"],
                    "width": pd.array([d[0] for d in decoded], dtype="Int32"),
                    "height": pd.array([d[1] for d in decoded], dtype="Int32"),
                    "n_bytes": pd.array([d[2] for d in decoded], dtype="Int32"),
                    "checksum": [d[3] for d in decoded],
                }
            )

    return df.mapInPandas(run, DECODED_SCHEMA)


def byte_histogram_features(df: DataFrame, bins: int = 16) -> DataFrame:
    """Real (non-stub) featurizer: normalized ``bins``-bucket byte
    histogram per item → ``(media_id, features array<double>)``.

    The universal featurizer shape: vectorized over one Arrow batch,
    no codec needed, output width fixed so downstream similarity
    search (ext.similarity) can consume it directly.
    """
    if 256 % bins:
        raise ValueError(f"bins must divide 256 evenly, got {bins}")
    out_schema = T.StructType(
        [
            T.StructField("media_id", T.LongType(), False),
            T.StructField("features", T.ArrayType(T.DoubleType()), True),
        ]
    )
    width = 256 // bins

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for batch in batches:
            feats = []
            for content in batch["content"]:
                if content is None or len(content) == 0:
                    feats.append([0.0] * bins)
                    continue
                # whole-buffer vectorized: one bincount per item, never a
                # per-byte Python loop (megabyte items stay C-speed)
                arr = np.frombuffer(content, dtype=np.uint8)
                counts = np.bincount(arr // width, minlength=bins)
                feats.append((counts / arr.size).tolist())
            yield pd.DataFrame(
                {"media_id": batch["media_id"].astype("int64"), "features": feats}
            )

    return df.mapInPandas(run, out_schema)
