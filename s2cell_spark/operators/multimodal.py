"""Multimodal column plumbing: opaque binary payloads + typed metadata.

Image/audio/video payloads ride as ``binary`` columns with a metadata
struct; feature extraction runs as a ``mapInArrow`` stage over Arrow
record batches and frame sampling is a native explode. There is no media
decoder (no image/audio libraries are installed): features come from a
deterministic payload-hash featurizer, and every row says so in its
``decoded = "stub"`` column. Everything Spark-side — schema, batch
shape, partitioning, UDF signatures — is real and tested; a real
decoder replaces :func:`deterministic_features_batch` in
:func:`extract_features`.

Pattern at 100 TB: payload tables are wide; always project (key, media,
meta) only, repartition by size-balanced key ranges before the Python
stage so Arrow batches are uniform, and keep decoded features narrow.
"""

from __future__ import annotations

import hashlib
from typing import Iterator

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from s2cell_spark.functions.udfs import numpy_to_arrow


def attach_fake_media(docs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Deterministic synthetic media column: payload = utf-8 text bytes,
    metadata derived from doc_id (pure SQL). Stands in for a real WARC
    media sidecar so the pipeline shape is exercised end-to-end."""
    return docs.select(
        F.col(id_col).alias("doc_id"),
        F.encode(F.col("text"), "utf-8").alias("media"),
        F.struct(
            F.when(F.col(id_col) % 3 == 0, "image")
            .when(F.col(id_col) % 3 == 1, "audio")
            .otherwise("video")
            .alias("media_type"),
            (F.col(id_col) % 1920 + 16).cast("int").alias("width"),
            (F.col(id_col) % 1080 + 16).cast("int").alias("height"),
            (F.col(id_col) % 90000).cast("long").alias("duration_ms"),
            F.lit("synthetic/v1").alias("codec"),
        ).alias("meta"),
    )


def deterministic_features_batch(payloads: list[bytes], dim: int = 16) -> np.ndarray:
    """Vectorized deterministic fake featurizer: sha256(payload) ->
    (n, dim) float64 in [0, 1). The only per-row Python is the sha256
    call itself (hashlib, C); digest-byte tiling, the uint64 view, and
    the float scaling run as whole-batch numpy. Each row: digest
    repeated to dim*8 bytes, little-endian uint64 lanes, top-53-bit
    mantissa scaling."""
    n = len(payloads)
    dig = np.frombuffer(
        b"".join(hashlib.sha256(p).digest() for p in payloads), dtype=np.uint8
    ).reshape(n, 32)
    reps = (dim * 8 + 31) // 32
    raw = np.ascontiguousarray(np.tile(dig, (1, reps))[:, : dim * 8])
    ints = raw.view(np.uint64).reshape(n, dim)
    return (ints >> np.uint64(11)).astype(np.float64) / float(1 << 53)


def extract_features(media_df: DataFrame, dim: int = 16) -> DataFrame:
    """(doc_id, media_type, n_bytes, decoded, feature[dim]) via
    mapInArrow. Features come from the batch-vectorized deterministic
    featurizer; `decoded` is always ``"stub"``, marking that no media was
    decoded (module docstring)."""
    schema = StructType(
        [
            StructField("doc_id", LongType()),
            StructField("media_type", StringType()),
            StructField("n_bytes", LongType()),
            StructField("decoded", StringType()),
            StructField("feature", ArrayType(DoubleType())),
        ]
    )

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            if batch.num_rows == 0:
                continue
            media = batch.column("media")
            feats = deterministic_features_batch(media.to_pylist(), dim)
            n, width = feats.shape
            yield pa.RecordBatch.from_arrays(
                [
                    batch.column("doc_id").cast(pa.int64()),
                    pc.struct_field(batch.column("meta"), "media_type"),
                    pc.binary_length(media).cast(pa.int64()),
                    pa.array(["stub"] * n, type=pa.string()),
                    pa.ListArray.from_arrays(
                        np.arange(0, n * width + 1, width, dtype=np.int32),
                        numpy_to_arrow(feats.ravel()),
                    ),
                ],
                names=schema.names,
            )

    return media_df.select("doc_id", "media", "meta").mapInArrow(run, schema)


def frame_sample_plan(media_df: DataFrame, every_ms: int = 1000) -> DataFrame:
    """Video frame-sampling PLAN: one row per (doc_id, frame_ts_ms) —
    the explode is native. Decoding the frames themselves needs a media
    decoder, which this package does not ship (module docstring)."""
    vids = media_df.filter(F.col("meta.media_type") == "video")
    return vids.select(
        "doc_id",
        F.explode(
            F.sequence(F.lit(0).cast("long"), F.col("meta.duration_ms"), F.lit(every_ms).cast("long"))
        ).alias("frame_ts_ms"),
    )
