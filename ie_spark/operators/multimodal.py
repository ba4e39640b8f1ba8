"""Multimodal column plumbing: image/audio/video as opaque ``binary``
columns with typed metadata, processed via Arrow-batched ``mapInPandas``.

The decode step is STUBBED (no image/audio libraries in this container —
see ``decode_image``): the Spark-side contract — schema, batch shape,
partitioning, UDF signature — is real and tested; swap ``_decode_stub``
for a PIL/librosa call in a real deployment.
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

from ie_spark.session import local_frame

MEDIA_SCHEMA = StructType([
    StructField("media_id", LongType()),
    StructField("kind", StringType()),          # image|audio|video
    StructField("payload", BinaryType()),        # opaque encoded bytes
    StructField("mime", StringType()),
    StructField("width", IntegerType()),         # typed metadata
    StructField("height", IntegerType()),
    StructField("duration_ms", IntegerType()),
])

FEATURE_SCHEMA = StructType([
    StructField("media_id", LongType()),
    StructField("kind", StringType()),
    StructField("n_bytes", IntegerType()),
    StructField("content_sha", StringType()),
    StructField("feature", ArrayType(FloatType())),  # fixed-dim embedding
    StructField("feature_sha", StringType()),        # sha256(feature bytes)
])

FEATURE_DIM = 16


def decode_image(payload: bytes):
    """Real decode would go here (PIL/turbojpeg). Not available in this
    container."""
    raise NotImplementedError(
        "image decode requires an imaging library not present in this "
        "environment; production deployments plug PIL/libjpeg here")


def _fake_feature(payload: bytes) -> np.ndarray:
    """Deterministic stand-in for decode→embed: hash-seeded feature vector.
    Keeps the full pipeline (schema, Arrow batches, downstream ANN) testable
    without media libraries."""
    digest = hashlib.sha256(payload or b"").digest()
    raw = np.frombuffer((digest * ((FEATURE_DIM * 4) // len(digest) + 1))
                        [: FEATURE_DIM * 4], dtype=np.uint32)
    return (raw.astype(np.float64) / np.iinfo(np.uint32).max).astype(np.float32)


def extract_media_features(media: DataFrame) -> DataFrame:
    """media table → per-item feature rows via mapInPandas (Arrow-batched
    binary transfer; one Python pass, no shuffle)."""
    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats, shas, sizes, fshas = [], [], [], []
            for payload in pdf["payload"]:
                b = bytes(payload) if payload is not None else b""
                sizes.append(len(b))
                shas.append(hashlib.sha256(b).hexdigest())
                feat = _fake_feature(b)
                feats.append(feat.tolist())
                # digest of the raw float32 bytes: deterministic, no float
                # formatting — drives the driver value-hash check
                fshas.append(hashlib.sha256(feat.tobytes()).hexdigest())
            yield pd.DataFrame({
                "media_id": pdf["media_id"],
                "kind": pdf["kind"],
                "n_bytes": pd.Series(sizes, dtype="int32"),
                "content_sha": shas,
                "feature": feats,
                "feature_sha": fshas,
            })

    return (media.select("media_id", "kind", "payload")
            .mapInPandas(fn, schema=FEATURE_SCHEMA))


def sample_frames(media: DataFrame, every_ms: int = 1000) -> DataFrame:
    """Video frame-sampling *plan*: one output row per sampled timestamp
    (frame decode itself is the stubbed step).  Pure expressions: the frame
    timestamps come from sequence() over the typed duration metadata."""
    return (media.filter(F.col("kind") == "video")
            .select("media_id",
                    F.explode(F.sequence(
                        F.lit(0),
                        F.greatest(F.col("duration_ms") - 1, F.lit(0)),
                        F.lit(every_ms))).alias("frame_ts_ms")))


def resize_plan(media: DataFrame, max_dim: int = 256) -> DataFrame:
    """Aspect-preserving image resize *plan*: target dimensions + scale
    factor as pure Catalyst expressions over the typed metadata — the
    pixel resampling itself is the stubbed decode step (no image libs in
    this container; swap ``decode_image`` for PIL/cv2 in production and
    apply the plan inside the same Arrow batch).  Never upscales."""
    longest = F.greatest(F.col("width"), F.col("height"))
    known = F.col("width").isNotNull() & F.col("height").isNotNull()
    scale = F.when(~known, F.lit(None).cast("double")) \
        .when(longest > max_dim, F.lit(float(max_dim)) / longest) \
        .otherwise(F.lit(1.0))
    # missing metadata → NULL plan ("unknown, decode to find out"), never
    # a degenerate 1×1 (greatest() skips NULLs — review finding)
    return (media.filter(F.col("kind") == "image")
            .select("media_id", "width", "height",
                    F.when(known, F.greatest(
                        F.floor(F.col("width") * scale), F.lit(1)))
                    .cast("int").alias("new_width"),
                    F.when(known, F.greatest(
                        F.floor(F.col("height") * scale), F.lit(1)))
                    .cast("int").alias("new_height"),
                    F.round(scale, 6).alias("scale")))


def synthetic_media_rows(n: int = 64) -> list[tuple]:
    """Deterministic fake media rows (pure Python — shared by the Spark
    table builder and the DuckDB correctness oracle).  Image dimensions
    vary deterministically so the resize plan exercises both the
    downscale and the no-op branch."""
    rows = []
    kinds = ["image", "audio", "video"]
    for i in range(n):
        kind = kinds[i % 3]
        payload = hashlib.sha256(f"media{i}".encode()).digest() * 8
        rows.append((i, kind, bytearray(payload), f"application/x-{kind}",
                     32 + (i * 37) % 1969 if kind == "image" else None,
                     24 + (i * 23) % 1081 if kind == "image" else None,
                     5000 if kind == "video" else
                     (2000 if kind == "audio" else None)))
    return rows


def expected_media_features(n: int = 64) -> list[tuple]:
    """Locally-computed expected (media_id, kind, n_bytes, content_sha,
    feature_sha) rows — the oracle for the distributed mapInPandas path
    (verifies Arrow plumbing + partition-independence, same arithmetic)."""
    out = []
    for (mid, kind, payload, *_rest) in synthetic_media_rows(n):
        b = bytes(payload)
        feat = _fake_feature(b)
        out.append((mid, kind, len(b), hashlib.sha256(b).hexdigest(),
                    hashlib.sha256(feat.tobytes()).hexdigest()))
    return out


def make_synthetic_media(spark, n: int = 64) -> DataFrame:
    """Deterministic fake media table for tests (payload = seeded bytes)."""
    return local_frame(spark, synthetic_media_rows(n), MEDIA_SCHEMA)
