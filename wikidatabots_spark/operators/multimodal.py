"""Multimodal column plumbing: image/audio/video as opaque binary columns
with typed metadata (north-star extension, BASELINE.json).

What's REAL here (and tested): the Spark-side design — binary columns
with JVM-side metadata (length / sha256 stay in codegen, no Python),
Arrow-batched ``mapInPandas`` fan-out for frame sampling (schema,
partitioning, batch shape), and a pandas-UDF feature extractor returning
a fixed-dim ``array<float>`` that plugs straight into the similarity
operators.

What's STUBBED: actual media decoding. The container has no image/audio
libraries, so ``decode_image`` raises ``NotImplementedError`` unless a
decoder is importable, and the frame/feature paths use a clearly-marked
deterministic fake (content-hash-derived) so the distributed plumbing is
exercised end-to-end with reproducible values.

Scale notes: media bytes are the heaviest column in any multimodal
corpus — every operator here is a narrow map (no shuffle of the blob);
downstream joins/aggregations use the extracted metadata / features,
never the bytes. Partition sizing: keep ``maxPartitionBytes`` modest so
a partition of blobs fits executor memory; Arrow batches bound Python
worker memory.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    FloatType,
    LongType,
    StringType,
    StructField,
    StructType,
)

FEATURE_DIM = 16

MEDIA_META_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("size_bytes", LongType()),
        StructField("sha256", StringType()),
        StructField("media_type", StringType()),
    ]
)

FRAME_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("frame_idx", LongType()),
        StructField("frame", BinaryType()),
    ]
)


def with_media_meta(
    df: DataFrame, id_col: str = "media_id", data_col: str = "data"
) -> DataFrame:
    """Typed metadata, fully JVM-side (no Python): length + sha256."""
    return df.withColumns(
        {
            "size_bytes": F.length(F.col(data_col)).cast("bigint"),
            "sha256": F.sha2(F.col(data_col), 256),
        }
    )


def decode_image(data: bytes) -> "object":
    """Real image decode — STUB: no imaging library in this container.

    Swap in PIL/libvips at deploy time; the call sites (frame sampling,
    feature extraction) only need a bytes→object function here.
    """
    try:
        import PIL.Image  # type: ignore[import-not-found]
        import io

        return PIL.Image.open(io.BytesIO(data))
    except ImportError as e:  # pragma: no cover - the container path
        raise NotImplementedError(
            "media decoding requires an imaging library (not in container)"
        ) from e


def _fake_frames(data: bytes, every: int) -> list[bytes]:
    """DETERMINISTIC FAKE frame sampler: fixed-size chunks of the blob.

    Stands in for 'decode video, take every Nth frame'; keeps the row
    fan-out shape (1 blob → K frames) real and reproducible.
    """
    chunk = max(len(data) // 4, 1)
    frames = [data[i : i + chunk] for i in range(0, len(data), chunk)]
    return frames[::every]


def sample_frames(
    df: DataFrame,
    every: int = 1,
    id_col: str = "media_id",
    data_col: str = "data",
) -> DataFrame:
    """1 media row → K frame rows via Arrow-batched ``mapInPandas``.

    The generator-of-batches signature means a huge partition never
    materializes as one pandas frame — batch shape is bounded by
    ``spark.sql.execution.arrow.maxRecordsPerBatch``.
    """

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out: list[tuple[int, int, bytes]] = []
            for mid, data in zip(pdf[id_col], pdf[data_col]):
                if data is None:
                    continue
                for i, frame in enumerate(_fake_frames(bytes(data), every)):
                    out.append((int(mid), i, frame))
            yield pd.DataFrame(out, columns=["media_id", "frame_idx", "frame"])

    return df.select(F.col(id_col), F.col(data_col)).mapInPandas(gen, FRAME_SCHEMA)


def _fake_resize(data: bytes, n_target: int) -> bytes:
    """DETERMINISTIC FAKE resize: stride-sample the blob down to at most
    ``n_target`` bytes (positions 0, k, 2k, ... with k = len // n_target).

    Stands in for 'decode image, bilinear-resample to w x h, re-encode';
    keeps the real plumbing — binary in, smaller binary out, bounded
    output size — with SQL-reproducible bytes (the stride positions are
    pure integer arithmetic over the input length).
    """
    k = max(len(data) // n_target, 1)
    return data[::k][:n_target]


def resize_media(
    df: DataFrame,
    width: int = 8,
    height: int = 8,
    id_col: str = "media_id",
    data_col: str = "data",
    out_col: str = "resized",
) -> DataFrame:
    """Resize every blob to a ``width x height`` thumbnail (pandas UDF,
    Arrow-batched) — the decode step is stubbed like :func:`decode_image`
    (no imaging lib in container); swap ``_fake_resize`` for
    PIL ``Image.resize`` at deploy time without touching the plan shape.

    Scale shape: narrow map over the blob column — the bytes never
    shuffle, and the output is strictly smaller (bounded w*h), so a
    downstream cache/collect of thumbnails is safe where the originals
    would not be.
    """
    n_target = width * height

    @F.pandas_udf(BinaryType())
    def rz(s: pd.Series) -> pd.Series:
        return s.map(lambda b: None if b is None else _fake_resize(bytes(b), n_target))

    return df.withColumn(out_col, rz(F.col(data_col)))


def _fake_features(data: bytes) -> list[float]:
    """DETERMINISTIC FAKE embedding: sha256 bytes → FEATURE_DIM floats in
    [-1, 1). Replaces 'decode + model forward pass'."""
    h = hashlib.sha256(data).digest()
    return [h[i] / 128.0 - 1.0 for i in range(FEATURE_DIM)]


def extract_features(
    df: DataFrame, data_col: str = "data", out_col: str = "features"
) -> DataFrame:
    """Fixed-dim float features per blob (pandas UDF, Arrow-batched).

    Output is ``array<float>`` — directly consumable by
    ``operators.similarity`` (knn / dup pairs) for cross-modal dedup.
    """

    @F.pandas_udf(ArrayType(FloatType()))
    def feats(s: pd.Series) -> pd.Series:
        return s.map(lambda b: None if b is None else _fake_features(bytes(b)))

    return df.withColumn(out_col, feats(F.col(data_col)))


def perceptual_hash(
    df: DataFrame,
    features_col: str = "features",
    out_col: str = "phash",
) -> DataFrame:
    """Average-hash perceptual fingerprint from the feature vector:
    bit i = 1 iff feature byte i >= the vector's integer mean —
    the aHash scheme (mean-thresholded intensities), computed on the
    recovered feature BYTES (``round((f+1)·128)``, an exact
    float↔byte bijection) so every comparison is integer and the
    whole hash is engine-exact (no float-mean tie risk).

    A near-identical image flips few bits; feed the result to
    ``operators.dedup.hamming_near_pairs`` (16-bit hash → 4 slices of
    4 bits) for sub-quadratic perceptual near-dup detection. Pure
    narrow map over the feature column; the blob never shuffles.
    """
    bs = F.transform(
        F.col(features_col),
        lambda x: F.round((x.cast("double") + F.lit(1.0)) * F.lit(128.0)).cast(
            "long"
        ),
    )
    df = df.withColumn("__bs", bs)
    df = df.withColumn(
        "__mean",
        F.expr(f"aggregate(__bs, 0L, (a, x) -> a + x) div {FEATURE_DIM}"),
    )
    phash = F.expr(
        "aggregate(transform(__bs, (x, i) -> "
        "CASE WHEN x >= __mean THEN shiftleft(1L, i) ELSE 0L END), "
        "0L, (a, x) -> a + x)"
    )
    return df.withColumn(out_col, phash).drop("__bs", "__mean")

