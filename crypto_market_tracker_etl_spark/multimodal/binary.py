"""Multimodal columns: image/audio/video as opaque ``binary`` + typed metadata.

The Spark-side plumbing is real and tested — schema, Arrow batch transfer,
``mapInPandas`` signatures, partition sizing — while the codec step is a
clearly-marked stub (image/audio libraries are not in this container):
``decode_image`` raises NotImplementedError unless given the deterministic
fake decoder, which tests use to validate the full pipeline shape.

Design for 100 TB of media:
- payloads stay opaque bytes end-to-end; Spark never interprets them —
  only the Python batch iterator does, in bounded Arrow batches
  (``spark.sql.execution.arrow.maxRecordsPerBatch`` controls memory);
- metadata (mime, width/height, duration) lives in sibling scalar columns
  so filters/pruning never touch the blobs (Parquet column skipping);
- feature extraction emits fixed-size ``array<float>`` columns that feed
  the similarity operators directly.
"""

from __future__ import annotations

import hashlib
from collections.abc import Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("mime_type", T.StringType()),
        T.StructField("payload", T.BinaryType()),
    ]
)

DECODED_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("mime_type", T.StringType()),
        T.StructField("n_bytes", T.IntegerType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("feature", T.ArrayType(T.FloatType())),
    ]
)

# decoder(payload bytes) -> (width, height, feature list[float])
Decoder = Callable[[bytes], tuple[int, int, list[float]]]


def real_decoder(payload: bytes) -> tuple[int, int, list[float]]:
    """Image decode via Pillow WHEN AVAILABLE; honest stub otherwise.

    The optional import is inside the function so the module (and every
    Spark plan built from it) works in codec-free containers; in an
    environment with Pillow the same pipeline decodes real images with no
    code change. Feature = 8-bin grayscale histogram, normalized.
    """
    try:
        from io import BytesIO

        from PIL import Image  # type: ignore[import-not-found]
    except ImportError as exc:  # pragma: no cover - container has no PIL
        raise NotImplementedError(
            "image/audio codecs unavailable in this environment; "
            "inject fake_decoder or install Pillow for real decode"
        ) from exc
    img = Image.open(BytesIO(payload)).convert("L")  # pragma: no cover
    hist = img.histogram()  # pragma: no cover
    bins = [sum(hist[i * 32 : (i + 1) * 32]) for i in range(8)]  # pragma: no cover
    total = float(sum(bins)) or 1.0  # pragma: no cover
    return (  # pragma: no cover
        img.width,
        img.height,
        [round(b / total, 6) for b in bins],
    )


def fake_decoder(payload: bytes, feature_dim: int = 8) -> tuple[int, int, list[float]]:
    """Deterministic stand-in decoder: dimensions and features derived from
    the payload's md5, so pipeline tests are reproducible."""
    digest = hashlib.md5(payload).digest()
    width = 1 + digest[0] % 64
    height = 1 + digest[1] % 64
    feature = [round(b / 255.0, 6) for b in digest[:feature_dim]]
    return width, height, feature


def decode_media(df: DataFrame, decoder: Decoder = real_decoder) -> DataFrame:
    """Decode/feature-extract opaque payloads in Arrow batches.

    mapInPandas keeps the blobs off the JVM heap during Python work and
    processes bounded batches — the shape that scales to media corpora.
    """

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            widths, heights, feats, sizes = [], [], [], []
            for payload in b["payload"]:
                data = bytes(payload)
                w, h, f = decoder(data)
                widths.append(w)
                heights.append(h)
                feats.append(f)
                sizes.append(len(data))
            yield pd.DataFrame(
                {
                    "media_id": b["media_id"],
                    "mime_type": b["mime_type"],
                    "n_bytes": pd.Series(sizes, dtype="int32"),
                    "width": pd.Series(widths, dtype="int32"),
                    "height": pd.Series(heights, dtype="int32"),
                    "feature": feats,
                }
            )

    return df.mapInPandas(run, DECODED_SCHEMA)


def documents_as_media(docs: DataFrame) -> DataFrame:
    """Adapter: treat document text bytes as opaque payloads — lets the
    media pipeline be exercised against the testdata corpus."""
    return docs.select(
        F.col("doc_id").alias("media_id"),
        F.lit("text/plain").alias("mime_type"),
        F.encode("text", "UTF-8").alias("payload"),
    )


def chunk_binary(
    media: DataFrame, chunk_bytes: int = 96, id_col: str = "media_id"
) -> DataFrame:
    """Fixed-size byte shards of opaque payloads — the binary twin of
    operators/chunking.py (media → bounded training shards / upload
    parts). Pure expressions: sequence of offsets → binary substring →
    posexplode; blobs never reach Python and never shuffle. Emits the
    shard as base64 text (engine-portable equality; decode is one
    ``unbase64`` away) plus its byte count.

    ``chunk_bytes`` must be a multiple of 3: base64 concatenates across
    3-byte-aligned boundaries, which is what lets the DuckDB oracle
    reproduce per-shard encodings by slicing the whole payload's base64
    (this DuckDB build has no BLOB substring).
    """
    if chunk_bytes % 3 != 0 or chunk_bytes <= 0:
        raise ValueError("chunk_bytes must be a positive multiple of 3")
    # replace(): Spark's base64 is the MIME encoder (CRLF every 76 chars);
    # strip to the canonical unchunked form every other encoder emits
    shards = F.expr(
        f"transform(sequence(1, greatest(length(payload), 1), {chunk_bytes}), "
        f"s -> struct(replace(base64(substring(payload, s, {chunk_bytes})), "
        f"'\\r\\n', '') AS b64, "
        f"greatest(least({chunk_bytes}, length(payload) - s + 1), 0) AS nb))"
    )
    return (
        media.select(F.col(id_col), shards.alias("__sh"))
        .select(id_col, F.posexplode("__sh").alias("chunk_id", "__s"))
        .select(
            id_col,
            "chunk_id",
            F.col("__s.nb").alias("n_bytes"),
            F.col("__s.b64").alias("chunk_b64"),
        )
    )


def frame_sample(df: DataFrame, every_n: int, id_col: str = "media_id") -> DataFrame:
    """Deterministic 1-in-N sampling by id hash — the 'sample frames from
    video' pattern without data movement (no shuffle, prunes early)."""
    return df.filter(F.pmod(F.xxhash64(F.col(id_col)), F.lit(every_n)) == 0)
