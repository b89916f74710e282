"""Multimodal columns: image/audio/video as opaque BINARY + typed metadata.

The Spark-side plumbing is real and tested — schemas, Arrow batch shapes,
partition-preserving blob stages; the actual media decoding is
STUBBED (no image/audio libraries are a dependency) behind one
deterministic stand-in, ``_fake_decode``. Swapping in a real decoder
(PIL/ffmpeg/torchaudio) changes that ONE function, not the plan.

Design rules for 100 TB media tables:
  * media rides as BINARY next to its metadata struct; never base64/UTF-8.
  * decode/feature stages are parsers run by ``expand_blobs``
    (functions/blobs.py): Arrow batches sized by
    spark.sql.execution.arrow.maxRecordsPerBatch, one dead-letter policy.
  * outputs are fixed-width columns (dims, n_frames, feature arrays), so
    downstream stages stay JVM-side.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from optimizerasters_spark.functions.blobs import expand_blobs

IMAGE_META_SCHEMA = ("doc_id BIGINT, media BINARY, media_type STRING, "
                     "declared_w INT, declared_h INT")

DECODE_OUT_SCHEMA = ("doc_id BIGINT, width INT, height INT, channels INT, "
                     "mean_luma_micro BIGINT, decode_ok BOOLEAN")

FRAME_OUT_SCHEMA = ("doc_id BIGINT, frame_idx INT, frame_sha STRING")


def _fake_decode(buf: bytes) -> tuple[int, int, int, int]:
    """Deterministic stand-in for an image decoder: derives shape/stats
    from the bytes themselves. Replace with PIL/turbojpeg in production.
    The luma statistic is integer micro-units (floor), not a float —
    exact across engines, so the whole decode stage is oracle-checkable
    in SQL over the same BINARY column."""
    if not buf:
        raise ValueError("empty media buffer")
    w = 16 + (buf[0] % 64) * 8
    h = 16 + (buf[-1] % 64) * 8
    c = 3 if len(buf) % 2 else 1
    luma_micro = (sum(buf[:64]) * 1000000) // (min(len(buf), 64) * 255)
    return w, h, c, luma_micro


def decode_images(media: DataFrame) -> DataFrame:
    """One fixed-width decode row per media row; a buffer that fails to
    decode is a decode_ok=false dead letter (``expand_blobs``)."""
    return expand_blobs(media, "doc_id", "media", DECODE_OUT_SCHEMA,
                        lambda _, buf: [(*_fake_decode(buf), True)],
                        (0, 0, 0, 0, False))


def sample_frames(media: DataFrame, every_n: int = 10,
                  max_frames: int = 8) -> DataFrame:
    """Frame-sampling plumbing: emits (doc_id, frame_idx, frame_sha) rows,
    1 to max_frames per media row. The "frames" are deterministic byte
    slices of the buffer; the real implementation swaps the slicer for
    an ffmpeg seek. No dead row: a failing slicer fails the task."""

    def frames(_, data: bytes) -> list[tuple]:
        n = min(max_frames, max(len(data) // max(every_n, 1), 1))
        return [(i, hashlib.sha256(
                    data[i * every_n:(i + 1) * every_n]).hexdigest())
                for i in range(n)]

    return expand_blobs(media, "doc_id", "media", FRAME_OUT_SCHEMA,
                        frames, None)


RESIZE_OUT_SCHEMA = ("doc_id BIGINT, width INT, height INT, out_w INT, "
                     "out_h INT, scale_micro BIGINT, thumb_sha STRING, "
                     "resize_ok BOOLEAN")


def resize_images(media: DataFrame, target_w: int = 256,
                  target_h: int = 256) -> DataFrame:
    """Fit-within resize plumbing: decode dims, compute the integer
    micro-unit scale (never upscale), emit output dims + a thumbnail
    content hash. The 'thumbnail' is a deterministic byte-prefix slice —
    a real resampler (PIL.thumbnail) replaces the slicer; the integer
    scale math keeps the whole stage SQL-oracle-checkable. A buffer
    that fails to decode is a resize_ok=false dead letter."""
    M = 1000000

    def resize(_, data: bytes) -> list[tuple]:
        w, h, _, _ = _fake_decode(data)
        scale = min(M, (target_w * M) // w, (target_h * M) // h)
        ow = max((w * scale) // M, 1)
        oh = max((h * scale) // M, 1)
        return [(w, h, ow, oh, scale, hashlib.sha256(data[:ow]).hexdigest(),
                 True)]

    return expand_blobs(media, "doc_id", "media", RESIZE_OUT_SCHEMA,
                        resize, (0, 0, 0, 0, 0, "", False))


def synth_media(docs: DataFrame) -> DataFrame:
    """Media fixture: html-derived bytes as the opaque payload + declared
    metadata (typed struct pattern)."""
    return docs.select(
        "doc_id",
        F.encode(F.col("text"), "UTF-8").alias("media"),
        F.lit("image/fake").alias("media_type"),
        (F.col("doc_id") % 1920).cast("int").alias("declared_w"),
        (F.col("doc_id") % 1080).cast("int").alias("declared_h"))
