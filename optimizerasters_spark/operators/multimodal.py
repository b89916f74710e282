"""Multimodal columns: image/audio/video as opaque BINARY + typed metadata.

The Spark-side plumbing is real and tested — schemas, Arrow batch shapes,
partition-preserving mapInPandas stages; the actual media decoding is
STUBBED (no image/audio libraries are a dependency) behind one
deterministic stand-in, ``_fake_decode``. Swapping in a real decoder
(PIL/ffmpeg/torchaudio) changes that ONE function, not the plan.

Design rules for 100 TB media tables:
  * media rides as BINARY next to its metadata struct; never base64/UTF-8.
  * decode/feature stages are mapInPandas (Arrow batches, zero-copy into
    numpy) sized by spark.sql.execution.arrow.maxRecordsPerBatch.
  * outputs are fixed-width columns (dims, n_frames, feature arrays), so
    downstream stages stay JVM-side.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

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
    """Arrow-batched decode: one pandas batch in, one fixed-width batch
    out; rows that fail decode surface as decode_ok=false (dead-letter
    pattern) instead of failing the task."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {"doc_id": pdf["doc_id"], "width": [], "height": [],
                   "channels": [], "mean_luma_micro": [], "decode_ok": []}
            for buf in pdf["media"]:
                try:
                    w, h, c, luma = _fake_decode(bytes(buf)
                                                 if buf is not None else b"")
                    out["width"].append(w)
                    out["height"].append(h)
                    out["channels"].append(c)
                    out["mean_luma_micro"].append(luma)
                    out["decode_ok"].append(True)
                except Exception:
                    out["width"].append(0)
                    out["height"].append(0)
                    out["channels"].append(0)
                    out["mean_luma_micro"].append(0)
                    out["decode_ok"].append(False)
            yield pd.DataFrame(out)

    return media.mapInPandas(run, DECODE_OUT_SCHEMA)


def sample_frames(media: DataFrame, every_n: int = 10,
                  max_frames: int = 8) -> DataFrame:
    """Frame-sampling plumbing: emits (doc_id, frame_idx, frame_sha) rows.
    The "frames" are deterministic byte slices of the buffer — the real
    implementation swaps the slicer for an ffmpeg seek, the Spark shape
    (1 row in -> <=max_frames rows out via mapInPandas) is identical."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib
        for pdf in batches:
            ids, idxs, shas = [], [], []
            for doc_id, buf in zip(pdf["doc_id"], pdf["media"]):
                data = bytes(buf) if buf is not None else b""
                n = min(max_frames, max(len(data) // max(every_n, 1), 1))
                for i in range(n):
                    ids.append(doc_id)
                    idxs.append(i)
                    shas.append(hashlib.sha256(
                        data[i * every_n:(i + 1) * every_n]).hexdigest())
            yield pd.DataFrame({"doc_id": ids, "frame_idx": idxs,
                                "frame_sha": shas})

    return media.mapInPandas(run, FRAME_OUT_SCHEMA)


RESIZE_OUT_SCHEMA = ("doc_id BIGINT, width INT, height INT, out_w INT, "
                     "out_h INT, scale_micro BIGINT, thumb_sha STRING, "
                     "resize_ok BOOLEAN")


def resize_images(media: DataFrame, target_w: int = 256,
                  target_h: int = 256) -> DataFrame:
    """Fit-within resize plumbing: decode dims, compute the integer
    micro-unit scale (never upscale), emit output dims + a thumbnail
    content hash. The 'thumbnail' is a deterministic byte-prefix slice —
    a real resampler (PIL.thumbnail) replaces the slicer; the Spark
    shape (mapInPandas, fixed-width outputs, integer scale math) is the
    production one and the whole stage stays SQL-oracle-checkable.
    Rows whose buffer fails to decode surface as resize_ok=false
    (decode_images' dead-letter pattern) instead of failing the task."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib
        M = 1000000
        for pdf in batches:
            out = {k: [] for k in ("doc_id", "width", "height", "out_w",
                                   "out_h", "scale_micro", "thumb_sha",
                                   "resize_ok")}
            for doc_id, buf in zip(pdf["doc_id"], pdf["media"]):
                data = bytes(buf) if buf is not None else b""
                try:
                    w, h, _, _ = _fake_decode(data)
                    scale = min(M, (target_w * M) // w,
                                (target_h * M) // h)
                    ow = max((w * scale) // M, 1)
                    oh = max((h * scale) // M, 1)
                    sha = hashlib.sha256(data[:ow]).hexdigest()
                    ok = True
                except Exception:
                    w = h = ow = oh = scale = 0
                    sha, ok = "", False
                out["doc_id"].append(doc_id)
                out["width"].append(w)
                out["height"].append(h)
                out["out_w"].append(ow)
                out["out_h"].append(oh)
                out["scale_micro"].append(scale)
                out["thumb_sha"].append(sha)
                out["resize_ok"].append(ok)
            yield pd.DataFrame(out)

    return media.mapInPandas(run, RESIZE_OUT_SCHEMA)


def synth_media(docs: DataFrame) -> DataFrame:
    """Media fixture: html-derived bytes as the opaque payload + declared
    metadata (typed struct pattern)."""
    return docs.select(
        "doc_id",
        F.encode(F.col("text"), "UTF-8").alias("media"),
        F.lit("image/fake").alias("media_type"),
        (F.col("doc_id") % 1920).cast("int").alias("declared_w"),
        (F.col("doc_id") % 1080).cast("int").alias("declared_h"))
