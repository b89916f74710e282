"""Structured-Streaming ingest with ledger snapshots.

The reference's streaming-shaped behaviors (SURVEY.md §2.9):
  * periodic ledger snapshot during long runs (Report._createSnapshot,
    OptimizeRasters.py:1825-1832, SnapshotDelay=20 s)  ->  foreachBatch
    commit per micro-batch (+ Spark's own checkpointLocation recovery)
  * pipelined convert->upload per item (:4986-4997)    ->  each micro-batch
    flows tile-assign -> append -> ledger MERGE as one unit
  * resume after crash (CLOAD_RESTORE_POINT :5921-5938) -> restart the
    query with the same checkpointLocation; processed files are not re-read

``run_incremental`` is a lighter pipeline than the batch Engine, not a
form of it: each micro-batch writes ``spatial.with_tiles`` rows (no PIP
join, no ``polygon_id``) plus ``text_sha`` and upserts the ledger's
``processed`` mark; there is no dedup, finalize or TIL stage.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from optimizerasters_spark import ledger as L
from optimizerasters_spark.operators import spatial

PAGES_STREAM_SCHEMA = ("doc_id BIGINT, url STRING, warc_epoch BIGINT, "
                       "text STRING, lang STRING, lon_md BIGINT, "
                       "lat_md BIGINT")


def run_incremental(spark: SparkSession, input_dir: str, workdir: str,
                    available_now: bool = True,
                    processing_time: str = "20 seconds"):
    """Ingest page parquet files appearing under ``input_dir``; per
    micro-batch: tile-assign, append per-page output, MERGE the ledger.

    Returns the StreamingQuery (already awaited when available_now)."""
    os.makedirs(workdir, exist_ok=True)
    out_dir = os.path.join(workdir, "page_tiles")
    ckpt = os.path.join(workdir, "_checkpoints")

    stream = (spark.readStream.schema(PAGES_STREAM_SCHEMA)
              .parquet(input_dir))

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        tiled = spatial.with_tiles(batch_df).withColumn(
            "text_sha", F.sha2(F.col("text"), 256))
        batch_dir = os.path.join(out_dir, f"batch={batch_id}")
        tiled.write.mode("overwrite").parquet(batch_dir)
        L.upsert_status(batch_df.sparkSession, workdir,
                        batch_df.select("url"), "processed", L.YES,
                        f"stream-{batch_id}")

    writer = (stream.writeStream
              .foreachBatch(process_batch)
              .option("checkpointLocation", ckpt))
    if available_now:
        q = writer.trigger(availableNow=True).start()
        q.awaitTermination()
    else:
        q = writer.trigger(processingTime=processing_time).start()
    return q


def streaming_exact_dedup(spark: SparkSession, input_dir: str,
                          watermark: str = "2 hours") -> DataFrame:
    """Streaming exact content dedup with BOUNDED state: sha256(text)
    keys evict once older than the event-time watermark
    (dropDuplicatesWithinWatermark) — the streaming twin of
    dedup.dedup_exact. The reference's dedup-on-add (Report.addFile)
    held every key in memory for the life of the job; watermark-bounded
    state is what makes the same guarantee survive an unbounded crawl
    stream."""
    stream = (spark.readStream.schema(PAGES_STREAM_SCHEMA)
              .parquet(input_dir)
              .withColumn("event_ts",
                          F.col("warc_epoch").cast("timestamp"))
              .withColumn("text_sha", F.sha2(F.col("text"), 256)))
    return (stream
            .withWatermark("event_ts", watermark)
            .dropDuplicatesWithinWatermark(["text_sha"]))


def windowed_rates(spark: SparkSession, input_dir: str,
                   window: str = "1 hour", watermark: str = "2 hours"
                   ) -> DataFrame:
    """Event-time windowed page counts per language with late-data
    tolerance — the streaming aggregation surface (watermark + window)."""
    stream = (spark.readStream.schema(PAGES_STREAM_SCHEMA)
              .parquet(input_dir)
              .withColumn("event_ts",
                          F.col("warc_epoch").cast("timestamp")))
    return (stream
            .withWatermark("event_ts", watermark)
            .groupBy(F.window("event_ts", window), F.col("lang"))
            .agg(F.count(F.lit(1)).alias("page_count")))


DOCS_STREAM_SCHEMA = "doc_id BIGINT, text STRING, lang STRING"


def streaming_corpus_ingest(spark: SparkSession, input_dir: str,
                            builder, available_now: bool = True,
                            hygiene=None):
    """The unbounded-crawl corpus builder: document parquet files
    appearing under ``input_dir`` flow through
    training_incremental.CorpusBuilder.ingest per micro-batch — each
    batch dedups (exact + LSH near-dup) against everything ACCEPTED so
    far, O(batch), never O(corpus). Exactly-once without streaming
    state: foreachBatch may REPLAY a batch after a crash, and the
    builder's marker commits + sha anti-join make a replayed
    ingest a no-op (re-accepted docs are exact dups of committed
    rows) — the same idempotence the batch engine gets from
    append+dedup.

    ``hygiene`` is an optional DataFrame -> DataFrame transform applied
    to every micro-batch before ingest (PII scrub, canonicalization,
    quality gates — the batch corpus_pipeline stages in streaming
    form). It MUST be deterministic: replay idempotence relies on a
    redelivered batch re-scrubbing to byte-identical rows, so the
    exact-dedup anti-join recognizes them. Returns the
    StreamingQuery."""
    stream = (spark.readStream.schema(DOCS_STREAM_SCHEMA)
              .parquet(input_dir))

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        if hygiene is not None:
            batch_df = hygiene(batch_df)
        builder.ingest(batch_df.sparkSession, batch_df)

    writer = (stream.writeStream
              .foreachBatch(process_batch)
              .option("checkpointLocation",
                      os.path.join(builder.workdir, "_stream_ckpt")))
    if available_now:
        q = writer.trigger(availableNow=True).start()
        q.awaitTermination()
    else:
        q = writer.trigger(processingTime="20 seconds").start()
    return q
