"""Incremental corpus build: the training-data pipeline as a RESUMABLE
batch-ingest engine. It runs on the one-shot pipeline's kernels
(operators/dedup.py: ``dedup_exact_rows``, ``shingles_col``, ``_bands``
and ``jaccard_pairs``, under dedup's one fixed LSH geometry) and keeps
its state on parquet like engine.py's level-0 store.

A 100 TB corpus is not deduplicated in one job — crawls arrive in
batches, and each batch must dedup against everything ACCEPTED so far
without re-scanning it. State per workdir: one ledger marker commit
(``ledger.marker_commit``) per accepting ingest under ``state/``, each
holding three parquet tables:

  * ``shas``  — sha256 of every accepted text (exact-dup gate),
  * ``bands`` — (doc_id, band_id, band_key) LSH bands of accepted docs
    (near-dup gate: new docs meet old docs ONLY through a band-bucket
    equi-join — O(batch + matched candidates), never O(corpus)),
  * ``kept``  — the accepted documents themselves.

Crash safety is the ledger's: a commit's dir becomes visible only when
its ``_COMMITTED.<name>`` marker lands, after all three tables. Readers
read committed dirs only, so a crash anywhere mid-ingest leaves an
unmarked dir that no ingest ever sees, and the next builder opened on
the workdir removes it. A re-ingest of the same batch dedups against
committed state only and accepts the full batch. No crash window loses
documents.

Ingest order is acceptance order: first-arrived wins (the old doc keeps
its slot, the newcomer drops). Within a batch, the one-shot batch rule
applies verbatim (exact: ``training_kept``'s survivors, one row per sha
with the min doc_id; near-dup: drop the higher id of every
Jaccard-verified pair). Across batches the match to the one-shot
pipeline holds for exact duplicates and for DIRECT near-dup pairs under
id-ordered arrival; it intentionally diverges on TRANSITIVE chains:
bands of dropped near-dup victims are not persisted, so a later doc that
near-dups ONLY an already-dropped victim is accepted (it duplicates
nothing in the corpus), whereas the one-shot pipeline's pair set over
all reps would drop it. The equivalence test excludes
such chains; the divergence is the better dedup semantics, not an
accident.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from optimizerasters_spark import ledger as L
from optimizerasters_spark.operators import dedup as D
from optimizerasters_spark.operators import training as T


# the state tables whose columns do not follow the batch
_SCHEMAS = {"shas": "text_sha STRING",
            "bands": "doc_id BIGINT, band_id INT, band_key STRING"}


class CorpusBuilder:
    """CorpusBuilder(workdir).ingest(batch_df) -> per-batch stats."""

    def __init__(self, workdir: str):
        self.workdir = workdir
        # test hook: raise after the named state write ("shas" |
        # "bands" | "kept") to simulate a crash inside the write window
        self._crash_after: str | None = None
        old_format = os.path.join(workdir, "_commits.txt")
        if os.path.exists(old_format):
            raise ValueError(
                f"{old_format}: this workdir holds state in a retired "
                "format (per-row batch ids); re-ingest its documents "
                "into a new workdir")
        self._state = os.path.join(workdir, "state")
        L.drop_uncommitted(self._state)  # dirs of crashed ingests

    def _read(self, spark: SparkSession, name: str) -> DataFrame | None:
        """The state table ``name`` over every committed ingest; None
        before the first. ``shas`` and ``bands`` read on their declared
        schemas, with no schema-inference job; ``kept`` infers, as its
        columns follow the batch. A committed table gone missing fails
        the read (Spark's PATH_NOT_FOUND)."""
        dirs = [os.path.join(d, name) for _, d in L.committed(self._state)]
        if not dirs:
            return None
        reader = spark.read
        if name in _SCHEMAS:
            reader = reader.schema(_SCHEMAS[name])
        return reader.parquet(*dirs)

    def kept(self, spark: SparkSession) -> DataFrame | None:
        return self._read(spark, "kept")

    def ingest(self, spark: SparkSession, batch: DataFrame
               ) -> dict[str, int]:
        """Dedup ``batch`` against itself and all committed prior state;
        commit the survivors and their state. Returns acceptance stats."""
        n_in = batch.count()
        # 1. exact: training_kept's survivors (one row per sha, min
        #    doc_id; NULL text never accepted), minus the accepted shas;
        #    their shingle sets built once and checkpointed eagerly, so
        #    later jobs read its blocks and never re-run its plan (a
        #    lost executor fails the ingest before its commit marker)
        cols = ["doc_id", *[c for c in batch.columns if c != "doc_id"]]
        reps = (D.dedup_exact_rows(batch.where(F.col("text").isNotNull()))
                .withColumn("text_sha", F.sha2(F.col("text"), 256)))
        old_shas = self._read(spark, "shas")
        if old_shas is not None:
            reps = reps.join(old_shas, "text_sha", "left_anti")
        sets = (reps.withColumn("_sh", D.shingles_col("text"))
                .localCheckpoint())
        new_bands = D._bands(sets)

        # 2. intra-batch near-dups: the batch rule verbatim
        victims = D.sets_jaccard_pairs(
            sets.select("doc_id", "_sh"),
            min_jaccard_micro=T.JACCARD_MICRO).select("doc_b")

        # 3. cross-state near-dups: new docs meeting ACCEPTED docs in a
        #    band bucket, Jaccard-verified against those old docs only
        old_bands = self._read(spark, "bands")
        if old_bands is not None:
            cand = (new_bands
                    .join(old_bands.withColumnRenamed("doc_id", "doc_a"),
                          ["band_id", "band_key"])
                    .select("doc_a", F.col("doc_id").alias("doc_b"))
                    .distinct())
            old_sets = self._read(spark, "kept").join(
                cand.select(F.col("doc_a").alias("doc_id")), "doc_id",
                "left_semi").select(
                    "doc_id", D.shingles_col("text").alias("_sh"))
            both = sets.select("doc_id", "_sh").unionByName(old_sets)
            victims = victims.unionByName(
                D.jaccard_pairs(cand, both)
                .where(F.col("jaccard_micro") >= T.JACCARD_MICRO)
                .select("doc_b"))

        # 4. materialize the survivors once (the count fills the cache),
        #    then write them and their state as one marker commit: a
        #    crash before its marker leaves a dir no read sees, and the
        #    batch re-ingests cleanly
        accepted = (sets.join(victims.withColumnRenamed("doc_b", "doc_id"),
                              "doc_id", "left_anti")
                    .select(*cols, "text_sha").cache())
        try:
            n_acc = accepted.count()
            if n_acc > 0:
                with L.marker_commit(self._state) as (d, _):
                    for name, df in (
                            ("shas", accepted.select("text_sha")),
                            ("bands", new_bands.join(
                                accepted.select("doc_id"), "doc_id",
                                "left_semi")),
                            ("kept", accepted.select(*cols))):
                        df.write.parquet(os.path.join(d, name))
                        if self._crash_after == name:
                            raise RuntimeError(
                                f"injected crash after {name} write")
        finally:
            accepted.unpersist()
        return {"in": n_in, "accepted": n_acc}
