"""End-to-end resumable pipeline — the OptimizeRasters job lifecycle
(SURVEY.md §3.1) re-expressed as checkpointed DataFrame stages:

    pages -> dedup -> [ledger anti-join] -> tile assign -> PIP join
          -> per-page output (one batch dir)      [stage "process"]
    unmerged batches -> ledger mark -> level-0 tile store
          -> one manifest table
          -> tile_counts, manifest, proxy_csv     [stage "finalize"]
    ledger -> releasing TIL groups (one collect)
          -> til_overviews (append)               [stage "til_finalize"]

Each derived table is computed once and written once; none is read
back to derive the next.

Exactly-once: a run writes its batch dirs, then makes ONE ledger commit
(``processed`` and ``uploaded`` 'yes' for the urls of every unmerged
batch), then commits the level-0 store that folds those batches.
Finalize deduplicates by url over the unmerged batches, the trick the
reference plays with updateRecordStatus path normalization (:1835-1891).
A crash before the ledger commit leaves the pages pending: the next run
reprocesses them into a new unmerged batch, whose copy the url dedup
absorbs. A crash between the two commits leaves marked pages in an
unmerged batch that the next finalize folds; in that window
``uploaded='yes'`` runs one run ahead of the fold. The reverse order
double-counts: a crash before the mark reprocesses counted pages.
retryall drops the level-0 store before it resets the statuses: until
its store commit, every run rebuilds the store from every batch dir.

The ``text`` column rides through the per-page output untouched
(byte-identity invariant per BASELINE.json input_hint).
"""

from __future__ import annotations

import os
import uuid
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from optimizerasters_spark import ledger as L
from optimizerasters_spark import lineage
from optimizerasters_spark.operators import (
    dedup, filters, groups, manifest, spatial)
from optimizerasters_spark.pages import synth_boundaries, synth_pages

# TIL-group analog: pages sharing a group id finalize together (group
# overview gated on every member processed). The synth url embeds the
# page number; the group key is derived from it so it survives resume
# across runs keyed only by url.
TIL_GROUPS = 25


def til_group_col():
    return (F.regexp_extract(F.col("url"), "/p/(\\d+)$", 1)
            .cast("bigint") % TIL_GROUPS).alias("til_group")


# manifest tile URIs live under this prefix, their cache paths under
# "<prefix>_cache"; 'lerc' splits DataFile/IndexFile into .lrc/.idx in
# the cache paths (UpdateMRF extensions_lup)
OUTPUT_PREFIX = "tiles"
COMPRESSION = "lerc"
# level-0 tile store sidecar: the batch dirs folded into each version
MERGED_BATCHES = "_merged_batches.txt"


@dataclass
class JobConf:
    """Job settings. Input hygiene (URL canonicalization, sampling,
    per-host caps, PII scrub, domain blocklists) is not configured here:
    the caller applies the ``web.*`` operator to ``pages`` before
    ``Engine.run``, which defines the job's input universe and so what
    resume sees."""
    sf_dir: str
    workdir: str
    levels: list[int] = field(default_factory=lambda: [0, 4, 8])
    # "retryall" clears every status, reprocesses every page and
    # rebuilds the level-0 store from every batch dir
    resume: str = "resume"          # or "retryall"
    # fault injection for quarantine tests: pages with doc_id % N == 0
    # "fail" on their first attempt (None = no injection) and the retry
    # stage reprocesses them once. Mirrors the reference's in-memory
    # failed-upload list + end-of-run retry pass
    # (OptimizeRasters.py:3729-3740, :7004-7049).
    inject_fail_mod: int | None = None
    # task-granularity bound: at most this many pages per write task —
    # the -queuelength chunking knob (OptimizeRasters.py:638-676 chunked
    # the Lambda payload the same way). None = leave partitioning to the
    # scan/AQE. Costs one count job per batch when set, exactly like the
    # reference's len(list) chunk math.
    queue_length: int | None = None


class Engine:
    """Engine(conf).run(spark, pages=None, til_members=None) -> dict of
    result DataFrames.

    Public API mirroring the reference embedding contract
    (CodeSamples/processUsingAListOfFiles.py:50-69):
    run(), get_ledger(), has_failures(), get_metrics()."""

    def __init__(self, conf: JobConf):
        self.conf = conf
        self.run_id = uuid.uuid4().hex[:12]  # run() draws a fresh one
        # batch dirs the last finalize actually read (test/inspection
        # hook for the incremental-cost claim)
        self.last_finalize_inputs: list[str] = []
        # test hook (mirrors last_finalize_inputs): did the most recent
        # til_finalize stage scan page_tiles at all? False on a
        # steady-state resume where no group releases.
        self.last_til_finalize_scanned: bool = False

    # -- paths ------------------------------------------------------------
    def _pages_out(self) -> str:
        return os.path.join(self.conf.workdir, "page_tiles")

    def _til_out(self) -> str:
        return os.path.join(self.conf.workdir, "til_overviews")

    def _l0_out(self) -> str:
        return os.path.join(self.conf.workdir, "tile_counts_l0")

    # -- level-0 tile store ------------------------------------------------
    # A ledger snapshot store (ledger._atomic_overwrite): each version
    # carries the batch dirs folded into it as a MERGED_BATCHES sidecar
    # INSIDE the version dir, so counts and merge history commit
    # atomically — a crash mid-finalize leaves the previous version
    # current and the new batches simply re-merge next run.
    def _batch_dirs(self) -> list[str]:
        root = self._pages_out()
        if not os.path.isdir(root):
            return []
        return sorted(n for n in os.listdir(root) if n.startswith("batch="))

    def _read_l0(self, spark: SparkSession
                 ) -> tuple[DataFrame | None, list[str]]:
        vdir = L.current_snapshot(self._l0_out())
        if vdir is None:
            return None, []
        with open(os.path.join(vdir, MERGED_BATCHES)) as f:
            return spark.read.parquet(vdir), f.read().split()

    # -- lifecycle ---------------------------------------------------------
    def run(self, spark: SparkSession,
            pages: DataFrame | None = None,
            til_members: DataFrame | None = None) -> dict[str, DataFrame]:
        """Process ``pages`` (default: the synth pages of ``sf_dir``),
        deduplicated latest-per-url, and return the outputs by name:
        page_tiles, tile_counts, manifest, proxy_csv, ledger and
        til_overviews (None until a group completes). These are the
        run's own tables, not re-reads: tile_counts, manifest and
        proxy_csv derive from the finalize stage's checkpointed
        manifest, ledger is the one til_finalize resolved, and
        page_tiles is the read til_finalize used. Only til_overviews
        is read after its append.

        Each call draws a fresh ``run_id``, which names its batch dirs.
        ``resume="retryall"``, or a missing ``tile_counts_l0``, rebuilds
        the level-0 store from every batch dir.

        ``til_members`` (url, til_group) is the DECLARED group
        membership — the .til content analog. Completeness is judged
        against it, so members absent from this run's input keep their
        group un-finalized until a later run processes them. Defaults to
        deriving membership from the current input."""
        conf = self.conf
        self.run_id = uuid.uuid4().hex[:12]
        os.makedirs(conf.workdir, exist_ok=True)
        # drop snapshots no plan can reference now
        L.vacuum(conf.workdir)
        L.expire_snapshots(self._l0_out())
        if pages is None:
            pages = synth_pages(spark, conf.sf_dir)
        pages = dedup.dedup_latest(pages)

        led = L.read_ledger(spark, conf.workdir)
        if led is None:
            led = L.init_ledger(spark, conf.workdir, pages, "url")
        elif conf.resume == "retryall":
            # the store counts every page: drop it BEFORE the reset,
            # so no run folds reprocessed pages onto it
            L.drop_snapshot(self._l0_out())
            L.clear_statuses(spark, conf.workdir)
            led = L.read_ledger(spark, conf.workdir)

        # ---- stage "process": per-page tile assign + PIP join ----------
        # row counts ride the stage's own action (Observation) — no
        # extra count pass over the input; per-partition detail comes
        # from the written parquet footers (lineage.py)
        todo = filters.resume_pending(pages, led, key="url")
        with lineage.StageTimer(spark, conf.workdir, self.run_id,
                                "process") as st:
            ok, failed = self._split_injected(st.observe(todo))
            self._process_batch(spark, ok, f"batch={self.run_id}",
                                timer=st)

        # ---- retry pass: reprocess the quarantined pages once -----------
        # quarantine is the failed-page DataFrame itself (A6), held like
        # the reference's in-memory failed list; an empty retry batch
        # writes one schema-only part file, which reads back as 0 rows
        if failed is not None:
            with lineage.StageTimer(spark, conf.workdir, self.run_id,
                                    "retry") as st:
                self._process_batch(spark, st.observe(failed),
                                    f"batch={self.run_id}-retry", timer=st)

        # ---- stage "finalize": ledger mark + incremental pyramid merge --
        # Counts are ASSOCIATIVE: aggregate only batch dirs not yet folded
        # into the persisted level-0 tile table and merge additively —
        # a resume that processes 0.1 % of pages pays 0.1 % of the
        # finalize, never a corpus-wide re-dedup. Cross-batch duplicates
        # can only live among UNMERGED batches (a page re-emits only when
        # the run that wrote it crashed before its ledger commit, and a
        # batch merges only after that commit), so the per-url
        # dedup within the unmerged set is exhaustive. A missing store
        # (first run, retryall) folds every batch dir.
        l0_base, merged = self._read_l0(spark)
        src = [b for b in self._batch_dirs() if b not in merged]
        self.last_finalize_inputs = [
            os.path.join(self._pages_out(), b) for b in src]
        with lineage.StageTimer(spark, conf.workdir, self.run_id,
                                "finalize") as st:
            st.add_output_dir(os.path.join(conf.workdir, "tile_counts"))
            if src:
                fresh = (spark.read.parquet(*self.last_finalize_inputs)
                         .dropDuplicates(["url"]))
                fresh = st.observe(fresh)
                # the run's one ledger commit, BEFORE the store commit;
                # upsert: pages new since init are inserted
                L.upsert_status(spark, conf.workdir, fresh.select("url"),
                                ("processed", "uploaded"), L.YES,
                                self.run_id)
                delta_l0 = spatial.tile_counts_l0(fresh)
                L._atomic_overwrite(
                    delta_l0 if l0_base is None
                    else spatial.merge_l0(l0_base, delta_l0),
                    self._l0_out(),
                    sidecars={MERGED_BATCHES: "\n".join(merged + src)})
            # One manifest table feeds all three outputs; nothing is
            # written and read back. Fault scope of the eager local
            # checkpoint: a lost executor fails the stage, and the next
            # run rebuilds all three outputs from the committed level-0
            # snapshot.
            m = manifest.with_cache_paths(
                manifest.tile_manifest(
                    spatial.levels_from_l0(self._read_l0(spark)[0],
                                           conf.levels), OUTPUT_PREFIX),
                OUTPUT_PREFIX + "_cache", compression=COMPRESSION
            ).localCheckpoint(eager=True)
            derived = {
                "tile_counts": m.select("level", "tile_x", "tile_y",
                                        "page_count"),
                "manifest": m,
                # S13 ObjectID;Raster rows (dense ids, no global sort)
                "proxy_csv": manifest.proxy_csv_rows(m)}
            for name, df in derived.items():
                df.write.mode("overwrite").parquet(
                    os.path.join(conf.workdir, name))

        # ---- stage "til_finalize": gated group-level overviews ----------
        # A complete group (every member's ledger row 'yes') gets ONE
        # overview row appended; incomplete groups are held back and
        # finalize on a later run — the reference's per-.til barrier +
        # createaOverview/ovr->mrf post-processing (:6767-6821). Resume
        # skips groups already in the output (anti-join = the
        # _doPostProcessing ledger check).
        led_fin = L.read_ledger(spark, conf.workdir)
        page_tiles = spark.read.parquet(self._pages_out())
        declared = til_members if til_members is not None \
            else pages.select("url", til_group_col())
        members = declared.join(
            led_fin.select("url", "processed"), "url", "left") \
            .fillna({"processed": ""})
        with lineage.StageTimer(spark, conf.workdir, self.run_id,
                                "til_finalize") as st:
            members = st.observe(members)
            releasing = groups.til_complete_groups(
                members, "til_group", "processed").select("til_group")
            # resume anti-join runs BEFORE the stats aggregation: only
            # groups RELEASING THIS RUN (complete and not yet written)
            # send member rows through the shuffle — a steady-state
            # resume shuffles ~nothing instead of re-aggregating every
            # group's full history each run
            if os.path.isdir(self._til_out()):
                done = spark.read.parquet(self._til_out()) \
                    .select("til_group").dropDuplicates(["til_group"])
                releasing = releasing.join(done, "til_group", "left_anti")
            # O(releasing), never O(history): `releasing` is computed
            # once, from the ledger + the tiny overview output, into an
            # O(#groups) Python list (the reference keeps its .til list
            # in memory too). A steady-state resume (nothing releasing)
            # short-circuits without touching page_tiles at all, and
            # otherwise page_tiles is semi-joined down to the releasing
            # groups' member urls BEFORE the url dedup — the shuffle is
            # proportional to the releasing members, not the corpus.
            ids = [r["til_group"] for r in releasing.collect()]
            self.last_til_finalize_scanned = bool(ids)
            if ids:
                # overview stats group by the DECLARED membership (join
                # on url), not a re-derivation of the group key from the
                # url — a caller-supplied til_members whose grouping
                # differs from the default URL formula must aggregate
                # under ITS groups. At most len(ids) rows: one part
                # file per append. An empty result still appends a
                # schema-only part file, which reads back as 0 rows.
                release_members = declared.select("url", "til_group") \
                    .where(F.col("til_group").isin(ids))
                (page_tiles.select("url", "tile_x", "tile_y")
                 .join(release_members.select("url"), "url", "left_semi")
                 .dropDuplicates(["url"])
                 .join(release_members, "url")
                 .groupBy("til_group")
                 .agg(F.count(F.lit(1)).alias("member_count"),
                      F.countDistinct("tile_x", "tile_y").alias("n_tiles"))
                 .withColumn("finalized_run", F.lit(self.run_id))
                 .coalesce(1)
                 .write.mode("append").parquet(self._til_out()))

        # the run's own tables; nothing below writes the ledger
        return {
            "page_tiles": page_tiles.dropDuplicates(["url", "polygon_id"]),
            **derived,
            "ledger": led_fin,
            "til_overviews": spark.read.parquet(self._til_out())
            if os.path.isdir(self._til_out()) else None,
        }

    # -- internals -----------------------------------------------------------
    def _split_injected(self, todo: DataFrame):
        """Fault injection split: (ok, failed|None)."""
        mod = self.conf.inject_fail_mod
        if not mod:
            return todo, None
        return (todo.where(F.col("doc_id") % mod != 0),
                todo.where(F.col("doc_id") % mod == 0))

    def _process_batch(self, spark: SparkSession, batch: DataFrame,
                       batch_name: str, timer=None) -> None:
        """Tile + PIP join a page batch and write it as the batch dir
        ``batch_name``. No ledger I/O: finalize marks the batch's pages
        after every batch of the run has landed (write-before-mark)."""
        tiled = spatial.with_tiles(batch)
        joined = spatial.pip_join(tiled, synth_boundaries(spark),
                                  how="left")
        out = joined.select(
            "url", "doc_id", "tile_x", "tile_y", "polygon_id",
            "warc_epoch", "lang", "text",
            F.sha2(F.col("text"), 256).alias("text_sha"))
        ql = self.conf.queue_length
        if ql:
            # bound pages per WRITE task (the -queuelength chunk math).
            # Applied at the sink — an upstream repartition would be
            # absorbed by the join/agg shuffles. repartition-by-number is
            # exempt from AQE coalescing, so the file count holds.
            n = batch.count()
            if n == 0:
                return
            out = out.repartition(max(1, -(-n // ql)))
        batch_dir = os.path.join(self._pages_out(), batch_name)
        out.write.mode("overwrite").parquet(batch_dir)
        if timer is not None:
            timer.add_output_dir(batch_dir)

    # -- embedding API ------------------------------------------------------
    def get_ledger(self, spark: SparkSession) -> DataFrame | None:
        return L.read_ledger(spark, self.conf.workdir)

    def has_failures(self, spark: SparkSession) -> bool:
        led = self.get_ledger(spark)
        return led is not None and L.has_failures(led)

    def get_metrics(self, spark: SparkSession) -> DataFrame | None:
        return lineage.read_metrics(spark, self.conf.workdir)
