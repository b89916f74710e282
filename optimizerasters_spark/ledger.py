"""Checkpoint / lineage ledger — the `.orjob` re-imagined as a
merge-on-read table (the Iceberg/Hudi MoR pattern, parquet-native).

Reference semantics (studied at OptimizeRasters.py):
  * row statuses COPIED/PROCESSED/UPLOADED in {'yes','no',''} (:100-110)
  * dedup on add (Report.addFile :1908-1917)
  * whole-file rewrite on snapshot (Report.write :2068-2092)
  * resume skips rows already 'yes' (:1807-1815); retryall clears (:2001-2011)

Round 1 shipped read-merge-OVERWRITE: every status flip rewrote the
entire ledger — O(ledger) per merge, the same scale cliff as the
reference's 20 s whole-file rewrite. This version is merge-on-read:

  * ``merge_status`` / ``upsert_status`` APPEND an immutable delta
    commit containing only the touched keys — O(batch), never O(ledger).
    One commit may set several status columns at once (one delta row
    per key and column, all under the commit's seq).
  * ``read_ledger`` resolves base ⋈ deltas with latest-wins per
    (url, column) by commit sequence — one aggregation over the delta
    log (small after compaction) plus a join to the base snapshot, both
    read on their declared schemas (no schema-inference job).
  * compaction folds the delta log back into a new base snapshot when
    the log grows past ``COMPACT_AFTER`` commits (auto, or via
    ``compact()``), using the same CURRENT-pointer atomic swap.
  * commit protocol: a delta directory becomes visible only when its
    ``_COMMITTED.<name>`` marker lands (os.replace — atomic); a crash
    mid-write leaves an unmarked directory that readers ignore and
    ``vacuum()`` removes. Base snapshots are immutable versioned dirs
    behind a CURRENT pointer — readers of an old version keep a
    consistent view (snapshot isolation), exactly the Iceberg commit
    model scaled down to a filesystem.

Both protocols serve more than the ledger. ``marker_commit`` (append
one ``d-<seq>-<uuid>`` dir holding any number of tables, then its
marker), ``committed`` and ``drop_uncommitted`` also keep the
incremental corpus builder's state (operators/training_incremental.py);
``_atomic_overwrite``, ``current_snapshot``, ``drop_snapshot`` and
``expire_snapshots`` also keep the engine's level-0 tile store.

``init_ledger`` and ``clear_statuses`` (retryall) intentionally rewrite
the base — they are whole-table operations by definition and run once
per job, not per batch.

CONCURRENCY CONTRACT — single driver, single writer. The commit
protocol makes each individual commit crash-safe and keeps READERS
isolated, but it does not arbitrate between concurrent WRITERS:
``marker_commit`` allocates its seq by directory scan, so two
simultaneous writers can collide on seq and break latest-wins
tiebreaks. This matches the reference exactly — one Application
process owns its ``.orjob`` (Report.write rewrites the whole file,
OptimizeRasters.py:2068-2092).
Multi-writer coordination is what a real table format's metastore
provides; swapping ``ledger`` for Iceberg/Delta ``MERGE INTO`` lifts
this limit without touching callers. Compaction is safe against the
writer's own later commits: it folds exactly the delta commits it
resolved and leaves newer ones in the log.
"""

from __future__ import annotations

import os
import shutil
import uuid
from contextlib import contextmanager, suppress
from typing import Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

LEDGER_SCHEMA = ("url STRING, copied STRING, processed STRING, "
                 "uploaded STRING, updated_run STRING")
DELTA_SCHEMA = ("url STRING, col STRING, value STRING, run_id STRING, "
                "seq BIGINT, is_upsert BOOLEAN")
STATUS_COLS = ("copied", "processed", "uploaded")
YES, NO, UNDEF = "yes", "no", ""  # CRPT_YES/NO/UNDEFINED

COMPACT_AFTER = 32  # delta commits folded into the base past this count


def ledger_path(workdir: str) -> str:
    return os.path.join(workdir, "ledger")


def _delta_root(workdir: str) -> str:
    return os.path.join(ledger_path(workdir), "delta")


def current_snapshot(root: str) -> str | None:
    """The version dir the CURRENT pointer under ``root`` names (see
    ``_atomic_overwrite``), or None before the first commit."""
    ptr = os.path.join(root, "CURRENT")
    if not os.path.exists(ptr):
        return None
    with open(ptr) as f:
        d = os.path.join(root, f.read().strip())
    return d if os.path.isdir(d) else None


def drop_snapshot(root: str) -> None:
    """Remove the CURRENT pointer under ``root``: readers see no
    snapshot, as before the first commit, and the next
    ``expire_snapshots`` reclaims every version dir."""
    with suppress(FileNotFoundError):
        os.remove(os.path.join(root, "CURRENT"))


def committed(root: str) -> list[tuple[int, str]]:
    """(seq, dir) for every marker commit under ``root`` whose marker
    landed, ascending (see ``marker_commit``)."""
    if not os.path.isdir(root):
        return []
    out = []
    for name in os.listdir(root):
        if not name.startswith("d-"):
            continue
        if not os.path.exists(os.path.join(root, f"_COMMITTED.{name}")):
            continue  # crash between write and marker: invisible
        seq = int(name.split("-")[1])
        out.append((seq, os.path.join(root, name)))
    return sorted(out)


@contextmanager
def marker_commit(root: str) -> Iterator[tuple[str, int]]:
    """Append one marker commit under ``root``: yields (commit dir,
    seq) for the body to write any number of tables into, then flips
    the dir's ``_COMMITTED.<name>`` marker (os.replace, atomic). A body
    that raises leaves an unmarked dir, invisible to ``committed`` and
    removed by ``drop_uncommitted``."""
    os.makedirs(root, exist_ok=True)
    seq = 1 + max((int(n.split("-")[1]) for n in os.listdir(root)
                   if n.startswith("d-")), default=0)
    name = f"d-{seq:08d}-{uuid.uuid4().hex[:8]}"
    yield os.path.join(root, name), seq
    marker_tmp = os.path.join(root, f".tmp-{uuid.uuid4().hex[:6]}")
    with open(marker_tmp, "w") as f:
        f.write(name)
    os.replace(marker_tmp, os.path.join(root, f"_COMMITTED.{name}"))


def drop_uncommitted(root: str) -> int:
    """Remove every dir under the marker-commit root ``root`` whose
    marker never landed (a crashed commit). Safe between runs."""
    return expire_snapshots(root, keep=tuple(
        os.path.basename(d) for _, d in committed(root)))


def _commit_delta(workdir: str, rows: DataFrame) -> None:
    """One ledger delta commit: ``rows`` stamped with its seq."""
    with marker_commit(_delta_root(workdir)) as (d, seq):
        rows.withColumn("seq", F.lit(seq).cast("bigint")) \
            .write.mode("overwrite").parquet(d)


def resolve(base: DataFrame | None,
            deltas: DataFrame | None) -> DataFrame | None:
    """Merge-on-read resolution: latest delta per (url, column) wins by
    seq; urls absent from the base appear only if some delta for them
    was an upsert (merge_status on unknown keys is a no-op, matching the
    reference's updateRecordStatus on unknown paths).

    Shape: ONE aggregation over the delta log (max_by per status column,
    partial map-side), then a LEFT join (updates) plus an anti-join
    (inserts) against the base — NOT a full outer join: Spark cannot
    broadcast full-outer, so the full-join form would shuffle the entire
    base (10^12 rows, payload and all) on url for every read. The left
    join broadcasts the delta aggregate whenever it fits (Catalyst/AQE
    sizing — no forced hint, so oversized delta logs degrade to a
    shuffled join instead of an OOM), leaving the base payload
    shuffle-free; the insert-detection anti-join touches only the
    base's url COLUMN, and only while uncompacted deltas exist —
    compaction (bounded at COMPACT_AFTER commits) returns reads to a
    pure base scan."""
    if deltas is None:
        return base
    per_url = deltas.groupBy("url").agg(
        *[F.max_by(F.col("value"),
                   F.when(F.col("col") == c, F.col("seq"))).alias(f"_d_{c}")
          for c in STATUS_COLS],
        F.max_by(F.col("run_id"), F.col("seq")).alias("_d_run"),
        F.max(F.when(F.col("is_upsert"), 1).otherwise(0)).alias("_ins"))
    fresh_rows = lambda df: df.select(  # noqa: E731
        "url",
        *[F.coalesce(F.col(f"_d_{c}"), F.lit(UNDEF)).alias(c)
          for c in STATUS_COLS],
        F.col("_d_run").alias("updated_run"))
    if base is None:
        return fresh_rows(per_url.where(F.col("_ins") == 1))
    updated = base.join(per_url, "url", "left").select(
        "url",
        *[F.coalesce(F.col(f"_d_{c}"), F.col(c), F.lit(UNDEF)).alias(c)
          for c in STATUS_COLS],
        F.coalesce(F.col("_d_run"), F.col("updated_run"))
         .alias("updated_run"))
    inserted = fresh_rows(
        per_url.where(F.col("_ins") == 1)
               .join(base.select("url"), "url", "left_anti"))
    return updated.unionByName(inserted)


def read_ledger(spark: SparkSession, workdir: str) -> DataFrame | None:
    base = current_snapshot(ledger_path(workdir))
    deltas = [d for _, d in committed(_delta_root(workdir))]
    if base is None and not deltas:
        return None
    return resolve(
        None if base is None
        else spark.read.schema(LEDGER_SCHEMA).parquet(base),
        spark.read.schema(DELTA_SCHEMA).parquet(*deltas) if deltas else None)


def init_ledger(spark: SparkSession, workdir: str, keys: DataFrame,
                key_col: str = "url") -> DataFrame:
    """Create the ledger with every key pending (''), deduplicated —
    Report.addFile's duplicate rejection. Whole-table by definition."""
    led = (keys.select(F.col(key_col).alias("url")).dropDuplicates(["url"])
           .withColumn("copied", F.lit(UNDEF))
           .withColumn("processed", F.lit(UNDEF))
           .withColumn("uploaded", F.lit(UNDEF))
           .withColumn("updated_run", F.lit("init")))
    _atomic_overwrite(led, ledger_path(workdir))
    _drop_deltas(workdir)
    return read_ledger(spark, workdir)


def _delta_rows(done_keys: DataFrame, status_col: str | tuple[str, ...],
                value: str, run_id: str, is_upsert: bool) -> DataFrame:
    cols = (status_col,) if isinstance(status_col, str) else status_col
    assert set(cols) <= set(STATUS_COLS), cols
    return (done_keys.select("url").dropDuplicates(["url"])
            .withColumn("col", F.explode(F.array(*map(F.lit, cols))))
            .withColumn("value", F.lit(value))
            .withColumn("run_id", F.lit(run_id))
            .withColumn("is_upsert", F.lit(is_upsert)))


def merge_status(spark: SparkSession, workdir: str, done_keys: DataFrame,
                 status_col: str | tuple[str, ...], value: str = YES,
                 run_id: str = "") -> None:
    """MERGE: set ``status_col=value`` (one column or a tuple of them)
    for known keys. O(batch) append — one delta commit; unknown keys
    resolve to no-ops at read."""
    _commit_delta(workdir,
                  _delta_rows(done_keys, status_col, value, run_id, False))
    _maybe_compact(spark, workdir)


def upsert_status(spark: SparkSession, workdir: str, done_keys: DataFrame,
                  status_col: str | tuple[str, ...], value: str = YES,
                  run_id: str = "") -> None:
    """MERGE with insert: keys absent from the ledger are added (other
    statuses ''). O(batch) append, one delta commit; the engine's
    finalize and the streaming ingest path use it."""
    _commit_delta(workdir,
                  _delta_rows(done_keys, status_col, value, run_id, True))
    _maybe_compact(spark, workdir)


def clear_statuses(spark: SparkSession, workdir: str) -> None:
    """retryall (reference :2001-2011): reset every status to pending.
    Whole-table by definition — compacts and rewrites the base."""
    cur = read_ledger(spark, workdir)
    if cur is None:
        return
    reset = cur
    for c in STATUS_COLS:
        reset = reset.withColumn(c, F.lit(UNDEF))
    _atomic_overwrite(reset, ledger_path(workdir))
    _drop_deltas(workdir)


def compact(spark: SparkSession, workdir: str) -> None:
    """Fold the delta log into a fresh base snapshot (Iceberg rewrite /
    Hudi compaction analog). Readers of the old version are unaffected —
    the CURRENT pointer flips atomically after the new base lands.

    The folded delta set is pinned BEFORE resolving: only those commits
    are dropped afterwards, so a commit landing between the resolve and
    the drop survives in the log instead of being silently lost."""
    folded = [os.path.basename(d)
              for _, d in committed(_delta_root(workdir))]
    cur = read_ledger(spark, workdir)
    if cur is None:
        return
    _atomic_overwrite(cur, ledger_path(workdir))
    _drop_deltas(workdir, only=folded)


def _maybe_compact(spark: SparkSession, workdir: str) -> None:
    if len(committed(_delta_root(workdir))) > COMPACT_AFTER:
        compact(spark, workdir)


def has_failures(led: DataFrame) -> bool:
    """Report.hasFailures (:2058-2066)."""
    cond = None
    for c in STATUS_COLS:
        p = F.col(c) == NO
        cond = p if cond is None else (cond | p)
    return led.where(cond).limit(1).count() > 0


def _atomic_overwrite(df: DataFrame, path: str,
                      sidecars: dict[str, str] | None = None) -> None:
    """Commit a new IMMUTABLE snapshot version and flip the CURRENT
    pointer atomically (os.replace) — the local twin of an Iceberg
    snapshot commit. Plans built against older versions keep reading
    their own immutable directories (reader isolation); a crash between
    write and pointer flip leaves the previous version current (no torn
    state). ``sidecars`` (file name -> text) land inside the version dir
    before the flip, so they commit atomically with the data; name them
    with a leading '_' to keep them invisible to parquet readers.
    ``expire_snapshots()`` reclaims superseded versions between runs."""
    os.makedirs(path, exist_ok=True)
    vname = f"v-{uuid.uuid4().hex[:12]}"
    vdir = os.path.join(path, vname)
    df.write.mode("overwrite").parquet(vdir)
    for name, text in (sidecars or {}).items():
        with open(os.path.join(vdir, name), "w") as f:
            f.write(text)
    ptr_tmp = os.path.join(path, f".CURRENT.tmp-{uuid.uuid4().hex[:6]}")
    with open(ptr_tmp, "w") as f:
        f.write(vname)
    os.replace(ptr_tmp, os.path.join(path, "CURRENT"))


def _drop_deltas(workdir: str, only: list[str] | None = None) -> None:
    """Retire delta commits after their contents landed in a base
    snapshot. Markers drop FIRST (readers instantly stop seeing the
    commit), then the data dirs. ``only`` restricts the drop to the
    named commits (compaction passes the set it folded); None drops
    everything (init/retryall whole-table rewrites)."""
    root = _delta_root(workdir)
    for _, d in committed(root):
        name = os.path.basename(d)
        if only is None or name in only:
            os.remove(os.path.join(root, f"_COMMITTED.{name}"))
    drop_uncommitted(root)


def expire_snapshots(root: str, keep: tuple[str, ...] = ()) -> int:
    """Drop every directory under the snapshot root ``root`` except the
    CURRENT version and the names in ``keep``: superseded versions and
    orphans of a crash before the pointer flip. Safe between runs (no
    live plans) — the Iceberg expire-snapshots analog."""
    if not os.path.isdir(root):
        return 0
    cur = current_snapshot(root)
    keep = {*keep, os.path.basename(cur) if cur else None}
    n = 0
    for name in os.listdir(root):
        full = os.path.join(root, name)
        if name not in keep and os.path.isdir(full):
            shutil.rmtree(full, ignore_errors=True)
            n += 1
    return n


def vacuum(workdir: str) -> int:
    """Drop superseded snapshot versions and orphaned (uncommitted)
    delta dirs. Safe between runs (no live plans)."""
    return (expire_snapshots(ledger_path(workdir), keep=("delta",))
            + drop_uncommitted(_delta_root(workdir)))
