"""Window / ordered operators (SURVEY.md §2.5-2.6).

  * ``running_sum`` — the one running total over an ordered table. A8
    free-space target scan (CleanMRFCache.py:168-196: oldest-first
    cumulative size until the target is freed) is a threshold on it;
    the S13 proxy CSV's dense ids (manifest.proxy_csv_rows) are a
    running count. Money/size kept in integer cents so the cumulative
    comparison is exact and engine-independent.
  * A7 per-file timing pivot — TimeIt (:245-282) + writeTimeItReport
    (:2094-2108): rows of (entity, stage, seconds) -> one row per entity
    with a column per stage.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql.window import Window


def running_sum(rows: DataFrame, order_cols: list[str],
                amount: Column) -> DataFrame:
    """Every row of ``rows`` plus ``_cum``, the inclusive running total
    of ``amount`` in ``order_cols`` order, and ``_total``, its sum over
    all rows. Ties in ``order_cols`` take an arbitrary order.

    Two-phase prefix sum, with no partition-less window over ``rows``:
    range-partition on the order columns and stamp each row with its
    partition id ``_pid``; run the running sum within each ``_pid``
    (bucket-local sorts, in parallel) and add the summed totals of the
    buckets before it, taken from the per-``_pid`` totals table
    (O(#partitions) rows, broadcast back). Both branches must see one
    bucket per row, and a range exchange samples its own bounds each
    time it runs, so the stamped table is local-checkpointed and both
    branches read that one partition assignment. Building this
    DataFrame therefore fires the range sampling and the shuffle below
    the checkpoint; the checkpoint fills on the first action. It keeps
    every column of ``rows``, so callers project first."""
    ordered = [F.col(c) for c in order_cols]
    staged = (rows.repartitionByRange(*ordered)
              .withColumn("_pid", F.spark_partition_id())
              .withColumn("_amt", amount)
              .localCheckpoint(eager=False))
    totals = staged.groupBy("_pid").agg(F.sum("_amt").alias("_t"))
    before = Window.orderBy("_pid").rowsBetween(Window.unboundedPreceding,
                                                -1)
    offsets = totals.select(
        "_pid",
        F.coalesce(F.sum("_t").over(before), F.lit(0)).alias("_off"),
        F.sum("_t").over(Window.partitionBy()).alias("_total"))
    upto = Window.partitionBy("_pid").orderBy(*ordered) \
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return (staged.withColumn("_cum", F.sum("_amt").over(upto))
            .join(F.broadcast(offsets), "_pid")
            .withColumn("_cum", F.col("_off") + F.col("_cum"))
            .drop("_pid", "_amt", "_off"))


def cumulative_until_target(events: DataFrame, order_cols: list[str],
                            amount_col: str, target_num: int,
                            target_den: int) -> DataFrame:
    """Rows (in order) whose running total stays <= total * num/den,
    with that running total as ``cum_amount``.

    Exact integer arithmetic: amounts must already be integral (cents).
    A filter on ``running_sum``, so its jobs fire when this DataFrame is
    built."""
    return (running_sum(events, order_cols, F.col(amount_col))
            .where(F.col("_cum") * target_den <=
                   F.col("_total") * target_num)
            .withColumnRenamed("_cum", "cum_amount")
            .drop("_total"))


def apply_eviction(victims: DataFrame) -> int:
    """A8 action: DELETE the selected victim files, ``victims``' ``path``
    column (CleanMRFCache.py :168-196 removes oldest-first until the
    space target is met; the selection is ``cumulative_until_target``,
    this applies it).

    foreachPartition — a distributed side-effect sink: each executor
    deletes its shard of paths; genuinely imperative work, so this is
    one of the few sanctioned non-DataFrame spots. Missing files are
    tolerated (another worker or the OS may have raced us — the
    reference ignores unlink errors the same way). Returns the number
    of files actually removed (accumulator-counted)."""
    sc = victims.sparkSession.sparkContext
    acc = sc.accumulator(0)

    def rm(rows):
        import os
        n = 0
        for r in rows:
            try:
                os.remove(r["path"])
                n += 1
            except FileNotFoundError:
                pass
        acc.add(n)

    victims.select("path").foreachPartition(rm)
    return acc.value


def stage_pivot(metrics: DataFrame, entity_col: str, stage_col: str,
                amount_col: str, stages: list[str]) -> DataFrame:
    """A7: explicit stage list keeps the plan static (no extra distinct
    job to discover pivot values)."""
    return (metrics.groupBy(entity_col)
            .pivot(stage_col, stages)
            .sum(amount_col)
            .na.fill(0))


def asof_join(queries: DataFrame, versions: DataFrame) -> DataFrame:
    """As-of join (SURVEY.md J6 done for real): each (url, q_epoch)
    query row gets the LATEST (url, warc_epoch, doc_id) version at or
    before its timestamp (ties -> lowest doc_id), NULL when no version
    qualifies.

    Shape: one equi-join on url + ONE max_by aggregation per
    (url, q_epoch) — the timestamp predicate folds into the max_by key
    (NULL-keyed rows are skipped), so the shuffle carries one row per
    (url, query) per map task after partial combine; never a window
    over every (query x version) pair and never a range θ-join."""
    q = queries.select("url", "q_epoch").dropDuplicates(["url", "q_epoch"])
    j = q.join(versions, "url", "left")
    valid = F.col("warc_epoch") <= F.col("q_epoch")
    # (ts, -id) packed into one BIGINT so the tiebreak is one orderable
    # key on any engine (epoch * 1e8 dominates any id < 1e8)
    ord_key = F.when(valid, F.col("warc_epoch") * F.lit(100000000) -
                     F.col("doc_id"))
    picked = F.max_by(
        F.struct(F.col("doc_id").alias("vid"),
                 F.col("warc_epoch").alias("vts")), ord_key)
    return (j.groupBy("url", "q_epoch")
            .agg(picked.alias("_m"))
            .select("url", "q_epoch",
                    F.col("_m.vid").alias("matched_id"),
                    F.col("_m.vts").alias("matched_epoch")))
