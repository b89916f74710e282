"""Per-partition lineage + row-count metrics (north_rule requirement).

The reference records per-file wall times via the TimeIt decorator
(OptimizeRasters.py:245-282) and flushes them to CSV (:2094-2108). The
Spark analog, at ZERO extra passes over the data:

  * stage input row counts ride the stage's OWN action via
    ``Dataset.observe`` (an Observation aggregate accumulated per task
    and merged on the driver — no separate count job; round 1 ran one
    column-pruned count pass per stage, which the 100x thought
    experiment flags as a full extra scan of every input).
  * per-partition detail comes from the parquet FOOTERS of whatever the
    stage wrote (one part file per write task): driver-side metadata
    reads, O(#files), no Spark job, recorded under ``<stage>.files``.

Each stage appends its stage row and its ``<stage>.files`` rows to the
metrics table in ONE write of one part file.
"""

from __future__ import annotations

import glob
import os
import time

import pyarrow as pa
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

METRICS_SCHEMA = ("run_id STRING, stage STRING, partition_id INT, "
                  "rows BIGINT, wall_ms BIGINT")


def metrics_path(workdir: str) -> str:
    return os.path.join(workdir, "metrics")


def parquet_file_counts(path: str) -> list[tuple[int, int]]:
    """(file_index, rows) per part file from parquet footers only —
    pyarrow metadata reads, no data pages touched, no Spark job."""
    import pyarrow.parquet as pq
    out = []
    for i, f in enumerate(sorted(glob.glob(os.path.join(path, "part-*")))):
        try:
            out.append((i, pq.ParquetFile(f).metadata.num_rows))
        except Exception:
            continue
    return out


class StageTimer:
    """Context manager: time a stage and append its lineage rows.

    Usage::

        with StageTimer(spark, wd, run, "process") as st:
            df = st.observe(input_df)   # counts ride the real action
            ... actions on df / its descendants ...
            st.add_output_dir(written_dir)  # per-partition via footers

    The observed count is recorded as one (partition_id=-1) row under
    the stage name; each registered output dir contributes per-file rows
    under ``<stage>.files``."""

    def __init__(self, spark: SparkSession, workdir: str, run_id: str,
                 stage: str):
        self.spark, self.workdir = spark, workdir
        self.run_id, self.stage = run_id, stage
        self._obs: Observation | None = None
        self._out_dirs: list[str] = []

    def observe(self, df: DataFrame) -> DataFrame:
        """Instrument the stage input: the returned DataFrame MUST flow
        into the stage's action(s) or the observation never fires."""
        self._obs = Observation(f"{self.stage}-{self.run_id}")
        return df.observe(self._obs, F.count(F.lit(1)).alias("rows"))

    def add_output_dir(self, path: str) -> None:
        self._out_dirs.append(path)

    def __enter__(self):
        self.t0 = time.perf_counter()
        return self

    def __exit__(self, *exc):
        if exc[0] is not None:
            return False
        wall = int((time.perf_counter() - self.t0) * 1000)
        n = 0
        if self._obs is not None:
            try:
                n = self._obs.get["rows"]
            except Exception:
                # AQE empty-relation propagation replaces the whole
                # subtree (including CollectMetrics) with an empty
                # LocalTableScan when a shuffle stage materializes
                # empty — the observation then carries no row, which
                # MEANS zero input rows.
                n = 0
        rows = [(self.run_id, self.stage, -1, int(n), wall)]
        for d in self._out_dirs:
            rows += [(self.run_id, f"{self.stage}.files", i, k, wall)
                     for i, k in parquet_file_counts(d)]
        # a handful of driver rows as one Arrow table: the JVM decodes
        # the batch itself, so the append starts no Python worker (an
        # RDD of the rows would, at 0.3-0.45 s per append); one part
        # file per append
        schema = StructType.fromDDL(METRICS_SCHEMA)
        table = pa.table([list(c) for c in zip(*rows)], names=schema.names)
        self.spark.createDataFrame(table, schema).coalesce(1) \
            .write.mode("append").parquet(metrics_path(self.workdir))
        return False


def read_metrics(spark: SparkSession, workdir: str) -> DataFrame | None:
    p = metrics_path(workdir)
    if not os.path.exists(p):
        return None
    return spark.read.parquet(p)
