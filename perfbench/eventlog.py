"""Fold a Spark event log into counters per job description.

The harness turns the event log on for a traced session
(``spark.eventLog.enabled`` and ``spark.eventLog.dir``) and gives every
layer call its own job description, so each layer's Spark work can be
summed from ``SparkListenerTaskEnd`` records. Stages are attributed to
the description of the job that submitted them
(``SparkListenerStageSubmitted`` properties), so a stage that a later
job reuses is counted once.

Read the log after ``SparkSession.stop()``: the zstd stream is only
complete once the application has ended.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
from collections import defaultdict
from dataclasses import dataclass, field

DESC_KEY = "spark.job.description"


def log_files(log_dir: str) -> list[str]:
    """Event files under ``log_dir`` in write order. Spark writes either
    a rolling ``eventlog_v2_<app>/events_<n>_<app>[.zstd]`` directory
    or one ``<app>[.zstd]`` file."""
    out = []
    for d in sorted(glob.glob(os.path.join(log_dir, "eventlog_v2_*"))):
        parts = [p for p in os.listdir(d) if p.startswith("events_")]
        parts.sort(key=lambda p: int(p.split("_")[1]))
        out += [os.path.join(d, p) for p in parts]
    out += sorted(p for p in glob.glob(os.path.join(log_dir, "*"))
                  if os.path.isfile(p) and not p.endswith(".inprogress"))
    return out


def read_events(log_dir: str):
    """Yield each event of every log under ``log_dir`` as a dict."""
    import pyarrow as pa
    for path in log_files(log_dir):
        with open(path, "rb") as raw:
            if path.endswith(".zstd"):
                data = pa.CompressedInputStream(raw, "zstd").read()
            else:
                data = raw.read()
        for line in data.decode("utf-8").splitlines():
            if line:
                yield json.loads(line)


@dataclass
class Counters:
    """Spark work under one job description."""
    jobs: int = 0
    tasks: int = 0
    failed_tasks: int = 0
    run_ms: int = 0
    gc_ms: int = 0
    spill_bytes: int = 0
    shuffle_write_bytes: int = 0
    shuffle_write_records: int = 0
    shuffle_read_bytes: int = 0
    shuffle_read_records: int = 0
    fetch_wait_ms: int = 0
    # per stage: task durations (ms), for the skew of the busiest stage
    stage_tasks: dict = field(default_factory=lambda: defaultdict(list))

    def task_skew(self) -> float:
        """max / median task duration of the stage with the most task
        time (1.0 when it ran a single task)."""
        stages = [d for d in self.stage_tasks.values() if d]
        if not stages:
            return 0.0
        busiest = max(stages, key=sum)
        med = statistics.median(busiest)
        return max(busiest) / med if med > 0 else 1.0

    def minus(self, other: "Counters") -> dict:
        """Scalar counters of this description less those of another —
        a layer's own share when both descriptions force one fused plan
        and ``other`` forces its input."""
        return {k: getattr(self, k) - getattr(other, k)
                for k in SCALARS}


SCALARS = ("jobs", "tasks", "failed_tasks", "run_ms", "gc_ms",
           "spill_bytes", "shuffle_write_bytes", "shuffle_write_records",
           "shuffle_read_bytes", "shuffle_read_records", "fetch_wait_ms")


def fold(events) -> dict[str, Counters]:
    """Counters per job description ('' for jobs without one)."""
    stage_desc: dict[tuple[int, int], str] = {}
    out: dict[str, Counters] = defaultdict(Counters)
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            out[(ev.get("Properties") or {}).get(DESC_KEY, "")].jobs += 1
        elif kind == "SparkListenerStageSubmitted":
            info = ev["Stage Info"]
            desc = (ev.get("Properties") or {}).get(DESC_KEY, "")
            stage_desc[(info["Stage ID"], info["Stage Attempt ID"])] = desc
        elif kind == "SparkListenerTaskEnd":
            key = (ev["Stage ID"], ev["Stage Attempt ID"])
            c = out[stage_desc.get(key, "")]
            info = ev["Task Info"]
            c.tasks += 1
            if info.get("Failed") or \
                    ev["Task End Reason"].get("Reason") != "Success":
                c.failed_tasks += 1
            c.stage_tasks[key].append(info["Finish Time"]
                                      - info["Launch Time"])
            m = ev.get("Task Metrics") or {}
            c.run_ms += m.get("Executor Run Time", 0)
            c.gc_ms += m.get("JVM GC Time", 0)
            c.spill_bytes += (m.get("Memory Bytes Spilled", 0)
                              + m.get("Disk Bytes Spilled", 0))
            w = m.get("Shuffle Write Metrics") or {}
            c.shuffle_write_bytes += w.get("Shuffle Bytes Written", 0)
            c.shuffle_write_records += w.get("Shuffle Records Written", 0)
            r = m.get("Shuffle Read Metrics") or {}
            c.shuffle_read_bytes += (r.get("Remote Bytes Read", 0)
                                     + r.get("Local Bytes Read", 0))
            c.shuffle_read_records += r.get("Total Records Read", 0)
            c.fetch_wait_ms += r.get("Fetch Wait Time", 0)
    return dict(out)


# The reconciliation job: a groupBy over RECONCILE_ROWS rows with
# RECONCILE_KEYS keys on RECONCILE_MAPS map tasks. Map-side partial
# aggregation leaves one record per key per map task, so the job writes
# exactly RECONCILE_KEYS * RECONCILE_MAPS shuffle records.
RECONCILE_DESC = "check.eventlog_reconcile"
RECONCILE_ROWS, RECONCILE_KEYS, RECONCILE_MAPS = 100_000, 1_000, 4


def run_reconcile_job(spark) -> None:
    from pyspark.sql import functions as F
    spark.sparkContext.setJobDescription(RECONCILE_DESC)
    (spark.range(0, RECONCILE_ROWS, numPartitions=RECONCILE_MAPS)
     .groupBy((F.col("id") % RECONCILE_KEYS).alias("k")).count()
     .write.mode("overwrite").format("noop").save())
    spark.sparkContext.setJobDescription(None)


def reconcile_ok(counters: dict[str, Counters]) -> bool:
    c = counters.get(RECONCILE_DESC)
    return (c is not None and c.failed_tasks == 0 and
            c.shuffle_write_records == RECONCILE_KEYS * RECONCILE_MAPS)
