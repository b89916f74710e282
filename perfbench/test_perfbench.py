"""Checks of the benchmark's own parts:

    python3 -m pytest perfbench/test_perfbench.py -q

The event-log reconciliation test starts a Spark session in a child
process and restarts it with the event log on, as a traced run does
(about 20 s); the rest need no Spark.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import eventlog  # noqa: E402
import inputs  # noqa: E402
import layers  # noqa: E402
import run  # noqa: E402


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_spec_matches_harness():
    spec = _spec()
    assert [w["name"] for w in spec["workloads"]] == list(layers.ALL)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.E2E
    assert [(m["name"], m["unit"], m["better"]) for m in spec["per_layer"]] \
        == [(n, u, b) for n, u, b, *_ in layers.LAYERS]
    # every per-layer metric is measured on some workload, and each
    # workload measures its scan and its own whole-workload metrics
    measured = [n for w in layers.ALL for n in layers.own(w)]
    assert set(measured) == set(layers.UNITS)
    for w in layers.ALL:
        assert {"scan.self_s", "workload.trace_overhead_ratio"} <= \
            set(layers.own(w))


def test_same_seed_same_inputs_other_seed_same_shape(tmp_path):
    for name, gen in dict(inputs.GENERATORS, ingest=inputs.ingest).items():
        a, b, c = (tmp_path / f"{name}{i}" for i in range(3))
        for d in (a, b, c):
            d.mkdir()
        ga, gb = gen(5, str(a)), gen(5, str(b))
        gc = gen(6, str(c))
        assert run.digest(ga["paths"]) == run.digest(gb["paths"])
        assert run.digest(ga["paths"]) != run.digest(gc["paths"])
        for k in ga["paths"]:
            if name == "corpus_build" and k != "pages":
                continue  # the side tables follow the seeded hosts
            assert pq.read_metadata(ga["paths"][k]).num_rows == \
                pq.read_metadata(gc["paths"][k]).num_rows
        shape_a = dict(ga["describe"], bytes=0)
        assert shape_a == dict(gc["describe"], bytes=0)


def test_fold_attributes_tasks_to_the_submitting_description():
    def task(stage, ms, records, ok=True):
        return {"Event": "SparkListenerTaskEnd", "Stage ID": stage,
                "Stage Attempt ID": 0,
                "Task End Reason": {"Reason": "Success" if ok else "Lost"},
                "Task Info": {"Launch Time": 0, "Finish Time": ms,
                              "Failed": not ok},
                "Task Metrics": {"Executor Run Time": ms, "JVM GC Time": 1,
                                 "Shuffle Write Metrics": {
                                     "Shuffle Bytes Written": 10 * records,
                                     "Shuffle Records Written": records}}}
    events = [
        {"Event": "SparkListenerJobStart",
         "Properties": {eventlog.DESC_KEY: "a"}},
        {"Event": "SparkListenerStageSubmitted",
         "Stage Info": {"Stage ID": 0, "Stage Attempt ID": 0},
         "Properties": {eventlog.DESC_KEY: "a"}},
        task(0, 10, 5), task(0, 30, 5),
        {"Event": "SparkListenerJobStart",
         "Properties": {eventlog.DESC_KEY: "b"}},
        {"Event": "SparkListenerStageSubmitted",
         "Stage Info": {"Stage ID": 1, "Stage Attempt ID": 0},
         "Properties": {eventlog.DESC_KEY: "b"}},
        task(1, 20, 7, ok=False),
    ]
    c = eventlog.fold(events)
    assert (c["a"].jobs, c["a"].tasks, c["a"].shuffle_write_records,
            c["a"].shuffle_write_bytes, c["a"].gc_ms) == (1, 2, 10, 100, 2)
    assert c["a"].task_skew() == 30 / 20
    assert (c["b"].failed_tasks, c["b"].shuffle_write_records) == (1, 7)
    assert c["b"].minus(c["a"])["shuffle_write_records"] == -3


RECONCILE = f"""
import os, sys, shutil
sys.path[:0] = [{HERE!r}, {ROOT!r}]
import run, eventlog
work = sys.argv[1]
run.configure(work)
spark, ev = run.restart_traced(run.start("reconcile"), work)
eventlog.run_reconcile_job(spark)
run.stop(spark)
c = eventlog.fold(eventlog.read_events(ev))
print(c[eventlog.RECONCILE_DESC].shuffle_write_records,
      eventlog.reconcile_ok(c))
"""


def test_event_log_reconciles_on_a_tiny_job(tmp_path):
    p = subprocess.run([sys.executable, "-c", RECONCILE,
                        str(tmp_path / "work")],
                       capture_output=True, text=True, timeout=300)
    assert p.returncode == 0, p.stderr[-2000:]
    records, ok = p.stdout.split()
    assert int(records) == eventlog.RECONCILE_KEYS * eventlog.RECONCILE_MAPS
    assert ok == "True"
