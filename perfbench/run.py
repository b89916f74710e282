#!/usr/bin/env python3
"""Benchmark of the tiling engine: one workload, one seed, one closed loop.

    python3 perfbench/run.py --workload tile_join --seed 1 --seconds 10 \
        --trace 0

Run from the root of a checkout. One client issues one Spark job at a
time on ``local[<usable cores>]``. Set-up starts the session, generates
the seeded input tables, computes their reference outputs with DuckDB
and runs the workload once untimed; then the workload runs repeatedly
for ``--seconds``, each output checked against the reference, with
Spark's event log off. With ``--trace 1`` the session is then restarted
in the same JVM with the event log on, the workload runs again (the
traced wall), a traced pass times each layer, and per-layer metrics are
reported instead of end-to-end ones.

Standard output ends with a detail line (input shape, every sample with
its host context, sample counts) and then the result line::

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--workload all`` runs every workload in turn and prints a table.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

import eventlog
import host
import layers

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUP_REPS = 3        # generate + reference, repeated; setup_s takes the median
# Untimed warm-up: calls until WARM_S seconds have passed, and at least
# two (the first is cold; the JIT keeps speeding up later calls too)
WARM_S, WARM_CALLS = 12, 2
# a fixed driver heap, committed at start, so neither its size nor its
# resizing follows the host's RAM
DRIVER_MEMORY = "3g"

# end-to-end metric -> unit. passed_run_ratio is 1 - failed_run_ratio:
# runs whose call returned and whose output matched the reference, over
# runs attempted (a compared metric must not read 0 on a healthy run).
# Throughput (rows_per_s) and peak memory are reported, in the detail
# line and as the per-layer workload.rows_per_s and workload.peak_rss_mb,
# but not bounded: on a shared 4-core host their medians spread by up to
# a third across runs (CPU steal; a driver heap that grows with GC timing).
E2E = {"setup_s": "s", "stored_bytes_per_input_byte": "ratio",
       "passed_run_ratio": "ratio"}


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=layers.ALL + ("all",))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--plant-fault", action="store_true",
                    help="delete one output file after every timed call, "
                         "to show the output check counts it as failed")
    return ap.parse_args(argv)


def configure(work: str) -> None:
    """Keep every file Spark writes inside ``work`` and fix the settings
    that would otherwise follow the host. Call before the JVM starts."""
    local, tmp = os.path.join(work, "spark-local"), os.path.join(work, "tmp")
    os.makedirs(local)
    os.makedirs(tmp)
    args = ["--conf", "spark.ui.showConsoleProgress=false",
            "--driver-java-options",
            f"'-Djava.io.tmpdir={tmp} -Xms{DRIVER_MEMORY}'"]
    os.environ.update({
        "SPARK_LOCAL_DIRS": local, "TMPDIR": tmp,
        "PYSPARK_SUBMIT_ARGS": " ".join(args + ["pyspark-shell"]),
        "SPARK_DRIVER_MEMORY": DRIVER_MEMORY,
        # fixed-size batches: AQE partition coalescing would serialise
        # reduce stages below the core count (session.py)
        "SPARK_GRAFT_AQE_COALESCE": "false"})


def start(app: str):
    from optimizerasters_spark.session import get_spark
    cores = host.nproc()
    spark = get_spark(app, master=f"local[{cores}]",
                      shuffle_partitions=str(max(2 * cores, 8)))
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def restart_traced(spark, work: str):
    """Stop ``spark`` and start a new session in the same (warm) JVM with
    Spark's event log on. The spark.eventLog.* settings go in as JVM
    system properties, which the new context's SparkConf loads.
    Returns (session, event log directory)."""
    ev = os.path.join(work, "eventlog")
    os.makedirs(ev)
    app = spark.sparkContext.appName
    system = spark.sparkContext._jvm.java.lang.System
    spark.stop()
    system.setProperty("spark.eventLog.enabled", "true")
    system.setProperty("spark.eventLog.dir", f"file://{ev}")
    return start(app), ev


def stop(spark) -> None:
    """Stop the session and the JVM it started, and wait for both."""
    from pyspark import SparkContext
    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on stdin EOF
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def digest(paths: dict) -> str:
    h = hashlib.sha256()
    for k in sorted(paths):
        with open(paths[k], "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def plant_fault(out: str) -> None:
    """Delete the largest parquet file of the output."""
    files = [os.path.join(r, n) for r, _, ns in os.walk(out) for n in ns
             if n.endswith(".parquet")]
    os.remove(max(files, key=os.path.getsize))


def timed_call(spark, wl, paths, out, desc: str) -> dict:
    """One call of the workload under job description ``desc``."""
    s: dict = {}
    spark.sparkContext.setJobDescription(desc)
    t = time.perf_counter()
    try:
        wl.call(spark, paths, out)
    except Exception:  # a failed run is counted, not fatal
        s["error"] = traceback.format_exc(limit=3)
    s["wall_s"] = time.perf_counter() - t
    spark.sparkContext.setJobDescription(None)
    return s


def run(a, work: str) -> tuple[dict, dict]:
    configure(work)
    import inputs
    import reference
    import workloads as W

    wl = W.WORKLOADS[a.workload]
    t0 = time.perf_counter()
    spark = start(f"perfbench-{a.workload}")
    session_s = time.perf_counter() - t0
    problems: list[str] = []
    try:
        # -- set-up: inputs and references, repeated; then a warm-up run
        gen_ref, first = [], None
        for i in range(SETUP_REPS):
            t = time.perf_counter()
            d = os.path.join(work, f"input{i}")
            os.makedirs(d)
            gen = inputs.GENERATORS[a.workload](a.seed, d)
            con = reference.connect()
            reference.BUILDERS[a.workload](con, gen["paths"])
            gen_ref.append(time.perf_counter() - t)
            if first is None:
                first, ref_con = gen, con
            else:
                if digest(gen["paths"]) != digest(first["paths"]):
                    problems.append("inputs differ between set-ups")
                con.close()
                shutil.rmtree(d)
        paths, shape = first["paths"], first["describe"]
        out = os.path.join(work, "out")
        t, warm_calls = time.perf_counter(), 0
        while warm_calls < WARM_CALLS or time.perf_counter() - t < WARM_S:
            wl.call(spark, paths, out)
            warm_calls += 1
        warm_s = time.perf_counter() - t
        if any(wl.check(spark, ref_con, out).values()):
            problems.append("warm-up output differs from the reference")
        setup_s = session_s + statistics.median(gen_ref) + warm_s

        # -- timed closed loop, event log off
        jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle \
            .current().pid()
        rss = host.PeakRss(jvm_pid)
        samples = []
        rss.start()
        deadline = time.perf_counter() + a.seconds
        while True:
            with host.HostWindow() as hw:
                s = timed_call(spark, wl, paths, out, f"run.{a.workload}")
            s["host"] = hw.context
            if "error" not in s:
                if a.plant_fault:
                    plant_fault(out)
                s["mismatches"] = wl.check(spark, ref_con, out)
                s["output_bytes"] = W.du(out)[0]
            s["failed"] = "error" in s or any(s["mismatches"].values())
            samples.append(s)
            if time.perf_counter() >= deadline:
                break
        rss.stop()

        good = [s for s in samples if not s["failed"]] or samples
        wall = statistics.median(s["wall_s"] for s in good)
        failed = sum(s["failed"] for s in samples)
        detail = {"workload": a.workload, "seed": a.seed,
                  "cores": host.nproc(), "input": shape,
                  "samples": samples,
                  "rows_per_s": shape["rows"] / wall,
                  "peak_rss_mb": rss.peak_mb,
                  "failed_run_ratio": failed / len(samples),
                  "setup": {"session_s": session_s,
                            "generate_and_reference_s": gen_ref,
                            "warm_up_s": warm_s,
                            "warm_up_calls": warm_calls}}
        if not a.trace:
            stored = [s["output_bytes"] / shape["bytes"] for s in good
                      if "output_bytes" in s]
            metrics = {
                "setup_s": setup_s,
                "stored_bytes_per_input_byte": statistics.median(stored)
                if stored else 0.0,
                "passed_run_ratio": 1 - failed / len(samples)}
            detail["sample_counts"] = {
                "setup_s": SETUP_REPS, "rows_per_s": len(good),
                "stored_bytes_per_input_byte": len(stored),
                "passed_run_ratio": len(samples)}
            units = E2E
        else:
            m = trace(a, wl, spark, paths, ref_con, work, wall, detail,
                      problems)
            spark = None  # stopped by trace()
            m.update({"session.start_s": session_s,
                      "workload.rows_per_s": detail["rows_per_s"],
                      "workload.peak_rss_mb": rss.peak_mb})
            own = layers.own(a.workload)
            missing = sorted(set(own) - set(m))
            if missing:
                problems.append(f"per-layer metrics not measured: {missing}")
            # BENCHMARK.json's format asks a traced run for every
            # per-layer metric; those of layers this workload does not
            # run read 0
            metrics = {name: m.get(name, 0) if name in own else 0
                       for name in layers.UNITS}
            units = layers.UNITS
        detail["problems"] = problems
    finally:
        if spark is not None:
            stop(spark)
    result = {"correct": failed == 0 and not problems,
              "attempted": len(samples), "failed": failed,
              "metrics": {k: {"value": metrics[k], "unit": units[k]}
                          for k in units}}
    return result, detail


def trace(a, wl, spark, paths, ref_con, work, wall, detail, problems
          ) -> dict:
    """The traced run after the timed loop: restart with the event log
    on, make one untimed call (the new context runs its first call
    slower), time the workload again for half of ``--seconds`` (at least
    one call), run its traced layer pass and fold the event log. Stops
    the session. Returns the per-layer metrics it measured."""
    spark, ev_dir = restart_traced(spark, work)
    try:
        out = os.path.join(work, "traced_call")
        timed_call(spark, wl, paths, out, f"warm.{a.workload}")
        traced, deadline = [], time.perf_counter() + a.seconds / 2
        while not traced or time.perf_counter() < deadline:
            s = timed_call(spark, wl, paths, out, f"run.{a.workload}")
            if "error" in s or any(wl.check(spark, ref_con, out).values()):
                problems.append("traced call output differs from the "
                                "reference")
            traced.append(s["wall_s"])
        traced_wall = statistics.median(traced)
        t = time.perf_counter()
        tr = wl.trace(spark, paths, work, a.seed, ref_con)
        detail["traced_calls_s"] = traced
        detail["traced_pass_s"] = time.perf_counter() - t
        for k, v in tr.mismatches.items():
            if v:
                problems.append(f"traced pass output {k} differs from "
                                f"the reference ({v} rows)")
        eventlog.run_reconcile_job(spark)
    finally:
        stop(spark)
    counters = eventlog.fold(eventlog.read_events(ev_dir))
    if not eventlog.reconcile_ok(counters):
        problems.append("event log does not reconcile")
    m = dict(tr.metrics, **tr.counters(counters))
    run_c = counters.get(f"run.{a.workload}", eventlog.Counters())
    m.update({
        "workload.gc_ms": run_c.gc_ms / len(traced),
        "workload.spill_bytes": run_c.spill_bytes / len(traced),
        "workload.task_failures": run_c.failed_tasks,
        "workload.unattributed_s": traced_wall - tr.attributed_s,
        "workload.trace_overhead_ratio": traced_wall / wall})
    return m


def run_all(a) -> int:
    """Every workload in its own process; a table of the metrics."""
    bad = 0
    for name in layers.ALL:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload",
               name, "--seed", str(a.seed), "--seconds", str(a.seconds),
               "--trace", str(a.trace)]
        if a.plant_fault:
            cmd.append("--plant-fault")
        p = subprocess.run(cmd, capture_output=True, text=True)
        lines = p.stdout.strip().splitlines()
        if p.returncode or len(lines) < 2:
            print(f"{name}: exit {p.returncode}\n{p.stderr[-2000:]}")
            bad += 1
            continue
        detail, res = json.loads(lines[-2]), json.loads(lines[-1])
        bad += not res["correct"]
        print(f"{name}: correct={res['correct']} attempted="
              f"{res['attempted']} failed={res['failed']} failed_run_ratio="
              f"{detail['failed_run_ratio']:.3f} rows_per_s="
              f"{detail['rows_per_s']:.6g} peak_rss_mb="
              f"{detail['peak_rss_mb']:.6g}")
        for k, v in res["metrics"].items():
            print(f"  {k:40s} {v['value']:>16.6g} {v['unit']:6s} "
                  f"n={detail.get('sample_counts', {}).get(k, 1)}")
    return 1 if bad else 0


def main(argv=None) -> int:
    a = parse_args(argv)
    if a.workload == "all":
        return run_all(a)
    sys.path[:0] = [HERE, ROOT]
    try:
        import optimizerasters_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the package from {ROOT}: {e}",
              file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_work",
                        f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        result, detail = run(a, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(detail))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
