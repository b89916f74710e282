#!/usr/bin/env python3
"""Round-6 measurement harness (guide §1): per-query noop-sink isolation,
stage breakdowns for the hot paths, and .explain("formatted") capture.

bench.py is FROZEN for the driver's measurement; all extra benchmarking
lives here.  Usage:

  python bench_extra.py q1 q2 ...          # time contract queries (noop sink)
  python bench_extra.py --stages flagship   # stage breakdown of a hot path
  python bench_extra.py --plans plans/r06 --suffix before q1 q2
  SPARK_GRAFT_SF_DIR=/root/testdata/sf1.0 python bench_extra.py ivf_topk

Env contract matches bench.py: $SPARK_GRAFT_SF_DIR, $SPARK_GRAFT_CPUS,
master local[$SPARK_GRAFT_CPUS], min/median of $SPARK_GRAFT_BENCH_RUNS.
"""

from __future__ import annotations

import argparse
import contextlib
import io
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")
os.environ.setdefault("SPARK_GRAFT_AQE_COALESCE", "false")


def _noop(df) -> None:
    df.write.mode("overwrite").format("noop").save()


def _steal() -> int:
    with open("/proc/stat") as f:
        return int(f.readline().split()[8])  # steal ticks, cumulative


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="*")
    ap.add_argument("--runs", type=int,
                    default=int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3")))
    ap.add_argument("--stages", action="append", default=[],
                    help="hot-path stage breakdown: flagship|substr")
    ap.add_argument("--plans", default=None,
                    help="directory to write explain('formatted') files")
    ap.add_argument("--suffix", default="before")
    ap.add_argument("--replicate", type=int,
                    default=int(os.environ.get("SPARK_GRAFT_REPLICATE",
                                               "4000")))
    args = ap.parse_args()

    from optimizerasters_spark import contract
    from optimizerasters_spark.operators import dedup, spatial, training
    from optimizerasters_spark.pages import (
        synth_boundaries, synth_docs_scaled, synth_pages_scaled,
    )
    from optimizerasters_spark.session import get_spark

    master = os.environ.get("SPARK_GRAFT_MASTER", f"local[{CPUS}]")
    shuf = os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS",
                          str(max(int(CPUS) * 2, 8)))
    spark = get_spark("oraspark-bench-extra", master=master,
                      shuffle_partitions=shuf)
    spark.sparkContext.setLogLevel("ERROR")

    timings: dict[str, dict] = {}

    def bench(name: str, fn) -> None:
        spark.sparkContext.setJobDescription(name)
        samples, steals = [], []
        for _ in range(args.runs):
            s0, t0 = _steal(), time.perf_counter()
            fn()
            samples.append(round(time.perf_counter() - t0, 3))
            steals.append(_steal() - s0)
        srt = sorted(samples)
        timings[name] = {"min": srt[0], "median": srt[len(srt) // 2],
                         "samples": samples, "steal_ticks": steals}
        spark.sparkContext.setJobDescription(None)
        print(f"  {name}: min={srt[0]} median={srt[len(srt) // 2]} "
              f"samples={samples} steal={steals}", file=sys.stderr)

    # -- composite (flagship) queries, the definitions bench.py times --
    def flagship_df():
        p = dedup.dedup_latest(
            synth_pages_scaled(spark, SF_DIR, args.replicate)
            .select("url", "doc_id", "warc_epoch", "lon_md", "lat_md"))
        return spatial.tile_polygon_counts(p, synth_boundaries(spark))

    def training_flagship_df():
        return training.training_flagship_rollup(
            synth_docs_scaled(spark, SF_DIR, 10))

    COMPOSITES = {"flagship_e2e": flagship_df,
                  "training_flagship": training_flagship_df}

    def get_df(name: str):
        if name in COMPOSITES:
            return COMPOSITES[name]()
        return contract.QUERIES[name](spark, SF_DIR)

    # -- stage breakdowns ------------------------------------------------
    def stages_flagship() -> None:
        bench("fs1_synth_count",
              lambda: synth_pages_scaled(spark, SF_DIR,
                                         args.replicate).count())
        proj = synth_pages_scaled(spark, SF_DIR, args.replicate).select(
            "url", "doc_id", "warc_epoch", "lon_md", "lat_md")
        bench("fs2_synth_project", lambda: _noop(proj))
        dd = dedup.dedup_latest(proj)
        bench("fs3_dedup", lambda: _noop(dd))
        bench("fs4_full", lambda: _noop(flagship_df()))

    def stages_substr() -> None:
        q = contract.QUERIES["substr_overlap"]
        df = q(spark, SF_DIR)
        bench("ss_full", lambda: _noop(df))

    STAGES = {"flagship": stages_flagship, "substr": stages_substr}

    for s in args.stages:
        STAGES[s]()

    # -- plan capture ----------------------------------------------------
    if args.plans:
        os.makedirs(args.plans, exist_ok=True)
        for name in args.names:
            df = get_df(name)
            buf = io.StringIO()
            with contextlib.redirect_stdout(buf):
                df.explain("formatted")
            path = os.path.join(args.plans, f"{name}_{args.suffix}.txt")
            with open(path, "w") as f:
                f.write(buf.getvalue())
            print(f"  wrote {path}", file=sys.stderr)
        spark.stop()
        return

    # -- timed queries ---------------------------------------------------
    for name in args.names:
        bench(name, lambda name=name: _noop(get_df(name)))

    print(json.dumps({"sf": SF_DIR.rstrip("/").split("sf")[-1],
                      "cpus": int(CPUS), "runs": args.runs,
                      "timings": timings}))
    spark.stop()


if __name__ == "__main__":
    main()
