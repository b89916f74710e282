#!/usr/bin/env python3
"""spark-submit entry point for the tiling + spatial-join pipeline.

Cluster usage (north_rule deployment path):

    zip -r engine.zip optimizerasters_spark
    spark-submit --py-files engine.zip jobs/run_pipeline.py \
        --sf-dir s3://bucket/pages --workdir s3://bucket/job1 \
        --levels 0,4,8 [--resume retryall]

Local smoke:

    python jobs/run_pipeline.py --sf-dir /root/testdata/sf0.001 \
        --workdir /tmp/job1 --master 'local[4]'
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", required=True)
    ap.add_argument("--workdir", required=True)
    ap.add_argument("--levels", default="0,4,8")
    ap.add_argument("--resume", default="resume",
                    choices=["resume", "retryall"])
    ap.add_argument("--master", default=None,
                    help="override master (omit under spark-submit)")
    args = ap.parse_args()

    from optimizerasters_spark import Engine, JobConf
    from optimizerasters_spark.session import get_spark

    spark = get_spark("oraspark-pipeline", master=args.master)
    spark.sparkContext.setLogLevel("WARN")

    conf = JobConf(sf_dir=args.sf_dir, workdir=args.workdir,
                   levels=[int(x) for x in args.levels.split(",")],
                   resume=args.resume)
    eng = Engine(conf)
    res = eng.run(spark)
    summary = {
        "run_id": eng.run_id,
        "pages": res["page_tiles"].count(),
        "tiles": res["tile_counts"].count(),
        "manifests": res["manifest"].count(),
        "has_failures": eng.has_failures(spark),
    }
    print(json.dumps(summary))
    spark.stop()
    sys.exit(1 if summary["has_failures"] else 0)


if __name__ == "__main__":
    main()
