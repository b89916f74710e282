#!/usr/bin/env python3
"""spark-submit entry point for the LLM training-data pipeline
(exact dedup -> MinHash-LSH near-dup removal -> quality/lang gate ->
per-language rollup).

Cluster usage:

    zip -r engine.zip optimizerasters_spark
    spark-submit --py-files engine.zip jobs/run_training.py \
        --docs s3://bucket/documents --out s3://bucket/corpus_v2 \
        [--jaccard-micro 500000] [--min-tokens 5] [--materialize-reps]

Local smoke:

    python jobs/run_training.py --docs /root/testdata/sf0.001 \
        --out /tmp/corpus1 --master 'local[4]'
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--docs", required=True,
                    help="dir containing documents.parquet, or a parquet"
                         " path itself")
    ap.add_argument("--out", required=True)
    ap.add_argument("--jaccard-micro", type=int, default=500000)
    ap.add_argument("--min-tokens", type=int, default=5)
    ap.add_argument("--materialize-reps", action="store_true",
                    help="write exact-dedup survivors once and scan that"
                         " table downstream (the corpus-scale form)")
    ap.add_argument("--master", default=None,
                    help="override master (omit under spark-submit)")
    args = ap.parse_args()

    from optimizerasters_spark.operators import training
    from optimizerasters_spark.session import get_spark

    spark = get_spark("oraspark-training", master=args.master)
    spark.sparkContext.setLogLevel("WARN")

    path = args.docs
    if not path.endswith(".parquet"):
        path = os.path.join(path, "documents.parquet")
    docs = spark.read.parquet(path)
    reps_path = os.path.join(args.out, "reps") \
        if args.materialize_reps else None

    kept = training.training_kept(
        docs, jaccard_micro=args.jaccard_micro,
        min_tokens=args.min_tokens, reps_path=reps_path)
    kept.write.mode("overwrite").parquet(os.path.join(args.out, "kept"))

    from pyspark.sql import functions as F
    kept_back = spark.read.parquet(os.path.join(args.out, "kept"))
    rollup = (kept_back.groupBy("lang")
              .agg(F.count(F.lit(1)).alias("n_docs"),
                   F.sum("n_tokens").alias("total_tokens")))
    rollup.write.mode("overwrite").parquet(
        os.path.join(args.out, "rollup"))

    summary = {
        "input_docs": docs.count(),
        "kept_docs": kept_back.count(),
        "langs": rollup.count(),
        "out": args.out,
    }
    print(json.dumps(summary))
    spark.stop()


if __name__ == "__main__":
    main()
