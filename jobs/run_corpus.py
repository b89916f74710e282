#!/usr/bin/env python3
"""spark-submit entry point for the COMPLETE crawl-to-shards corpus
build (training.corpus_pipeline): canonicalize -> robots politeness ->
blocklist -> dedup stack + quality gate -> decontaminate -> stratified
mix -> token-budget shards.

Cluster usage (north_rule deployment path):

    zip -r engine.zip optimizerasters_spark
    spark-submit --py-files engine.zip jobs/run_corpus.py \
        --sf-dir s3://bucket/pages --out s3://bucket/shards \
        [--robots s3://bucket/robots.parquet] \
        [--blocklist s3://bucket/blocked.parquet] \
        [--benchmark s3://bucket/benchmark.parquet] \
        [--rates en=200,de=500,zh=1000] [--budget 4096]

Local smoke:

    python jobs/run_corpus.py --sf-dir /root/testdata/sf0.001 \
        --out /tmp/shards --master 'local[4]' --rates en=1000,de=1000

Optional tables: robots (host, robots_txt), blocklist (bdom),
benchmark (doc_id, text) — each parquet; omitted stages no-op.
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
    ap.add_argument("--out", required=True)
    ap.add_argument("--robots", default=None)
    ap.add_argument("--blocklist", default=None)
    ap.add_argument("--benchmark", default=None)
    ap.add_argument("--rates", default=None,
                    help="per-lang sample rates out of 1000, "
                         "e.g. en=200,de=500")
    ap.add_argument("--budget", type=int, default=4096)
    ap.add_argument("--master", default=None,
                    help="override master (omit under spark-submit)")
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from optimizerasters_spark.operators import training
    from optimizerasters_spark.pages import synth_pages
    from optimizerasters_spark.session import get_spark

    spark = get_spark("oraspark-corpus", master=args.master)
    spark.sparkContext.setLogLevel("WARN")

    pages = synth_pages(spark, args.sf_dir)
    read = (lambda p: spark.read.parquet(p) if p else None)
    rates = None
    if args.rates:
        rates = {k: int(v) for k, v in
                 (kv.split("=") for kv in args.rates.split(","))}
    shards = training.corpus_pipeline(
        pages,
        robots=read(args.robots),
        blocked=read(args.blocklist),
        benchmark=read(args.benchmark),
        rates_milli=rates,
        budget_tokens=args.budget)
    shards.write.mode("overwrite").parquet(args.out)
    written = spark.read.parquet(args.out)
    summary = {
        "docs": written.count(),
        "shards": written.select("lang", "shard_id").distinct().count(),
        "tokens": written.agg(F.sum("n_tokens")).collect()[0][0],
        "out": args.out,
    }
    print(json.dumps(summary))
    spark.stop()


if __name__ == "__main__":
    main()
