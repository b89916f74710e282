#!/usr/bin/env python3
"""Benchmark the headline queries at $SPARK_GRAFT_SF_DIR (default sf0.1)
on local[$SPARK_GRAFT_CPUS]. Prints ONE JSON line:
{"metric": ..., "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Headline = the flagship pipeline (dedup -> tile assign -> PIP join ->
per-tile aggregation) over a replicated pages table
(SPARK_GRAFT_REPLICATE x documents, default 100 -> ~500k pages at sf0.1);
throughput reported as pages/sec. Individual operator timings use the
un-replicated contract queries.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")
REPLICATE = int(os.environ.get("SPARK_GRAFT_REPLICATE", "4000"))
# fixed-size batch: AQE coalesce would serialize reduce stages (see
# session.py); production pipelines keep it on
os.environ.setdefault("SPARK_GRAFT_AQE_COALESCE", "false")


def main() -> None:
    from pyspark.sql import functions as F

    from optimizerasters_spark import contract
    from optimizerasters_spark.operators import dedup, spatial, training
    from optimizerasters_spark.pages import (
        synth_boundaries, synth_docs_scaled, synth_pages_scaled,
    )
    from optimizerasters_spark.session import get_spark

    master = os.environ.get("SPARK_GRAFT_MASTER", f"local[{CPUS}]")
    shuf = os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS",
                          str(max(int(CPUS) * 2, 8)))
    spark = get_spark("oraspark-bench", master=master,
                      shuffle_partitions=shuf)
    spark.sparkContext.setLogLevel("ERROR")

    pages = synth_pages_scaled(spark, SF_DIR, REPLICATE)
    n_pages = pages.count()  # also warms JVM + scan

    timings: dict[str, float] = {}
    # min-of-3 default: this host shows bursty kernel/steal contention at
    # high thread counts (see BENCH.md); one bad window otherwise poisons
    # the headline number
    runs = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3"))

    medians: dict[str, float] = {}

    def bench(name: str, fn) -> None:
        # report BOTH min (shields against this host's bursty steal) and
        # median (so a regression can't hide behind one lucky window)
        samples = []
        for _ in range(runs):
            t0 = time.perf_counter()
            fn()
            samples.append(time.perf_counter() - t0)
        samples.sort()
        timings[name] = round(samples[0], 3)
        medians[name] = round(samples[len(samples) // 2], 3)

    def flagship():
        # tiling+join headline needs no payload columns: project BEFORE the
        # dedup (the explicit max_by struct would otherwise drag text/html
        # through the shuffle — Catalyst cannot prune through it)
        p = dedup.dedup_latest(
            synth_pages_scaled(spark, SF_DIR, REPLICATE)
            .select("url", "doc_id", "warc_epoch", "lon_md", "lat_md"))
        (spatial.tile_polygon_counts(p, synth_boundaries(spark))
         .write.mode("overwrite").format("noop").save())

    bench("flagship_e2e", flagship)

    only = os.environ.get("SPARK_GRAFT_ONLY", "")

    # second flagship: the LLM training-data pipeline (exact dedup ->
    # MinHash LSH near-dup removal -> quality/lang gate -> rollup) over
    # a replicated documents table seeded with exact AND near duplicates
    docs_rep = int(os.environ.get("SPARK_GRAFT_REPLICATE_DOCS", "10"))
    n_docs = 0
    if only != "flagship":
        n_docs = synth_docs_scaled(spark, SF_DIR, docs_rep).count()

        def training_flagship():
            d = synth_docs_scaled(spark, SF_DIR, docs_rep)
            (training.training_flagship_rollup(d)
             .write.mode("overwrite").format("noop").save())

        bench("training_flagship", training_flagship)

        # third flagship: the COMPLETE crawl->shards corpus build
        # (canonicalize -> robots -> blocklist -> dedup stack ->
        # decontaminate -> shard packing) over the same replicated
        # pages, with per-host robots bodies and a benchmark slice
        def corpus_e2e():
            from optimizerasters_spark.operators import web
            p = synth_pages_scaled(spark, SF_DIR, docs_rep)
            i = F.col("doc_id")
            hosts = (web.url_parts(p).where(i % 4 == 0)
                     .groupBy("host").agg(F.min("doc_id").alias("hid")))
            robots = hosts.select(
                "host",
                F.when(F.col("hid") % 8 == 0,
                       F.lit("User-agent: *\nDisallow: /p/\n"))
                 .otherwise(F.lit("User-agent: evilbot\n"
                                  "Disallow: /p/\n"))
                 .alias("robots_txt"))
            blocked = (web.url_parts(p).where(i % 41 == 0)
                       .select(F.col("domain").alias("bdom")).distinct())
            bench_docs = p.where(i % 97 == 0).select("doc_id", "text")
            (training.corpus_pipeline(p, robots=robots, blocked=blocked,
                                      benchmark=bench_docs)
             .write.mode("overwrite").format("noop").save())

        bench("corpus_e2e", corpus_e2e)

    qnames = [] if only == "flagship" else [
        "tile_assign", "tile_counts_pyramid", "pip_join",
        "knn_per_cell", "dedup_latest", "minhash_lsh_pairs",
        "cosine_topk", "pricing_summary", "ngram_jaccard",
        "top_tokens", "ivf_topk", "salted_cell_payloads",
        "rasterize_tiles", "pip_join_convex", "pip_join_ring",
        "pyramid_resample", "kmeans_assign", "chunk_documents",
        "sq_encode", "pii_scrub", "paragraph_dedup", "decontaminate",
        "pq_adc_topk", "remove_boilerplate", "dup_components",
        # round-5 additions
        "ivf_pq_residual", "url_canonicalize", "link_graph", "pagerank",
        "shard_pack", "cell_compact", "substr_overlap", "cell_zorder",
        "ring_polyfill", "tfidf_topk", "route_cells"]
    for qname in qnames:
        q = contract.QUERIES[qname]
        bench(qname, lambda q=q: q(spark, SF_DIR)
              .write.mode("overwrite").format("noop").save())

    out = {
        "metric": "flagship_pipeline_sec",
        "value": timings["flagship_e2e"],
        "unit": "sec",
        "pages_per_sec": round(n_pages / timings["flagship_e2e"], 1),
        "pages_per_sec_median": round(
            n_pages / medians["flagship_e2e"], 1),
        "queries": timings,
        "queries_median": medians,
        "sf": SF_DIR.rstrip("/").split("sf")[-1],
        "flagship_sec": timings["flagship_e2e"],
        "flagship_sec_median": medians["flagship_e2e"],
        "training_flagship_sec": timings.get("training_flagship"),
        "training_flagship_sec_median": medians.get("training_flagship"),
        "training_docs": n_docs,
        "training_docs_per_sec": round(
            n_docs / timings["training_flagship"], 1)
        if "training_flagship" in timings else None,
        "pages": n_pages,
        "replicate": REPLICATE,
        "replicate_docs": docs_rep,
        "cpus": int(CPUS),
    }
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
