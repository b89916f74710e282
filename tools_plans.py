#!/usr/bin/env python3
"""Regenerate PLANS.md — captured .explain("formatted") of the core
operators (the shapes asserted in tests/test_plans.py)."""
import sys, os
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from optimizerasters_spark.session import get_spark
from optimizerasters_spark.operators import dedup, spatial
from optimizerasters_spark.pages import synth_pages, synth_boundaries


def _top_tokens_plan(spark, sf, plan):
    from optimizerasters_spark.contract import q_top_tokens
    return plan(q_top_tokens(spark, sf))


def _proxy_csv_plan(spark, sf, plan):
    from optimizerasters_spark.contract import q_proxy_csv
    return plan(q_proxy_csv(spark, sf))


def _kmeans_assign_plan(spark, sf, plan):
    from optimizerasters_spark.contract import q_kmeans_assign
    return plan(q_kmeans_assign(spark, sf))


def _pip_ring_plan(spark, sf, plan):
    from optimizerasters_spark.pages import synth_ring_polys
    p = synth_pages(spark, sf)
    return plan(spatial.pip_join_ring(p, synth_ring_polys(spark))
                .select("doc_id", "polygon_id"))


def _paragraph_dedup_plan(spark, sf, plan):
    from optimizerasters_spark.contract import q_paragraph_dedup
    return plan(q_paragraph_dedup(spark, sf))


def _url_canon_plan(spark, sf, plan):
    from optimizerasters_spark.operators import web
    return plan(web.url_canonicalize(synth_pages(spark, sf)))


def _link_edges_plan(spark, sf, plan):
    from optimizerasters_spark.operators import graph
    return plan(graph.link_edges(synth_pages(spark, sf)))


def _pack_shards_plan(spark, sf, plan):
    from optimizerasters_spark.operators import text as T
    d = spark.read.parquet(f"{sf}/documents.parquet")
    return plan(T.pack_shards(d, budget_tokens=4096))


def _cell_compact_plan(spark, sf, plan):
    from optimizerasters_spark.contract import q_cell_compact
    return plan(q_cell_compact(spark, sf))


def _cell_zorder_plan(spark, sf, plan):
    from optimizerasters_spark.contract import q_cell_zorder
    return plan(q_cell_zorder(spark, sf))


def _polyfill_plan(spark, sf, plan):
    from optimizerasters_spark.operators import spatial
    from optimizerasters_spark.pages import synth_ring_polys
    return plan(spatial.polyfill_ring(synth_ring_polys(spark)))


def _tfidf_plan(spark, sf, plan):
    from optimizerasters_spark.contract import q_tfidf_topk
    return plan(q_tfidf_topk(spark, sf))


def main():
    spark = get_spark('plans', master='local[4]', shuffle_partitions='8')
    spark.sparkContext.setLogLevel("ERROR")
    sf = '/root/testdata/sf0.001'

    def plan(df):
        return spark._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted")

    p = synth_pages(spark, sf)
    sections = [
        ("Tile assignment (pure projection — no Exchange, one codegen span)",
         plan(spatial.with_tiles(p).select("doc_id", "tile_x", "tile_y"))),
        ("PIP cell-cover join (BroadcastHashJoin; pages side never shuffles)",
         plan(spatial.pip_join(spatial.with_tiles(p),
                               synth_boundaries(spark), how="inner")
              .select("doc_id", "polygon_id"))),
        ("Pyramid counts (ONE page-proportional shuffle + level explode)",
         plan(spatial.tile_counts_at_levels(spatial.with_tiles(p), [0, 4, 8]))),
        ("Dedup latest-per-url (MAX of one packed (warc_epoch, -doc_id) "
         "struct, map-side partial combine, no Window)",
         plan(dedup.dedup_latest(p.select("url", "doc_id", "warc_epoch")))),
        ("Left PIP join (SINGLE pages scan, ZERO page-side shuffle: "
         "per-cell polygon arrays broadcast, map-side filter + "
         "explode-or-null)",
         plan(spatial.pip_join(p, synth_boundaries(spark), how="left")
              .select("doc_id", "polygon_id"))),
        ("Corpus top-k (TakeOrderedAndProject — per-partition heaps; "
         "the only Window ranks the k survivors)",
         _top_tokens_plan(spark, sf, plan)),
        ("Proxy CSV dense ids (a running count over one checkpointed "
         "range-partition assignment; the only partition-less Window is "
         "over the O(#partitions) totals table)",
         _proxy_csv_plan(spark, sf, plan)),
        ("k-means assignment (ONE Arrow projection: NumPy nearest "
         "centroid per batch against the collected centroids — no join, "
         "no aggregate, never N*K)",
         _kmeans_assign_plan(spark, sf, plan)),
        ("Arbitrary-ring PIP join (broadcast cover + inline even-odd "
         "ray cast — no page Exchange, no UDF)",
         _pip_ring_plan(spark, sf, plan)),
        ("Paragraph dedup (posexplode -> partial_min per paragraph sha "
         "-> per-doc reassembly; shuffles only on sha and doc_id)",
         _paragraph_dedup_plan(spark, sf, plan)),
        ("URL canonicalization (pure regexp/array projection — zero "
         "Exchange, folds into the scan)",
         _url_canon_plan(spark, sf, plan)),
        ("Link edges (regexp href extraction + url equi-join back to "
         "doc ids — no Python, no nested loop)",
         _link_edges_plan(spark, sf, plan)),
        ("Shard packing (ONE per-stratum window Exchange, cumulative "
         "sum, integer shard id)",
         _pack_shards_plan(spark, sf, plan)),
        ("Quadtree cell compaction (distinct cells -> per-level "
         "complete-quadruple promotion; only the shrinking cell table "
         "shuffles)",
         _cell_compact_plan(spark, sf, plan)),
        ("Z-order cell keys (literal-shift Morton interleave — zero "
         "Exchange, folds into the scan)",
         _cell_zorder_plan(spark, sf, plan)),
        ("Ring polyfill (bbox candidate explode on the executors + "
         "Catalyst even-odd ray cast — no Python, no driver loop)",
         _polyfill_plan(spark, sf, plan)),
        ("TF-IDF top-k (inverted-index partial aggregates + term "
         "equi-join + per-doc window)",
         _tfidf_plan(spark, sf, plan)),
    ]
    out = ['# PLANS — captured physical plans (`.explain("formatted")`)', "",
           "Generated against sf0.001; regenerate with `python tools_plans.py`.",
           "These are the plan shapes asserted in `tests/test_plans.py`.", ""]
    for title, body in sections:
        out += [f"## {title}", "", "```", body.strip(), "```", ""]
    open(os.path.join(os.path.dirname(os.path.abspath(__file__)),
                      'PLANS.md'), 'w').write("\n".join(out))
    spark.stop()


if __name__ == "__main__":
    main()
