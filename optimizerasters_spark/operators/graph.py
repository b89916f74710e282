"""Web-link-graph operators over the pages table: anchor extraction,
degree census, deterministic integer PageRank.

A crawl corpus IS a graph — link structure drives corpus quality
weighting (PageRank-style authority as a training-mix signal, the
OPIC/Common-Crawl ranking lineage), frontier scheduling, and spam
detection. Everything here is DataFrame-native:

  * extraction is regexp codegen over the decoded html payload — no
    Python, folds into the scan stage;
  * the edge table is the only corpus-proportional object; resolving
    href -> doc_id is one equi-join on url (uniform high-cardinality
    key);
  * each PageRank iteration is ONE shuffle keyed on node id (the
    Pregel-on-DataFrames shape). At 100 TB the edge table is written
    bucketed by src so every iteration reuses the partitioning instead
    of re-shuffling; ranks are localCheckpoint-ed per round to keep
    the plan flat (same pattern as dedup.dup_components).

Ranks are micro-units (x 1e6) with floored integer division at every
step, so the fixed-iteration result is bit-identical on any engine or
cluster size — the property the DuckDB oracle checks.

Reference parity: the reference has no graph stage (it orchestrates
GDAL over rasters, OptimizeRasters.py); this module belongs to the
training-data-pipeline surface the north rule adds on top.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

MICRO = 1_000_000
DAMPING_MILLI = 850     # PageRank damping factor 0.85


def extract_links(pages: DataFrame) -> DataFrame:
    """(src, href, dst_url) per anchor: decode the BINARY html
    payload, pull every href attribute (one regexp_extract_all +
    explode, pure codegen), and resolve host-relative hrefs
    ("/path") against the page's own scheme://host. Absolute http(s)
    hrefs pass through; anything else (mailto:, javascript:,
    fragment-only, protocol-relative) is dropped — the corpus filter
    wants same-crawl navigability, not a URL parser."""
    raw = F.decode(F.col("html"), "UTF-8")
    hrefs = F.regexp_extract_all(raw, F.lit('href="([^"]+)"'), F.lit(1))
    base = F.regexp_extract(F.col("url"), "^(https?://[^/?#]+)", 1)
    e = pages.select(F.col("doc_id").alias("src"),
                     base.alias("_base"),
                     F.explode(hrefs).alias("href"))
    dst = (F.when(F.col("href").startswith("http://") |
                  F.col("href").startswith("https://"), F.col("href"))
           .when(F.col("href").startswith("/"),
                 F.concat(F.col("_base"), F.col("href"))))
    return (e.select("src", "href", dst.alias("dst_url"))
            .where(F.col("dst_url").isNotNull()))


def link_edges(pages: DataFrame) -> DataFrame:
    """The in-corpus (src, dst) doc-id edge table: extracted links
    whose resolved URL exists as a page, self-loops dropped. The url
    equi-join is the only shuffle and its key is uniform; links to
    URLs outside the corpus vanish here (they belong to the frontier,
    not the graph)."""
    links = extract_links(pages)
    urls = pages.select(F.col("url").alias("dst_url"),
                        F.col("doc_id").alias("dst"))
    return (links.join(urls, "dst_url")
            .where(F.col("src") != F.col("dst"))
            .select("src", "dst").distinct())


def degree_census(edges: DataFrame) -> DataFrame:
    """(node, out_deg, in_deg) over the edge table — the first-order
    graph signal (hub/authority censuses, dangling-node counts). Two
    partial-agg counts + one outer join, all keyed on node id."""
    nodes = (edges.select(F.col("src").alias("node"))
             .unionByName(edges.select(F.col("dst").alias("node")))
             .distinct())
    od = edges.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).cast("bigint").alias("out_deg"))
    idg = edges.groupBy(F.col("dst").alias("node")).agg(
        F.count(F.lit(1)).cast("bigint").alias("in_deg"))
    return (nodes.join(od, "node", "left").join(idg, "node", "left")
            .select("node",
                    F.coalesce(F.col("out_deg"), F.lit(0)).cast("bigint")
                     .alias("out_deg"),
                    F.coalesce(F.col("in_deg"), F.lit(0)).cast("bigint")
                     .alias("in_deg")))


def pagerank(edges: DataFrame, iters: int = 3) -> DataFrame:
    """Deterministic integer PageRank, fixed iteration count:

        r_v  <-  (1000 - DAMPING_MILLI) * 1000
                 + (DAMPING_MILLI * Σ_{u→v} (r_u div outdeg_u)) div 1000

    with every rank in micro-units and every division a floored
    integer division — bit-identical across engines and cluster
    sizes, unlike float PageRank whose summation order drifts.
    Dangling-node mass is dropped (the standard simplified variant;
    redistributing it is one extra broadcast of a scalar per round).

    Plan per iteration: edges ⋈ ranks on src (shuffle keyed on node
    id), partial-agg sum per dst, left join back to the node set;
    ranks localCheckpoint-ed so the plan stays flat over rounds —
    LAZILY (eager=False): the fixed-iteration chain runs as ONE Spark
    job whose cached intermediates materialize in-flight, instead of
    paying a driver-synchronized job per round (r06: 2 + iters
    blocking jobs -> 1; the node/edge subtrees are still computed once
    because the lazy checkpoint caches them at first use). At 100 TB:
    bucket edges by src and the per-iteration shuffle reuses the
    bucketing."""
    nodes = (edges.select(F.col("src").alias("node"))
             .unionByName(edges.select(F.col("dst").alias("node")))
             .distinct().localCheckpoint(eager=False))
    deg = edges.groupBy("src").agg(
        F.count(F.lit(1)).alias("out_deg"))
    e = edges.join(deg, "src").localCheckpoint(eager=False)
    base = (1000 - DAMPING_MILLI) * 1000
    ranks = nodes.withColumn("rank_micro",
                             F.lit(MICRO).cast("bigint"))
    for _ in range(iters):
        contrib = (e.join(ranks, e["src"] == ranks["node"])
                   .select("dst",
                           F.expr("rank_micro div out_deg").alias("c"))
                   .groupBy("dst").agg(F.sum("c").alias("s")))
        ranks = (nodes.join(contrib, nodes["node"] == contrib["dst"],
                            "left")
                 .select("node",
                         (F.lit(base) +
                          F.expr(f"({DAMPING_MILLI} * coalesce(s, 0))"
                                 f" div 1000"))
                         .cast("bigint").alias("rank_micro"))
                 .localCheckpoint(eager=False))
    return ranks
