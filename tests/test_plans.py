"""Physical-plan assertions: the optimizations we claim must actually be
in the plan (broadcast joins, pushdown, no gratuitous exchanges)."""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from optimizerasters_spark.operators import dedup, similarity, spatial
from optimizerasters_spark.pages import synth_boundaries, synth_pages


def _plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted")


def test_pip_join_broadcasts_and_never_shuffles_pages(spark, sf_dir):
    p = spatial.with_tiles(synth_pages(spark, sf_dir))
    j = spatial.pip_join(p, synth_boundaries(spark), how="inner")
    plan = _plan(j)
    assert "BroadcastHashJoin" in plan, plan
    # pages side must reach the join without an Exchange (only broadcast
    # exchanges allowed)
    assert "Exchange hashpartitioning" not in plan, plan


def test_tile_assign_is_pure_projection(spark, sf_dir):
    t = spatial.with_tiles(synth_pages(spark, sf_dir))
    plan = _plan(t)
    assert "Exchange" not in plan, plan
    assert "codegen id" in plan  # formatted mode marks codegen spans


def test_parquet_filter_pushdown(spark, sf_dir):
    df = (spark.read.parquet(f"{sf_dir}/documents.parquet")
          .where(F.col("doc_id") < 100).select("doc_id", "lang"))
    plan = _plan(df)
    assert "PushedFilters: [IsNotNull(doc_id), LessThan(doc_id,100)]" in plan
    assert "ReadSchema: struct<doc_id:bigint,lang:string>" in plan


def test_dedup_uses_partial_aggregation(spark, sf_dir):
    d = dedup.dedup_latest(synth_pages(spark, sf_dir)
                           .select("url", "doc_id", "warc_epoch"))
    plan = _plan(d)
    # groupBy MAX of one packed struct compiles to partial + final
    # aggregates around one Exchange (map-side combine shrinks the
    # shuffle to ~one row per key per task) — a window would shuffle
    # every row then sort. r06: max_by became max(struct) so the
    # ordering fields cross the shuffle once, not twice.
    assert "partial_max" in plan, plan
    assert "max_by" not in plan, plan
    assert "Window" not in plan


def test_knn_prefilters_before_window(spark, sf_dir):
    """kNN probes the broadcast cell cover of the query radius boxes:
    the pages reach the probe with no Exchange, and the per-query
    Window, with the one hash Exchange on query_id, sits above the
    probe and sorts its candidate rows only."""
    from optimizerasters_spark.contract import q_knn_per_cell
    df = q_knn_per_cell(spark, sf_dir)
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "simple")
    assert plan.count("BroadcastHashJoin") == 1, plan
    assert "NestedLoopJoin" not in plan, plan
    assert plan.count("Exchange hashpartitioning") == 1, plan
    # tree print, top down: Window, its query_id Exchange, the probe,
    # the pages scan, then the broadcast cover
    w, ex = plan.find("Window ["), plan.find("Exchange hashpartitioning")
    bhj, bc = plan.find("BroadcastHashJoin"), plan.find("BroadcastExchange")
    assert -1 < w < ex < bhj < bc, plan
    assert "hashpartitioning(query_id" in plan[ex:bhj], plan
    assert "Exchange" not in plan[bhj:bc], plan


def test_top_tokens_uses_take_ordered(spark, sf_dir):
    """The corpus top-k must compile to TakeOrderedAndProject (per-
    partition heaps + driver merge), never a partition-less Window that
    sorts every distinct token on one reducer."""
    from optimizerasters_spark.contract import q_top_tokens
    plan = _plan(q_top_tokens(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan, plan


def _scanned_rdd_ids(df) -> list[int]:
    """Ids of the RDDs that df's executed (final AQE) plan scans, one
    per scan node, through query stages and reused exchanges."""
    ids = []

    def walk(node):
        kind = node.getClass().getSimpleName()
        if kind == "RDDScanExec":
            ids.append(node.rdd().id())
        elif kind == "AdaptiveSparkPlanExec":
            walk(node.executedPlan())
        elif kind.endswith("QueryStageExec"):
            walk(node.plan())
        else:
            kids = node.children()
            for i in range(kids.size()):
                walk(kids.apply(i))

    walk(df._jdf.queryExecution().executedPlan())
    return ids


def _assert_one_partition_assignment(df):
    """The running sum's two branches, the per-_pid window and the
    per-_pid totals, read ONE materialized range-partition assignment:
    the final plan scans one checkpointed RDD twice and holds no range
    Exchange of its own (a second one would sample its own bounds).
    The manifest-sized window is partitioned by _pid, and the only
    single-partition stage consumes the per-partition totals AGGREGATE
    (O(#partitions) rows), never the input relation."""
    df.collect()  # let AQE finalize the executed plan
    ids = _scanned_rdd_ids(df)
    assert len(ids) == 2 and len(set(ids)) == 1, ids
    executed = df._jdf.queryExecution().executedPlan().toString()
    final = executed.split("== Initial Plan ==")[0]
    assert "rangepartitioning" not in final, final
    assert "], [_pid" in final, final
    sp = final.find("Exchange SinglePartition")
    assert sp != -1
    nxt = final.find("Exchange", sp + 10)
    segment = final[sp:nxt] if nxt != -1 else final[sp:]
    assert "HashAggregate" in segment, final
    assert "FileScan" not in segment, final
    assert "ExistingRDD" not in segment, final


def test_proxy_csv_no_global_window_over_manifest(spark, sf_dir):
    """Dense proxy ids are a running count: no global sort of the
    manifest, and one partition assignment feeds both branches."""
    from optimizerasters_spark.contract import q_proxy_csv
    _assert_one_partition_assignment(q_proxy_csv(spark, sf_dir))


def test_pip_left_join_single_scan_zero_page_shuffle(spark, sf_dir):
    """how='left' must scan the pages relation ONCE (the round-1 shape
    re-scanned it for the lost-rows anti-join) and shuffle NOTHING on
    the pages side (the round-2 shape re-aggregated by doc_id, moving
    every page's payload through an Exchange): the only hash Exchange
    allowed is the per-cell cover aggregation inside the broadcast
    subtree — mirror of the inner-path guarantee above."""
    p = synth_pages(spark, sf_dir)
    j = spatial.pip_join(p, synth_boundaries(spark), how="left")
    # simple mode prints each node once (formatted lists tree + details)
    plan = j._sc._jvm.PythonSQLUtils.explainString(
        j._jdf.queryExecution(), "simple")
    assert plan.count("FileScan parquet") == 1, plan
    # one broadcast probe: the cover already carries each polygon's
    # bbox, so the per-cell candidate arrays need no join back to the
    # boundaries table
    assert plan.count("BroadcastHashJoin") == 1, plan
    # no page re-aggregation: zero hash exchanges outside the broadcast
    # subtree (tree print: probe side precedes the BroadcastExchange)
    assert plan.count("Exchange hashpartitioning") <= 1, plan
    ex, bc = plan.find("Exchange hashpartitioning"), \
        plan.find("BroadcastExchange")
    assert ex == -1 or (bc != -1 and ex > bc), plan
    # the per-page collect_list re-aggregation is retired: any
    # collect_list left lives inside the broadcast (cover) subtree
    cl = plan.find("collect_list")
    assert cl == -1 or (bc != -1 and cl > bc), plan


def test_distributed_prefix_sum_no_global_window(spark, sf_dir):
    """The free-space scan's only partition-less windows run over the
    tiny per-partition totals aggregate, never the event relation, and
    one partition assignment feeds both branches."""
    from optimizerasters_spark.contract import q_free_space_scan
    _assert_one_partition_assignment(q_free_space_scan(spark, sf_dir))


# ArrowEvalPython nodes per ANN plan: one per vector kernel (ivf_pq_topk
# runs two: list assignment and PQ encode)
ANN_KERNELS = {"ivf_topk": 1, "kmeans_assign": 1, "pq_encode": 1,
               "pq_adc_topk": 1, "ivf_pq_topk": 2, "ivf_pq_residual": 1,
               "residual_vectors": 1}


@pytest.mark.parametrize("name", sorted(ANN_KERNELS))
def test_ivf_build_assignment_is_vectorized_projection(spark, sf_dir, name):
    """The nearest-centroid / nearest-codeword argmin/argmax runs as one
    NumPy matrix product per Arrow batch (ArrowEvalPython projection):
    no N*K candidate rows, no max_by re-aggregation. Each vector goes
    through each kernel ONCE — a filter Spark infers on the kernel's
    output (isnotnull from a join on cent_id, size > 0 from a
    posexplode of the codes) must not be pushed below the projection,
    where it would evaluate the kernel a second time."""
    from optimizerasters_spark import contract
    if name == "residual_vectors":
        v, _, coarse = contract._pq_parts(spark, sf_dir)
        df = similarity.residual_vectors(v, coarse)
    else:
        df = contract.QUERIES[name](spark, sf_dir)
    plan = _plan(df)
    kernels = re.findall(r"^\(\d+\) ArrowEvalPython", plan, re.M)
    assert len(kernels) == ANN_KERNELS[name], plan
    assert "partial_max_by" not in plan, plan


def test_aqe_splits_skewed_join_partitions(spark):
    """AQE skew-join must actually split hot partitions at runtime: a
    sort-merge join where one key holds half the rows gets its skewed
    partition marked (skew=true, N splits) in the final adaptive plan.
    Thresholds are lowered to make the 200k-row fixture 'skewed' by AQE's
    definition; at production scale the defaults (factor 5 / 256 MB)
    catch the synth's urban-center cells the same way."""
    saved = {k: spark.conf.get(k, None) for k in (
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes",
        "spark.sql.autoBroadcastJoinThreshold",
        "spark.sql.adaptive.coalescePartitions.enabled")}
    try:
        spark.conf.set(
            "spark.sql.adaptive.skewJoin.skewedPartitionFactor", "1")
        spark.conf.set(
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
            "64KB")
        spark.conf.set(
            "spark.sql.adaptive.advisoryPartitionSizeInBytes", "32KB")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set(
            "spark.sql.adaptive.coalescePartitions.enabled", "false")
        big = spark.range(200000).select(
            F.when(F.col("id") % 2 == 0, F.lit(0))
             .otherwise(F.col("id") % 97).alias("k"),
            F.md5(F.col("id").cast("string")).alias("payload"))
        small = spark.range(97).select(
            F.col("id").alias("k"),
            F.concat(F.lit("dim_"), F.col("id")).alias("label"))
        j = big.join(small, "k")
        # collect() executes THIS DataFrame's QueryExecution (count()
        # would build a separate one and leave this plan un-finalized)
        assert len(j.collect()) == 200000
        executed = j._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in executed, executed
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_bucketed_join_has_no_shuffle(spark, sf_dir, tmp_path):
    """Bucketing both sides on the join key pre-co-locates them: the
    sort-merge join needs NO Exchange on either side — the recipe for
    repeated fact-fact joins at 100 TB (write once bucketed, join many
    times shuffle-free)."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet") \
        .select("l_orderkey", "l_quantity")
    o = spark.read.parquet(f"{sf_dir}/orders.parquet") \
        .select("o_orderkey", "o_totalprice")
    spark.sql("DROP TABLE IF EXISTS li_b")
    spark.sql("DROP TABLE IF EXISTS o_b")
    li.write.bucketBy(8, "l_orderkey").sortBy("l_orderkey") \
        .mode("overwrite").saveAsTable("li_b")
    o.write.bucketBy(8, "o_orderkey").sortBy("o_orderkey") \
        .mode("overwrite").saveAsTable("o_b")
    j = (spark.table("li_b")
         .join(spark.table("o_b").hint("merge"),
               F.col("l_orderkey") == F.col("o_orderkey")))
    plan = _plan(j)
    assert "SortMergeJoin" in plan, plan
    assert "Exchange hashpartitioning" not in plan, plan
    # and it actually runs
    assert j.count() > 0
    spark.sql("DROP TABLE IF EXISTS li_b")
    spark.sql("DROP TABLE IF EXISTS o_b")


def test_salted_topk_phase1_partitions_by_salt(spark, sf_dir):
    """The skew-proof per-group top-k must rank phase 1 within
    (group, salt) — no task ever sorts a full hot group — and phase 2's
    per-group window only sees the k*nsalt survivors."""
    from optimizerasters_spark.operators import skew
    df = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "user_id", "event_id",
        F.floor(F.col("value") * 100).cast("bigint").alias("cents"))
    out = skew.salted_topk_per_group(df, ["user_id"], "cents",
                                     "event_id", k=3, nsalt=8)
    plan = _plan(out)
    w1 = plan.find("Window")
    assert w1 != -1
    # first (inner) window in formatted output is printed LAST in the
    # details; assert a window spec partitioned by [user_id, salt]
    assert "salt" in plan[plan.find("Arguments", w1):], plan
    assert plan.count("Window") >= 2 or "row_number" in plan, plan


def test_pip_convex_never_shuffles_pages(spark, sf_dir):
    """The convex-polygon exact PIP keeps the inner form's guarantee:
    broadcast cover, no Exchange on the pages side, refinement inline
    (forall over the vertex array — no UDF)."""
    from optimizerasters_spark.pages import synth_convex_polys
    p = synth_pages(spark, sf_dir)
    j = spatial.pip_join_convex(p, synth_convex_polys(spark))
    plan = _plan(j)
    assert "BroadcastHashJoin" in plan, plan
    assert "Exchange hashpartitioning" not in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEval" not in plan, plan


def test_pii_scrub_is_pure_codegen(spark, sf_dir):
    """PII redaction is regexp-only: zero shuffles, zero Python — it
    must fold into the scan stage at corpus scale."""
    from optimizerasters_spark.operators import web
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    plan = _plan(web.pii_scrub(d))
    assert "Exchange hashpartitioning" not in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEval" not in plan, plan


def test_decontaminate_broadcasts_benchmark_ngrams(spark, sf_dir):
    """The benchmark n-gram set (tiny by definition) must reach the
    corpus side as a broadcast semi-join — never a shuffled join of the
    exploded corpus n-grams against it."""
    from optimizerasters_spark.operators import text as T
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    bench = d.where(F.col("doc_id") % 97 == 0).select("doc_id", "text")
    plan = _plan(T.ngram_contamination(d, bench))
    assert "BroadcastHashJoin" in plan, plan
    # gram construction is the MinHash stage's regex extraction: no
    # Python evaluation of either form
    assert "BatchEvalPython" not in plan and "ArrowEval" not in plan, plan


def test_robots_filter_broadcasts_rules_no_page_shuffle(spark, sf_dir):
    """robots.txt rules are per-host prefix arrays, broadcast — the
    pages side must not shuffle and no Python may appear (the parse is
    pure array functions)."""
    from optimizerasters_spark.operators import web
    p = synth_pages(spark, sf_dir)
    robots = spark.createDataFrame(
        [("site1.example", "User-agent: *\nDisallow: /p/\n")],
        "host string, robots_txt string")
    plan = _plan(web.robots_filter(p, robots))
    assert "BroadcastHashJoin" in plan, plan
    assert "Exchange hashpartitioning" not in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEval" not in plan, plan


def test_stratified_sample_is_pure_codegen(spark, sf_dir):
    """Per-stratum deterministic sampling is a plan-time CASE chain +
    md5 threshold: zero shuffles, zero Python — it folds into the scan
    stage at corpus scale."""
    from optimizerasters_spark.operators import web
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    plan = _plan(web.stratified_hash_sample(d, {"en": 200, "de": 500}))
    assert "Exchange hashpartitioning" not in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEval" not in plan, plan


def test_pip_ring_never_shuffles_pages(spark, sf_dir):
    """The arbitrary-ring exact PIP (even-odd ray cast) keeps the same
    guarantee: broadcast cover, zero Exchange on the pages side, the
    refinement inline in Catalyst — no UDF in the hot path."""
    from optimizerasters_spark.pages import synth_ring_polys
    p = synth_pages(spark, sf_dir)
    j = spatial.pip_join_ring(p, synth_ring_polys(spark))
    plan = _plan(j)
    assert "BroadcastHashJoin" in plan, plan
    assert "Exchange hashpartitioning" not in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEval" not in plan, plan


def test_url_canonicalize_is_pure_codegen(spark, sf_dir):
    """URL canonicalization is regexp + array functions only — zero
    shuffles, zero Python; it folds into the scan stage."""
    from optimizerasters_spark.operators import web
    p = synth_pages(spark, sf_dir)
    plan = _plan(web.url_canonicalize(p))
    assert "Exchange" not in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEval" not in plan, plan


def test_link_extraction_no_python_and_url_equijoin(spark, sf_dir):
    """Anchor extraction is regexp codegen over the decoded payload;
    resolving dst_url -> doc_id is a plain shuffled equi-join on the
    uniform url key (SortMergeJoin or shuffled hash — never a
    nested-loop, never Python)."""
    from optimizerasters_spark.operators import graph
    p = synth_pages(spark, sf_dir)
    plan = _plan(graph.link_edges(p))
    assert "BatchEvalPython" not in plan and "ArrowEval" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_pack_shards_single_window_exchange(spark, sf_dir):
    """Shard packing is one cumulative window per stratum: exactly one
    hash exchange (on the stratum key), no Python."""
    from optimizerasters_spark.operators import text as T
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    plan = _plan(T.pack_shards(d, budget_tokens=4096))
    assert plan.count(") Exchange") == 1, plan
    assert "hashpartitioning(lang" in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEval" not in plan, plan


def test_cell_zorder_pure_projection(spark, sf_dir):
    """Morton key = literal-shift column math on top of tile assign:
    zero Exchange, zero Python — folds into the scan."""
    from optimizerasters_spark.contract import q_cell_zorder
    plan = _plan(q_cell_zorder(spark, sf_dir))
    assert "Exchange" not in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEval" not in plan, plan


def test_ring_polyfill_distributed_no_python(spark, sf_dir):
    """Polyfill explodes candidate cells from the vertex bbox on the
    executors (Generate in-plan) and refines with the Catalyst ray
    cast — no Python, no driver loop."""
    from optimizerasters_spark.operators import spatial
    from optimizerasters_spark.pages import synth_ring_polys
    plan = _plan(spatial.polyfill_ring(synth_ring_polys(spark)))
    assert "Generate" in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEval" not in plan, plan


def test_tfidf_no_python_and_partial_aggregates(spark, sf_dir):
    """The inverted-index stages must partial-aggregate map-side (tf
    and doc_freq counts) and stay JVM-side end to end."""
    from optimizerasters_spark.contract import q_tfidf_topk
    plan = _plan(q_tfidf_topk(spark, sf_dir))
    assert "partial_count" in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEval" not in plan, plan


def test_segment_cells_pure_codegen_explode(spark, sf_dir):
    """Line rasterization is sequence+explode+integer projection: no
    shuffle before the distinct, no Python anywhere."""
    from optimizerasters_spark.operators import spatial
    segs = spark.createDataFrame(
        [(1, 0, 0, 9, 4)],
        "seg_id bigint, x0 bigint, y0 bigint, x1 bigint, y1 bigint")
    plan = _plan(spatial.segment_cells(segs))
    assert "Generate" in plan and "explode(sequence" in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEval" not in plan, plan


def test_corpus_pipeline_scans_pages_once_one_text_pass(spark, sf_dir,
                                                         tmp_path):
    """corpus_pipeline takes the exact-dedup survivors from one
    aggregate and builds their 3-shingle and 5-gram sets in one
    projection, materialized once; LSH, the Jaccard verify, the kept set
    and decontamination read that table. So its plan scans the pages
    input at most once. The sets and the benchmark's n-grams are regex
    extractions, so the plan holds no Python evaluation node (it held
    two ArrowEvalPython nodes when both were pandas UDFs). The
    double-shingle form restated the web-filter and dedup front end in
    every consumer: its plan held 30 scans of the pages input and 14
    ArrowEvalPython nodes."""
    from optimizerasters_spark.operators import training
    src = str(tmp_path / "pages.parquet")
    synth_pages(spark, sf_dir).write.parquet(src)
    pages = spark.read.parquet(src)
    robots = spark.createDataFrame(
        [("site3.example", "User-agent: *\nDisallow: /p/\n")],
        "host string, robots_txt string")
    blocked = spark.createDataFrame([("site5.example",)], "bdom string")
    benchmark = spark.createDataFrame(
        [(1, " ".join(f"qq{k}" for k in range(30)))],
        "doc_id bigint, text string")
    out = training.corpus_pipeline(pages, robots=robots, blocked=blocked,
                                   benchmark=benchmark)
    plan = out._sc._jvm.PythonSQLUtils.explainString(
        out._jdf.queryExecution(), "simple")
    scans = [ln for ln in plan.splitlines()
             if "FileScan parquet" in ln and "pages.parquet" in ln]
    assert len(scans) <= 1, plan
    assert "ArrowEvalPython" not in plan, plan
    assert "BatchEvalPython" not in plan, plan


def test_lsh_candidate_pairs_reuses_signature_exchange(spark, sf_dir):
    """The LSH self-join reads one materialized shingle-set table: in
    the final AQE plan of ``q_minhash_lsh_pairs`` (input hash-spread on
    doc_id) no regex extraction runs above the checkpoint scan, the one
    ``Scan ExistingRDD`` feeds both join sides, and the second side
    reuses the exchange that carries the md5 mins, so the 8 mins run
    once per doc. No Python node."""
    from optimizerasters_spark.contract import q_minhash_lsh_pairs
    out = q_minhash_lsh_pairs(spark, sf_dir)
    out.collect()
    plan = out._jdf.queryExecution().executedPlan().toString()
    final = plan[plan.index("== Final Plan =="):
                 plan.index("== Initial Plan ==")]
    assert "regexp_extract_all(" not in final, final
    assert final.count("Scan ExistingRDD") == 1, final
    reused = [ln for ln in final.splitlines() if "ReusedExchange" in ln]
    assert len(reused) == 1 and "min#" in reused[0], final
    assert "ArrowEval" not in final and "BatchEvalPython" not in final, \
        final
