"""Gate-window registration order: the driver's correctness gate
evaluates the first 50 entries of contract.QUERIES in dict order. The
round-5 invariant: every query added or behavior-changed in round 5
sits inside the window, plus as many of the r03-row riders as fit —
so CORRECTNESS_r05 ∪ r04 covers all registered queries with rows at
most one round old, except five disclosed trivial queries
(R03_STRAGGLERS below — golden/property/e2e-tested elsewhere, code
untouched since r03) that ride their r03 rows one more round."""

from optimizerasters_spark import contract

# new or behavior-changed in round 5 — need a fresh r05 row
R05_NEW_OR_CHANGED = [
    "pq_encode", "paragraph_dedup", "robots_filter",
    "repetition_quality", "dup_components",
    "ivf_pq_residual", "url_canonicalize", "link_graph", "pagerank",
    "shard_pack", "cell_compact", "substr_overlap",
    "cell_zorder", "ring_polyfill", "tfidf_topk", "route_cells",
]

# queries whose last gate row is r03 (rotated out of the r04 window);
# all but the three disclosed stragglers must re-enter the r05 window
R03_RIDERS = [
    "kmeans_assign", "sq_encode", "pip_join", "pip_join_left",
    "chunk_documents", "pip_join_convex", "knn_per_cell",
    "dedup_latest", "asof_join",
    "ledger_resolve", "ivf_topk",
    "rolling_fingerprint", "cell_histogram",
    "embedding_near_dup_lsh", "cell_encode",
    "salted_topk", "pyramid_resample", "proxy_csv", "tile_manifest",
    "free_space_scan", "tile_counts_pyramid", "simhash_ann",
    "embedding_near_dup", "cosine_topk",
    "salted_join", "salted_cell_payloads", "til_barrier", "til_members",
    "stem_groups", "assoc_join", "resume_pending",
    "url_encode", "output_ext", "dir_depth",
]

# disclosed: trivial queries riding their green r03 row a second round
R03_STRAGGLERS = {"url_parts", "hash_sample", "proxy_paths", "domain_cap",
                  "html_extract"}

# green rows in CORRECTNESS_r04.json (the driver's r04 gate window),
# minus pq_encode which ERRORED there (it is in R05_NEW_OR_CHANGED)
R04_GREEN = {
    "pip_join_ring", "pii_scrub", "repetition_quality", "decontaminate",
    "paragraph_dedup", "ring_stats", "pq_adc_topk", "ivf_pq_topk",
    "dup_components", "blocklist_filter", "remove_boilerplate",
    "stratified_sample", "robots_filter", "geoparse", "media_resize",
    "encoder_matrix", "til_finalize", "pages_synth", "tile_assign",
    "path_classify", "hashkey_path", "sniff_dispatch", "job_success",
    "timing_pivot", "pyramid_factors", "path_functions", "dedup_exact",
    "token_count", "quality_score", "lang_id", "fingerprint",
    "pricing_summary", "top_customers_per_nation", "media_decode",
    "frame_sample", "events_json", "sessionize", "lang_source_rollup",
    "set_ops", "tile_bin_counts", "rasterize_tiles", "vectorize_tiles",
    "distinct_users", "top_tokens", "value_percentiles",
    "training_flagship", "minhash_lsh_pairs", "ngram_jaccard",
    "ivf_train",
}

GATE_WINDOW = 50


def test_new_and_changed_queries_in_gate_window():
    window = list(contract.QUERIES)[:GATE_WINDOW]
    missing = [n for n in R05_NEW_OR_CHANGED if n not in window]
    assert not missing, f"r05 new/changed outside gate window: {missing}"


def test_r03_riders_rotated_into_gate_window():
    window = list(contract.QUERIES)[:GATE_WINDOW]
    missing = [n for n in R03_RIDERS if n not in window]
    assert not missing, f"r03-row riders outside gate window: {missing}"


def test_every_query_has_a_fresh_row_source():
    """Window ∪ r04-green ∪ disclosed stragglers must cover every
    registered query."""
    window = set(list(contract.QUERIES)[:GATE_WINDOW])
    stale = [n for n in contract.QUERIES
             if n not in window and n not in R04_GREEN
             and n not in R03_STRAGGLERS]
    assert not stale, f"queries with no fresh gate-row source: {stale}"


def test_reorder_loses_no_queries():
    # every registered query survived the reorder and still has its
    # oracle; the registry (100) is 2x the 50-slot gate window, so
    # rounds alternate halves and no row goes more than ~2 rounds stale
    assert len(contract.QUERIES) == 100
    assert len(set(contract.QUERIES)) == len(contract.QUERIES)
    no_oracle = [n for n in contract.QUERIES if n not in contract.ORACLES]
    assert not no_oracle, f"queries without oracle SQL: {no_oracle}"


def test_gate_safe_output_schemas(spark, sf_dir):
    """The driver's canonicalizer sorts result columns with pandas
    before hashing; list/dict cells are unhashable and ERROR the gate
    row (r04's pq_encode). Every registered query must therefore emit
    scalar columns only — arrays/maps are exploded or joined into
    strings before return. Schema analysis only, no execution."""
    from pyspark.sql import types as T
    bad = {}
    for name, fn in contract.QUERIES.items():
        schema = fn(spark, sf_dir).schema
        offending = [f.name for f in schema.fields
                     if isinstance(f.dataType, (T.ArrayType, T.MapType))]
        if offending:
            bad[name] = offending
    assert not bad, f"array/map output columns break the gate: {bad}"


def test_priority_list_names_exist():
    # a typo in GATE_PRIORITY would silently drop a query out of the
    # window — every listed name must be registered
    unknown = [n for n in contract.GATE_PRIORITY
               if n not in contract.QUERIES]
    assert not unknown, f"GATE_PRIORITY names not registered: {unknown}"
    assert len(contract.GATE_PRIORITY) == len(set(contract.GATE_PRIORITY))
