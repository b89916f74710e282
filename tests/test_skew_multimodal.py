"""Salted aggregation correctness + multimodal Arrow plumbing."""

from __future__ import annotations

from pyspark.sql import functions as F

from optimizerasters_spark.operators import multimodal, skew, spatial
from optimizerasters_spark.pages import synth_pages


def test_salted_collect_matches_direct(spark, sf_dir):
    p = spatial.with_tiles(synth_pages(spark, sf_dir)) \
        .select("url", "tile_x", "tile_y")
    direct = (p.groupBy("tile_x", "tile_y")
              .agg(F.sort_array(F.collect_list("url")).alias("payloads")))
    salted = skew.salted_collect_per_cell(p, ["tile_x", "tile_y"], "url",
                                          nsalt=8)
    a = {(r["tile_x"], r["tile_y"]): r["payloads"] for r in direct.collect()}
    b = {(r["tile_x"], r["tile_y"]): r["payloads"] for r in salted.collect()}
    assert a == b


def test_salted_join_matches_plain(spark, sf_dir):
    p = synth_pages(spark, sf_dir).select("doc_id", "lang")
    dim = spark.createDataFrame(
        [("en", 1), ("de", 2), ("fr", 3), ("es", 4), ("zh", 5)],
        "lang STRING, lang_id INT")
    plain = sorted(tuple(r) for r in p.join(dim, "lang").collect())
    salted = sorted(tuple(r) for r in
                    skew.salted_join(p, dim, "lang", nsalt=4).collect())
    assert plain == salted


def test_cell_histogram_flags_hot_cells(spark, sf_dir):
    p = spatial.with_tiles(synth_pages(spark, sf_dir))
    h = skew.cell_histogram(p)
    hot = h.where(F.col("skew_ratio") >= 10).count()
    assert hot >= 3  # the three injected urban centers


def test_decode_images_batch_shape(spark, sf_dir):
    m = multimodal.synth_media(synth_pages(spark, sf_dir).limit(100))
    out = multimodal.decode_images(m)
    rows = out.collect()
    assert len(rows) == 100
    assert all(r["decode_ok"] for r in rows)
    assert all(r["width"] >= 16 and r["channels"] in (1, 3) for r in rows)
    # determinism across runs
    again = {r["doc_id"]: (r["width"], r["height"])
             for r in multimodal.decode_images(m).collect()}
    for r in rows:
        assert again[r["doc_id"]] == (r["width"], r["height"])


def _media_with_dead_buffers(spark, sf_dir):
    """10 media rows whose odd doc_ids carry a NULL buffer, plus doc -1
    with an empty one."""
    m = multimodal.synth_media(synth_pages(spark, sf_dir).limit(10)) \
        .withColumn("media", F.when(F.col("doc_id") % 2 == 0,
                                    F.col("media")))
    empty = spark.createDataFrame([(-1, bytearray(), "image/fake", 0, 0)],
                                  multimodal.IMAGE_META_SCHEMA)
    return m.unionByName(empty)


def test_decode_failure_is_dead_letter_not_task_failure(spark, sf_dir):
    out = multimodal.decode_images(_media_with_dead_buffers(spark, sf_dir))
    bad = [r["doc_id"] for r in out.where(~F.col("decode_ok")).collect()]
    assert len(bad) == 6 and all(i % 2 or i == -1 for i in bad)


def test_resize_failure_is_dead_letter_not_task_failure(spark, sf_dir):
    """ADVICE r03: resize_images mirrors decode_images' dead-letter
    pattern — a null/empty buffer yields resize_ok=false, never a task
    failure."""
    out = multimodal.resize_images(_media_with_dead_buffers(spark, sf_dir))
    rows = out.collect()
    assert len(rows) == 11
    bad = [r for r in rows if not r["resize_ok"]]
    assert len(bad) == 6 and all(r["doc_id"] % 2 or r["doc_id"] == -1
                                 for r in bad)
    assert all(r["out_w"] == 0 and r["thumb_sha"] == "" for r in bad)
    good = [r for r in rows if r["resize_ok"]]
    assert all(1 <= r["out_w"] <= 256 and 1 <= r["out_h"] <= 256
               for r in good)


def test_sample_frames_fanout(spark, sf_dir):
    m = multimodal.synth_media(synth_pages(spark, sf_dir).limit(20))
    out = multimodal.sample_frames(m, every_n=10, max_frames=4)
    per_doc = out.groupBy("doc_id").count().collect()
    assert all(1 <= r["count"] <= 4 for r in per_doc)
    assert len(per_doc) == 20


def test_lsh_bucket_cap_drops_degenerate_family(spark, sf_dir):
    """A degenerate duplicate family (many docs, one bucket) explodes
    the LSH self-join quadratically; the opt-in max_bucket cap excludes
    exactly those buckets and the diagnostic reports them — normal
    near-dup pairs are unaffected."""
    from optimizerasters_spark.operators import dedup
    base = spark.read.parquet(f"{sf_dir}/documents.parquet") \
        .select("doc_id", "text").where(F.col("doc_id") < 50)
    # 30 byte-identical clones of one text -> every band bucket holds 30
    clones = spark.range(30).select(
        (F.col("id") + 1000).alias("doc_id"),
        F.lit("the same boilerplate page text repeated verbatim")
         .alias("text"))
    docs = base.unionByName(clones)
    uncapped = dedup.lsh_candidate_pairs(docs)
    capped = dedup.lsh_candidate_pairs(docs, max_bucket=10)
    clone_pairs = 30 * 29 // 2
    n_unc, n_cap = uncapped.count(), capped.count()
    assert n_unc >= clone_pairs
    assert n_cap == n_unc - clone_pairs  # only the clone family dropped
    dropped = dedup.lsh_oversized_buckets(docs, max_bucket=10)
    assert dropped.count() > 0
    assert all(r["n_docs"] == 30 for r in dropped.collect())


def test_training_flagship_bucket_cap_is_reported(spark, sf_dir):
    """VERDICT r03 minor: max_bucket is wired through the composed
    flagship, and training_oversized_buckets reports what the cap drops
    over the SAME post-exact-dedup input the flagship's LSH stage sees.
    Exact-dedup catches byte-identical clones first, so a clone family
    never reaches LSH — the reported oversized family must be one of
    DISTINCT near-identical texts."""
    from optimizerasters_spark.operators import training
    base = spark.read.parquet(f"{sf_dir}/documents.parquet") \
        .select("doc_id", "text", "lang").where(F.col("doc_id") < 50)
    # 30 distinct one-token variants of one boilerplate text: survive
    # exact dedup, all land in the same LSH band buckets
    family = spark.range(30).select(
        (F.col("id") + 1000).alias("doc_id"),
        F.concat(
            F.lit("the same boilerplate page text repeated verbatim "
                  "across the mirror farm item "),
            F.col("id").cast("string")).alias("text"),
        F.lit("en").alias("lang"))
    docs = base.unionByName(family)
    capped = training.training_flagship_rollup(docs, max_bucket=10)
    uncapped = training.training_flagship_rollup(docs)
    # the capped run keeps the whole family (its pairs were excluded)
    n_cap = {r["lang"]: r["n_docs"] for r in capped.collect()}
    n_unc = {r["lang"]: r["n_docs"] for r in uncapped.collect()}
    assert n_cap["en"] > n_unc["en"]
    # ... and the report names exactly what the cap dropped
    report = training.training_oversized_buckets(docs, max_bucket=10)
    rows = report.collect()
    assert rows and all(r["n_docs"] > 10 for r in rows)


def test_training_repetition_gate_drops_bigram_spam(spark, sf_dir):
    """The opt-in Gopher-style repetition gate: a doc that is one
    bigram repeated survives the token/word-length gate but must fall
    to max_top_bigram_micro; normal docs are unaffected."""
    from optimizerasters_spark.operators import training
    base = spark.read.parquet(f"{sf_dir}/documents.parquet") \
        .select("doc_id", "text", "lang").where(F.col("doc_id") < 50)
    spam = spark.createDataFrame(
        [(9999, " ".join(["buy now"] * 40), "en")],
        "doc_id bigint, text string, lang string")
    docs = base.unionByName(spam)
    plain = {r["doc_id"] for r in
             training.training_kept(docs).select("doc_id").collect()}
    gated = {r["doc_id"] for r in
             training.training_kept(docs, max_top_bigram_micro=500000)
             .select("doc_id").collect()}
    assert 9999 in plain
    assert 9999 not in gated
    assert gated == plain - {9999}


def test_training_flagship_materialized_reps_equivalent(spark, sf_dir,
                                                        tmp_path):
    """reps_path materialization (the 100 TB scan-once form) must not
    change the pipeline's answer, and the downstream plan must scan the
    materialized reps table instead of re-deriving the dedup."""
    from optimizerasters_spark.operators import training
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    plain = training.training_flagship_rollup(d)
    mat = training.training_flagship_rollup(
        d, reps_path=str(tmp_path / "reps"))
    assert sorted(map(tuple, plain.collect())) == \
        sorted(map(tuple, mat.collect()))
    simple = mat._sc._jvm.PythonSQLUtils.explainString(
        mat._jdf.queryExecution(), "simple")
    assert "reps" in simple  # downstream scans the materialized table
    assert "documents.parquet" not in simple


def test_exact_dedup_survivors_on_dirty_text(spark):
    """The exact-dedup step (one aggregate: min (doc_id, payload) struct
    per sha256(text)) keeps the same rows as the semi-join form
    docs ⋉ dedup_exact(docs) on dirty input: NULL, empty and
    whitespace-only texts, byte-identical texts under several doc_ids
    (listed out of doc_id order, with differing payloads) and a NULL
    doc_id. training_kept, with its near-dup and quality thresholds
    opened, returns those survivors; only NULL text still falls to the
    token gate (size(split(NULL)) is NULL)."""
    from optimizerasters_spark.operators import dedup, training
    same = "the same page text under several ids"
    docs = spark.createDataFrame(
        [(30, same, "de"), (20, same, "en"), (25, same, "fr"),
         (1, None, "en"), (2, None, "de"),
         (4, "", "en"), (3, "", "de"),
         (6, "   ", "en"), (5, "   ", "de"), (7, "  ", "en"),
         (None, "orphan text without an id", "en"),
         (None, same, "en"),
         (8, "a distinct page about rivers", "en")],
        "doc_id bigint, text string, lang string")
    old = docs.join(dedup.dedup_exact(docs).select("doc_id"), "doc_id",
                    "left_semi")
    expect = sorted(map(tuple, old.collect()), key=str)
    assert sorted(map(tuple, dedup.dedup_exact_rows(docs).collect()),
                  key=str) == expect
    assert {r[0] for r in expect} == {20, 1, 3, 5, 7, 8}
    kept = training.training_kept(docs, jaccard_micro=1_000_001,
                                  min_tokens=0,
                                  max_mean_wl_micro=10 ** 12)
    assert sorted(map(tuple, kept.select(*docs.columns).collect()),
                  key=str) == [r for r in expect if r[1] is not None]


_PAGES = "url string, doc_id bigint, warc_epoch bigint, text string, " \
         "lang string"


def test_dedup_latest_null_epochs_match_max_by(spark):
    """A NULL warc_epoch loses to any non-NULL one (negative included),
    a url whose epochs are all NULL keeps its lowest doc_id, and an
    epoch tie keeps the lowest doc_id: the rows the earlier
    max_by(row, (warc_epoch, -doc_id)) form keeps."""
    from optimizerasters_spark.operators import dedup
    pages = spark.createDataFrame(
        [("a", 10, None, "a10", "en"), ("a", 11, 5, "a11", "de"),
         ("a", 12, None, "a12", "fr"),
         ("b", 21, None, "b21", "en"), ("b", 20, None, "b20", "de"),
         ("b", 22, None, None, "fr"),
         ("c", 31, 7, "c31", "en"), ("c", 30, 7, "c30", "de"),
         ("d", 40, None, "d40", "en"), ("d", 41, -3, "d41", "de")],
        _PAGES).repartition(3)
    others = [c for c in pages.columns if c != "url"]
    order = F.struct("warc_epoch", (-F.col("doc_id")).alias("_inv"))
    max_by = (pages.groupBy("url")
              .agg(F.max_by(F.struct(*others), order).alias("_row"))
              .select("url", *[F.col(f"_row.{c}").alias(c)
                               for c in others]))
    got = sorted(map(tuple, dedup.dedup_latest(pages).collect()))
    assert got == sorted(map(tuple, max_by.collect()))
    assert [r[1] for r in got] == [11, 20, 30, 41]


def test_dedup_latest_full_tie_is_order_independent(spark):
    """Rows tied on (url, warc_epoch, doc_id) resolve on the payload
    fields in column order, so the same row wins under two input
    orders: the greatest (text, lang), NULL text lowest."""
    from optimizerasters_spark.operators import dedup
    rows = [("u", 1, 5, "alpha", "de"), ("u", 1, 5, "zeta", "en"),
            ("u", 1, 5, None, "fr"), ("u", 1, 5, "zeta", "de"),
            ("u", 2, 5, "zzz", "en"), ("v", 3, None, "v", "en")]
    one = spark.createDataFrame(rows, _PAGES).repartition(4)
    two = spark.createDataFrame(rows[::-1], _PAGES).coalesce(1)
    want = [("u", 1, 5, "zeta", "en"), ("v", 3, None, "v", "en")]
    for pages in (one, two):
        assert sorted(map(tuple, dedup.dedup_latest(pages).collect())) \
            == want


def test_dup_components_chains_and_isolated_families(spark):
    """Explicit graph: chain 1-2-3 (A~B, B~C, never A~C), pair 5-6,
    singleton-free by construction — labels converge to the family
    minimum in O(diameter) rounds."""
    from optimizerasters_spark.operators import dedup
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (5, 6), (10, 11), (11, 12), (12, 13)],
        "doc_a bigint, doc_b bigint")
    got = {r["doc_id"]: r["comp"]
           for r in dedup.dup_components(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 5: 5, 6: 5,
                   10: 10, 11: 10, 12: 10, 13: 10}


def test_robots_filter_allow_precedence_case_and_null_path(spark):
    """RFC 9309 semantics: longest matching prefix governs (Allow
    /p/ok beats Disallow /p/), an exact-length tie goes to Allow,
    field names match case-insensitively, a pathless URL is the empty
    path (never silently dropped), and robots-less hosts pass."""
    from optimizerasters_spark.operators import web
    pages = spark.createDataFrame([
        (1, "https://a.example/p/ok/page"),   # Allow /p/ok wins
        (2, "https://a.example/p/bad"),       # Disallow /p/ governs
        (3, "https://a.example/q"),           # no rule matches
        (4, "https://b.example/d/x"),         # tie -> Allow wins
        (5, "https://c.example/p/1"),         # DISALLOW: uppercase
        (6, "https://c.example"),             # NULL path -> ''
        (7, "https://d.example/p/9"),         # host without robots
    ], "doc_id bigint, url string")
    robots = spark.createDataFrame([
        ("a.example", "User-Agent: *\nDisallow: /p/\nAllow: /p/ok\n"),
        ("b.example", "user-agent: *\ndisallow: /d/\nallow: /d/\n"),
        ("c.example", "USER-AGENT: *\nDISALLOW: /p/\n"),
    ], "host string, robots_txt string")
    kept = sorted(r["doc_id"]
                  for r in web.robots_filter(pages, robots).collect())
    assert kept == [1, 3, 4, 6, 7]


def test_repetition_quality_exploded_twin_matches_array_path(spark):
    """Docs above max_exact_lines switch from the per-row O(lines²)
    dup-char scan to the exploded groupBy(doc_id, line) twin — the
    values must be IDENTICAL (both exact), and a multi-thousand-line
    doc must flow through the linear path (VERDICT r04 #3)."""
    from optimizerasters_spark.operators import text as T
    big = "\n".join([f"line {i % 100}" for i in range(3000)] +
                    [f"uniq {i}" for i in range(40)])
    small = "a\nb\na\nc"
    df = spark.createDataFrame([(1, big), (2, small)],
                               "doc_id bigint, text string")
    forced_big = [tuple(r) for r in T.repetition_quality(
        df, max_exact_lines=0).orderBy("doc_id").collect()]
    forced_small_doc2 = [tuple(r) for r in T.repetition_quality(
        df, max_exact_lines=10).orderBy("doc_id").collect()]
    all_array = [tuple(r) for r in T.repetition_quality(
        df, max_exact_lines=10 ** 6).orderBy("doc_id").collect()]
    assert forced_big == forced_small_doc2 == all_array
    r2 = dict(zip(("doc_id", "dup_line_ratio_micro",
                   "dup_line_char_ratio_micro",
                   "top_bigram_ratio_micro"), forced_big[1]))
    # a,b,a,c: 4 lines / 3 distinct -> 250000; 2 of 4 chars dup'd
    assert r2["dup_line_ratio_micro"] == 250000
    assert r2["dup_line_char_ratio_micro"] == 500000


def test_dup_components_raises_instead_of_silent_nonconvergence(spark):
    """A duplicate chain deeper than max_iters must RAISE — returning
    partially-propagated labels would silently split one family into
    several canonical representatives (ADVICE r04). Min-label
    propagation needs ~diameter rounds for a path graph, so a 12-hop
    chain cannot converge in 2."""
    import pytest
    from optimizerasters_spark.operators import dedup
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(12)], "doc_a bigint, doc_b bigint")
    with pytest.raises(RuntimeError, match="did not converge"):
        dedup.dup_components(chain, max_iters=2)
    # and a budget >= the diameter still converges to one family
    got = {r["doc_id"]: r["comp"]
           for r in dedup.dup_components(chain, max_iters=15).collect()}
    assert set(got.values()) == {0} and len(got) == 13


def test_compact_cells_minimal_cover_explicit(spark):
    """A full 4x4 block (16 level-0 cells) compacts to ONE level-2
    cell; a full 2x2 block to one level-1 cell; a lone cell stays at
    level 0 — and the union is the exact minimal cover."""
    from optimizerasters_spark.operators import spatial
    cells = ([(x, y) for x in range(4) for y in range(4)] +       # 4x4
             [(8, 8), (9, 8), (8, 9), (9, 9)] +                   # 2x2
             [(20, 20)])                                          # lone
    df = spark.createDataFrame(cells, "tile_x bigint, tile_y bigint")
    got = {(r["level"], r["tile_x"], r["tile_y"])
           for r in spatial.compact_cells(df, max_level=3).collect()}
    assert got == {(2, 0, 0), (1, 4, 4), (0, 20, 20)}


def test_pagerank_hand_computed_star(spark):
    """a->b for 3 integer iterations: r_a stays at the base 150000
    (no in-links), r_b converges to 150000 + (850*150000)//1000."""
    from optimizerasters_spark.operators import graph
    e = spark.createDataFrame([(1, 2)], "src bigint, dst bigint")
    got = {r["node"]: r["rank_micro"]
           for r in graph.pagerank(e, iters=3).collect()}
    assert got == {1: 150000, 2: 277500}


def test_extract_links_resolution_paths(spark):
    """Absolute http(s) hrefs pass through, host-relative hrefs
    resolve against the page's scheme://host, and mailto/javascript/
    fragment anchors drop."""
    from optimizerasters_spark.operators import graph
    html = ('<a href="https://other.example/x">a</a>'
            '<a href="/rel/path?q=1">b</a>'
            '<a href="mailto:x@y.z">c</a>'
            '<a href="javascript:void(0)">d</a>'
            '<a href="#frag">e</a>').encode()
    p = spark.createDataFrame(
        [(7, "https://me.example/page", bytearray(html))],
        "doc_id bigint, url string, html binary")
    got = {(r["href"], r["dst_url"])
           for r in graph.extract_links(p).collect()}
    assert got == {
        ("https://other.example/x", "https://other.example/x"),
        ("/rel/path?q=1", "https://me.example/rel/path?q=1")}


def test_exact_substr_overlap_hand_computed(spark):
    """Two docs share an exact 40-token passage (one IS the passage,
    one embeds it mid-text); a third is clean. With width=32 the 9
    interior windows collide, covering exactly the 40 passage tokens
    in each carrier — interval-union math verified by hand."""
    from optimizerasters_spark.operators import dedup
    b40 = " ".join(f"tok{k}" for k in range(40))
    docs = spark.createDataFrame(
        [(1, b40),
         (2, "pre1 pre2 pre3 pre4 pre5 " + b40 + " post1 post2 post3"),
         (3, " ".join(f"clean{k}" for k in range(50)))],
        "doc_id bigint, text string")
    got = {r["doc_id"]: r for r in
           dedup.exact_substr_overlap(docs, width=32).collect()}
    assert got[1]["n_shared_windows"] == 9
    assert got[1]["n_dup_tokens"] == 40
    assert got[1]["dup_ratio_micro"] == 1000000
    assert got[2]["n_shared_windows"] == 9
    assert got[2]["n_dup_tokens"] == 40
    assert got[2]["n_tokens"] == 48
    assert got[2]["dup_ratio_micro"] == 833333
    assert got[3]["n_shared_windows"] == 0
    assert got[3]["n_dup_tokens"] == 0
    assert got[3]["dup_ratio_micro"] == 0


def test_zorder_key_is_morton_contiguous(spark):
    """The defining Z-order property: the 16 cells of an aligned 4x4
    block enumerate 0..15 under the key, and any aligned 2^k block is
    a contiguous key range (locality for range partitioning)."""
    from optimizerasters_spark.operators import spatial
    cells = spark.createDataFrame(
        [(x, y) for x in range(4) for y in range(4)],
        "x int, y int")
    rows = cells.select("x", "y",
                        spatial.zorder_key(F.col("x"), F.col("y"))
                        .alias("z")).collect()
    zs = sorted(r["z"] for r in rows)
    assert zs == list(range(16))
    by_cell = {(r["x"], r["y"]): r["z"] for r in rows}
    assert by_cell[(0, 0)] == 0 and by_cell[(1, 0)] == 1
    assert by_cell[(0, 1)] == 2 and by_cell[(1, 1)] == 3
    # the aligned 2x2 sub-block (2,2)-(3,3) occupies one contiguous run
    sub = sorted(by_cell[(x, y)] for x in (2, 3) for y in (2, 3))
    assert sub == list(range(sub[0], sub[0] + 4))


def test_ring_polyfill_centers_inside_and_cover_relation(spark):
    """Every polyfilled cell center must pass the exact ray cast, and
    compact_cells over the fill must cover the same level-0 set."""
    from optimizerasters_spark.operators import spatial
    from optimizerasters_spark.pages import synth_ring_polys
    fill = spatial.polyfill_ring(synth_ring_polys(spark), res_md=1000)
    rows = fill.collect()
    assert len(rows) > 0
    one = fill.where(F.col("polygon_id") == 0) \
        .select("cell_x", "cell_y")
    compacted = spatial.compact_cells(one, max_level=2,
                                      x_col="cell_x", y_col="cell_y")
    # expanding the compacted cover back to level 0 reproduces the fill
    expanded = set()
    for r in compacted.collect():
        f = 1 << r["level"]
        for dx in range(f):
            for dy in range(f):
                expanded.add((r["tile_x"] * f + dx,
                              r["tile_y"] * f + dy))
    base = {(r["cell_x"], r["cell_y"]) for r in one.collect()}
    assert base <= expanded  # cover is a superset (parents round up)
    assert expanded  # non-empty


def test_segment_cells_hand_computed(spark):
    """Half-cell-step traversal on hand-checkable segments: a
    horizontal run covers its full column range, a 45-degree diagonal
    covers the exact diagonal cells, a degenerate point-segment is one
    cell."""
    from optimizerasters_spark.operators import spatial
    segs = spark.createDataFrame(
        [(1, 2, 5, 6, 5),    # horizontal: (2..6, 5)
         (2, 0, 0, 3, 3),    # diagonal: (0,0)(1,1)(2,2)(3,3) + halves
         (3, 9, 9, 9, 9)],   # point
        "seg_id bigint, x0 bigint, y0 bigint, x1 bigint, y1 bigint")
    got = {}
    for r in spatial.segment_cells(segs).collect():
        got.setdefault(r["seg_id"], set()).add((r["cell_x"],
                                                r["cell_y"]))
    assert got[1] == {(x, 5) for x in range(2, 7)}
    # diagonal half-steps floor onto the diagonal itself
    assert got[2] == {(k, k) for k in range(4)}
    assert got[3] == {(9, 9)}
