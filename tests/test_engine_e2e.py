"""End-to-end engine tests (SURVEY.md §5 items 3-5): byte-identity
invariant, resume semantics, determinism, lineage metrics."""

from __future__ import annotations

import glob
import os

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from optimizerasters_spark.engine import Engine, JobConf
from optimizerasters_spark.pages import synth_pages
from optimizerasters_spark import ledger as L
from optimizerasters_spark import lineage


@pytest.fixture()
def workdir(tmp_path):
    return str(tmp_path / "job")


def _sorted_rows(df, cols):
    return sorted(tuple(r) for r in df.select(*cols).collect())


def _run_counting_jobs(spark, eng):
    """eng.run(spark) in its own job group -> (result, Spark job count)."""
    sc = spark.sparkContext
    group = f"engine-run-{eng.run_id}"
    sc.setJobGroup(group, "Engine.run")
    try:
        res = eng.run(spark)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setJobDescription(None)
    return res, len(sc.statusTracker().getJobIdsForGroup(group))


def test_full_run_and_text_byte_identity(spark, sf_dir, workdir):
    eng = Engine(JobConf(sf_dir=sf_dir, workdir=workdir))
    res, n_jobs = _run_counting_jobs(spark, eng)
    # Spark jobs of a first run over sf0.001: 46; 49 with a second
    # range exchange under the proxy ids and a two-step url dedup in
    # finalize; 55 with a second ledger commit in the process stage,
    # which read its batch back, and ledger reads that inferred their
    # schemas; 72 when finalize
    # read each derived table back and the result dict re-read every
    # output; 91 with the retry stage's ledger re-read and the two
    # fixed-answer isEmpty probes
    assert n_jobs <= 46

    # every page processed
    led = res["ledger"]
    assert led.where(F.col("processed") != "yes").count() == 0
    assert not eng.has_failures(spark)

    # byte-identity: sha256(text) per url matches the source exactly
    src = synth_pages(spark, sf_dir).select(
        "url", F.sha2(F.col("text"), 256).alias("sha_src"))
    out = res["page_tiles"].dropDuplicates(["url"]).select(
        "url", F.sha2(F.col("text"), 256).alias("sha_out"), "text_sha")
    j = src.join(out, "url", "full")
    assert j.where(
        (F.col("sha_src") != F.col("sha_out")) |
        (F.col("sha_src") != F.col("text_sha")) |
        F.col("sha_src").isNull() | F.col("sha_out").isNull()).count() == 0

    # lineage metrics exist for both stages with positive rows, plus
    # per-partition (per part file) detail from the parquet footers
    m = eng.get_metrics(spark)
    stages = {r["stage"] for r in m.collect()}
    assert {"process", "finalize", "til_finalize",
            "process.files"} <= stages
    assert m.where(F.col("rows") < 0).count() == 0
    n_in = (m.where(F.col("stage") == "process")
            .agg(F.sum("rows")).collect()[0][0])
    assert n_in == synth_pages(spark, sf_dir).count()
    # footer counts sum to the written output rows (>= input: left PIP
    # join emits one row per page per matching polygon)
    n_files = (m.where(F.col("stage") == "process.files")
               .agg(F.sum("rows")).collect()[0][0])
    assert n_files >= n_in


def test_resume_skips_processed(spark, sf_dir, workdir):
    eng1 = Engine(JobConf(sf_dir=sf_dir, workdir=workdir))
    res1 = eng1.run(spark)
    n_counts = _sorted_rows(res1["tile_counts"],
                            ["level", "tile_x", "tile_y", "page_count"])

    # second run: everything already 'yes' -> process stage sees 0 rows
    eng2 = Engine(JobConf(sf_dir=sf_dir, workdir=workdir))
    res2, n_jobs = _run_counting_jobs(spark, eng2)
    # Spark jobs of the resume: 45; 47 with a second range exchange
    # under the proxy ids and a two-step url dedup; 54 with two ledger
    # commits and schema-inferring ledger reads, 62 when finalize read
    # each derived table back and the result dict re-read every output
    assert n_jobs <= 45
    m = eng2.get_metrics(spark)
    second = m.where((F.col("run_id") == eng2.run_id) &
                     (F.col("stage") == "process"))
    total = second.agg(F.coalesce(F.sum("rows"), F.lit(0))).collect()[0][0]
    assert total == 0, "resume must not reprocess completed pages"

    # outputs unchanged
    n_counts2 = _sorted_rows(res2["tile_counts"],
                             ["level", "tile_x", "tile_y", "page_count"])
    assert n_counts == n_counts2


def test_retryall_reprocesses_everything(spark, sf_dir, workdir):
    eng1 = Engine(JobConf(sf_dir=sf_dir, workdir=workdir))
    eng1.run(spark)
    n_pages = synth_pages(spark, sf_dir).select("url").distinct().count()

    eng2 = Engine(JobConf(sf_dir=sf_dir, workdir=workdir, resume="retryall"))
    res2 = eng2.run(spark)
    m = eng2.get_metrics(spark)
    total = (m.where((F.col("run_id") == eng2.run_id) &
                     (F.col("stage") == "process"))
             .agg(F.sum("rows")).collect()[0][0])
    assert total == n_pages

    # outputs still deduplicated (append+dedup idempotence)
    out = res2["page_tiles"]
    assert out.groupBy("url", "polygon_id").count() \
              .where(F.col("count") > 1).count() == 0


def test_determinism_across_workdirs(spark, sf_dir, tmp_path):
    wd = str(tmp_path / "a")
    r1 = Engine(JobConf(sf_dir=sf_dir, workdir=wd)).run(spark)
    # the returned tables are the run's own, and equal what it wrote
    for name in ("tile_counts", "manifest", "proxy_csv"):
        disk = spark.read.parquet(f"{wd}/{name}")
        assert _sorted_rows(r1[name], disk.columns) == \
            _sorted_rows(disk, disk.columns), name
    led = L.read_ledger(spark, wd)
    assert _sorted_rows(r1["ledger"], led.columns) == \
        _sorted_rows(led, led.columns)
    r2 = Engine(JobConf(sf_dir=sf_dir, workdir=str(tmp_path / "b"))).run(spark)
    cols = ["level", "tile_x", "tile_y", "page_count"]
    assert _sorted_rows(r1["tile_counts"], cols) == \
        _sorted_rows(r2["tile_counts"], cols)
    mcols = ["tile_id", "page_count", "source_uri", "cache_path",
             "data_file", "index_file"]
    assert _sorted_rows(r1["manifest"], mcols) == \
        _sorted_rows(r2["manifest"], mcols)
    pcols = ["object_id", "csv_row"]
    assert _sorted_rows(r1["proxy_csv"], pcols) == \
        _sorted_rows(r2["proxy_csv"], pcols)
    # dense contiguous ObjectIDs starting at 1
    ids = sorted(r["object_id"] for r in r1["proxy_csv"].collect())
    assert ids == list(range(1, len(ids) + 1))


def test_partial_preseed_resume(spark, sf_dir, workdir):
    """Pre-seed 'yes' for a subset -> engine processes exactly the rest
    (FIXTURES.md T4 scenario)."""
    pages = synth_pages(spark, sf_dir)
    # fresh ledger, mark doc_id%10<3 processed already
    L.init_ledger(spark, workdir, pages, "url")
    done = pages.where(F.col("doc_id") % 10 < 3)
    L.merge_status(spark, workdir, done, "processed", L.YES, "preseed")
    n_total = pages.count()
    n_done = done.count()

    eng = Engine(JobConf(sf_dir=sf_dir, workdir=workdir))
    eng.run(spark)
    m = eng.get_metrics(spark)
    total = (m.where((F.col("run_id") == eng.run_id) &
                     (F.col("stage") == "process"))
             .agg(F.sum("rows")).collect()[0][0])
    assert total == n_total - n_done


def test_til_finalize_holds_back_incomplete_groups(spark, sf_dir, tmp_path):
    """SURVEY §2.3 TIL stage 2: a group whose members are only partially
    processed must NOT finalize; a later run that processes the missing
    members releases exactly that group, and already-finalized groups are
    not re-appended (resume = anti-join on the overview output)."""
    from optimizerasters_spark.engine import TIL_GROUPS, til_group_col
    wd = str(tmp_path / "tiljob")
    pages = synth_pages(spark, sf_dir)
    declared = pages.select("url", til_group_col())
    page_num = F.regexp_extract(F.col("url"), "/p/(\\d+)$", 1).cast("bigint")

    # run 1: hold back half the members of group 7
    held = (page_num % TIL_GROUPS == 7) & (page_num % 2 == 0)
    eng1 = Engine(JobConf(sf_dir=sf_dir, workdir=wd))
    res1 = eng1.run(spark, pages=pages.where(~held), til_members=declared)
    ov1 = res1["til_overviews"]
    assert ov1 is not None
    got1 = {r["til_group"] for r in ov1.collect()}
    assert 7 not in got1
    assert got1 == set(range(TIL_GROUPS)) - {7}

    # run 2: full input -> group 7 completes; others not duplicated
    eng2 = Engine(JobConf(sf_dir=sf_dir, workdir=wd))
    res2 = eng2.run(spark, pages=pages, til_members=declared)
    ov2 = res2["til_overviews"]
    rows = ov2.collect()
    assert {r["til_group"] for r in rows} == set(range(TIL_GROUPS))
    assert len(rows) == TIL_GROUPS  # one overview row per group, ever
    seven = [r for r in rows if r["til_group"] == 7][0]
    n7 = pages.where(page_num % TIL_GROUPS == 7).count()
    assert seven["member_count"] == n7
    assert seven["finalized_run"] == eng2.run_id


def test_quarantine_and_retry_pass(spark, sf_dir, tmp_path):
    """A6: injected failures are quarantined, the end-of-run retry pass
    recovers them, final state is complete and failure-free."""
    wd = str(tmp_path / "qjob")
    eng = Engine(JobConf(sf_dir=sf_dir, workdir=wd, inject_fail_mod=7))
    res = eng.run(spark)
    led = res["ledger"]
    assert led.where(F.col("processed") != "yes").count() == 0
    assert not eng.has_failures(spark)
    m = eng.get_metrics(spark)
    stages = {r["stage"] for r in m.collect()}
    assert "retry" in stages
    n_retry = (m.where((F.col("stage") == "retry") &
                       (F.col("run_id") == eng.run_id))
               .agg(F.sum("rows")).collect()[0][0])
    src = synth_pages(spark, sf_dir)
    assert n_retry == src.where(F.col("doc_id") % 7 == 0).count()
    # no duplicate outputs despite the two-phase write
    out = res["page_tiles"]
    assert out.groupBy("url", "polygon_id").count() \
              .where(F.col("count") > 1).count() == 0


def test_til_finalize_custom_membership_stats(spark, sf_dir, tmp_path):
    """Overview stats must aggregate under the CALLER-DECLARED grouping
    (join on url), not a re-derivation of the default URL formula — a
    custom til_members is the documented purpose of the parameter
    (ADVICE r02, engine.py til_finalize stage)."""
    wd = str(tmp_path / "customtil")
    pages = synth_pages(spark, sf_dir)
    # grouping by doc_id % 5 differs from the default url-regex % 25
    declared = pages.select("url",
                            (F.col("doc_id") % 5).alias("til_group"))
    eng = Engine(JobConf(sf_dir=sf_dir, workdir=wd))
    res = eng.run(spark, pages=pages, til_members=declared)
    ov = res["til_overviews"]
    assert ov is not None
    got = {r["til_group"]: r["member_count"] for r in ov.collect()}
    expect = {r["til_group"]: r["n"]
              for r in declared.groupBy("til_group")
              .agg(F.count(F.lit(1)).alias("n")).collect()}
    assert got == expect


def test_incremental_finalize_reads_only_new_batches(spark, sf_dir, tmp_path):
    """A resume run's finalize must read ONLY the batch dirs not yet
    folded into the level-0 tile store (cost O(new batch), never a
    corpus re-dedup), and the merged counts must equal both a
    retryall rebuild and a from-scratch single run."""
    wd = str(tmp_path / "incjob")
    pages = synth_pages(spark, sf_dir)
    half = pages.where(F.col("doc_id") % 2 == 0)

    eng1 = Engine(JobConf(sf_dir=sf_dir, workdir=wd))
    eng1.run(spark, pages=half)
    assert eng1.last_finalize_inputs  # first run folds its own batch

    eng2 = Engine(JobConf(sf_dir=sf_dir, workdir=wd))
    res2 = eng2.run(spark, pages=pages)  # odd half is new work
    # finalize read exactly this run's batch dirs — no historical ones
    assert eng2.last_finalize_inputs
    assert all(f"batch={eng2.run_id}" in p
               for p in eng2.last_finalize_inputs), eng2.last_finalize_inputs
    inc = sorted(map(tuple, res2["tile_counts"].collect()))

    # retryall rebuilds the store from every batch dir and must agree
    eng3 = Engine(JobConf(sf_dir=sf_dir, workdir=wd, resume="retryall"))
    res3 = eng3.run(spark, pages=pages)
    assert len(eng3.last_finalize_inputs) >= 2
    assert sorted(map(tuple, res3["tile_counts"].collect())) == inc

    # and a from-scratch run over the full input must agree too
    engf = Engine(JobConf(sf_dir=sf_dir, workdir=str(tmp_path / "fresh")))
    resf = engf.run(spark, pages=pages)
    assert sorted(map(tuple, resf["tile_counts"].collect())) == inc


def test_incremental_finalize_noop_when_nothing_new(spark, sf_dir, tmp_path):
    """A resume with zero pending work must not re-read any batch dir."""
    wd = str(tmp_path / "noopjob")
    pages = synth_pages(spark, sf_dir)
    eng1 = Engine(JobConf(sf_dir=sf_dir, workdir=wd))
    res1 = eng1.run(spark, pages=pages)
    before = sorted(map(tuple, res1["tile_counts"].collect()))
    eng2 = Engine(JobConf(sf_dir=sf_dir, workdir=wd))
    res2 = eng2.run(spark, pages=pages)
    # the rerun's batch dir holds zero pages; only it may be re-read
    assert all(f"batch={eng2.run_id}" in p
               for p in eng2.last_finalize_inputs), eng2.last_finalize_inputs
    assert sorted(map(tuple, res2["tile_counts"].collect())) == before


def test_engine_scrub_pii_redacts_before_any_output(spark, sf_dir,
                                                    tmp_path):
    """A caller that scrubs PII from ``pages`` (web.scrubbed_col) before
    Engine.run redacts at ingest, before the ledger init, so no raw
    email/phone ever lands in the per-page output — and the job's
    byte-identity invariant holds over the scrubbed corpus across a
    resume."""
    from optimizerasters_spark.operators import web
    wd = str(tmp_path / "scrubjob")
    raw = synth_pages(spark, sf_dir).withColumn(
        "text",
        F.concat(F.col("text"),
                 F.lit(" mail bob@x.example.com call 555-123-4567 ")))
    pages = raw.withColumn("text", web.scrubbed_col(F.col("text")))
    eng = Engine(JobConf(sf_dir=sf_dir, workdir=wd))
    res = eng.run(spark, pages=pages)
    out = res["page_tiles"]
    assert out.where(F.col("text").contains("bob@x.example.com")) \
              .count() == 0
    assert out.where(F.col("text").contains("555-123-4567")).count() == 0
    n_scrubbed = out.where(F.col("text").contains("<EMAIL>")).count()
    assert n_scrubbed == out.count()  # every page carried the fixture
    # resume run over the same (scrubbed) universe is a no-op
    eng2 = Engine(JobConf(sf_dir=sf_dir, workdir=wd))
    res2 = eng2.run(spark, pages=pages)
    assert res2["page_tiles"].count() == out.count()


def test_engine_blocklist_excludes_domains_from_job_universe(
        spark, sf_dir, tmp_path):
    """A blocklist the caller applies to ``pages`` (web.blocklist_filter)
    removes blocked-domain pages before the ledger init — they never
    appear in page_tiles OR the ledger."""
    from optimizerasters_spark.operators import web
    wd = str(tmp_path / "blockjob")
    pages = synth_pages(spark, sf_dir)
    blocked = (web.url_parts(pages).where(F.col("doc_id") % 5 == 0)
               .select(F.col("domain").alias("bdom")).distinct())
    eng = Engine(JobConf(sf_dir=sf_dir, workdir=wd))
    res = eng.run(spark, pages=web.blocklist_filter(pages, blocked)
                  .drop("host"))
    hosts = web.url_parts(res["page_tiles"], "url")
    leaked = hosts.join(
        blocked, hosts["domain"] == blocked["bdom"], "left_semi").count()
    assert leaked == 0
    led_hosts = web.url_parts(res["ledger"], "url")
    assert led_hosts.join(blocked,
                          led_hosts["domain"] == blocked["bdom"],
                          "left_semi").count() == 0
    assert res["page_tiles"].count() > 0


def test_til_finalize_noop_when_nothing_releasing(spark, sf_dir,
                                                  tmp_path):
    """VERDICT r03 'What's wrong' #1: a steady-state resume (no group
    newly complete) must not scan page_tiles in til_finalize at all —
    the stage short-circuits on the ledger-derived releasing set and
    the overview output is unchanged."""
    wd = str(tmp_path / "tilnoop")
    pages = synth_pages(spark, sf_dir)
    eng1 = Engine(JobConf(sf_dir=sf_dir, workdir=wd))
    res1 = eng1.run(spark, pages=pages)
    assert eng1.last_til_finalize_scanned  # first run releases groups
    before = sorted(map(tuple, res1["til_overviews"].collect()))
    assert before
    eng2 = Engine(JobConf(sf_dir=sf_dir, workdir=wd))
    res2 = eng2.run(spark, pages=pages)
    assert not eng2.last_til_finalize_scanned
    assert sorted(map(tuple, res2["til_overviews"].collect())) == before


def test_l0_store_vacuum_and_orphan_tolerance(spark, sf_dir, tmp_path):
    """Superseded level-0 versions are vacuumed on the next run, and an
    orphan version dir (crash after parquet write, before pointer flip)
    is ignored by readers and reclaimed — the previous CURRENT stays
    authoritative."""
    import os
    wd = str(tmp_path / "vacjob")
    pages = synth_pages(spark, sf_dir)
    eng1 = Engine(JobConf(sf_dir=sf_dir, workdir=wd))
    res1 = eng1.run(spark, pages=pages.where(F.col("doc_id") % 2 == 0))
    before = sorted(map(tuple, res1["tile_counts"].collect()))
    l0_root = os.path.join(wd, "tile_counts_l0")

    # simulate a crash: a version dir written but never pointed at
    orphan = os.path.join(l0_root, "v-orphan000000")
    os.makedirs(orphan)
    with open(os.path.join(orphan, "_merged_batches.txt"), "w") as f:
        f.write("batch=bogus")

    eng2 = Engine(JobConf(sf_dir=sf_dir, workdir=wd))
    res2 = eng2.run(spark, pages=pages)
    assert not os.path.isdir(orphan)  # reclaimed, never read
    # vacuum at job start bounds the store to current + the one version
    # this run superseded — versions never accumulate across runs
    vdirs = [n for n in os.listdir(l0_root)
             if n != "CURRENT" and os.path.isdir(os.path.join(l0_root, n))]
    assert len(vdirs) <= 2, vdirs
    # and the merge result is unaffected
    engf = Engine(JobConf(sf_dir=sf_dir, workdir=str(tmp_path / "f")))
    full = sorted(map(tuple,
                      engf.run(spark, pages=pages)["tile_counts"]
                      .collect()))
    assert sorted(map(tuple, res2["tile_counts"].collect())) == full
    assert before != full  # run 2 really added the odd half


def _codecs(root):
    """Every column chunk codec of every parquet file under ``root``
    (schema-only files have no row groups and no chunks)."""
    out = set()
    for d, _, files in os.walk(root):
        for f in files:
            if f.endswith(".parquet"):
                md = pq.ParquetFile(os.path.join(d, f)).metadata
                out |= {md.row_group(g).column(c).compression
                        for g in range(md.num_row_groups)
                        for c in range(md.num_columns)}
    return out


def _load_half_then_resume(spark, sf_dir, wd, first_codec=None):
    """Load the even doc_ids, then resume over every page; the load
    writes parquet as ``first_codec`` (None = the session's codec)."""
    pages = synth_pages(spark, sf_dir)
    key = "spark.sql.parquet.compression.codec"
    prev = spark.conf.get(key)
    eng1 = Engine(JobConf(sf_dir=sf_dir, workdir=wd))
    try:
        if first_codec:
            spark.conf.set(key, first_codec)
        eng1.run(spark, pages=pages.where(F.col("doc_id") % 2 == 0))
    finally:
        spark.conf.set(key, prev)
    eng2 = Engine(JobConf(sf_dir=sf_dir, workdir=wd))
    eng2.run(spark, pages=pages)
    return [eng1, eng2]


def _outputs(spark, wd):
    """Each output table's rows, minus the columns that name a run."""
    def rows(df, drop=()):
        return _sorted_rows(df, [c for c in df.columns if c not in drop])
    out = {n: rows(spark.read.parquet(os.path.join(wd, n)))
           for n in ("tile_counts", "manifest", "proxy_csv")}
    out["page_tiles"] = rows(spark.read.parquet(os.path.join(
        wd, "page_tiles")), ("batch",))
    out["ledger"] = rows(L.read_ledger(spark, wd), ("updated_run",))
    out["til_overviews"] = rows(spark.read.parquet(os.path.join(
        wd, "til_overviews")), ("finalized_run",))
    return out


@pytest.fixture(scope="module")
def default_codec_job(spark, sf_dir, tmp_path_factory):
    """(workdir, engines) of a load plus resume under the session codec."""
    wd = str(tmp_path_factory.mktemp("codec") / "job")
    return wd, _load_half_then_resume(spark, sf_dir, wd)


def test_engine_outputs_zstd_and_bounded_appends_one_file(
        spark, default_codec_job):
    """Every table the engine writes is zstd, and the appends whose row
    count the driver bounds (lineage metrics, til_overviews) write one
    part file each."""
    wd, engines = default_codec_job
    assert _codecs(wd) == {"ZSTD"}
    mdir = lineage.metrics_path(wd)
    appends = spark.read.parquet(mdir) \
        .where(F.col("partition_id") == -1).count()
    assert appends == 6  # process, finalize, til_finalize per run
    assert len(glob.glob(os.path.join(mdir, "part-*"))) == appends
    til_appends = sum(e.last_til_finalize_scanned for e in engines)
    assert til_appends == 1  # the resume releases no group
    assert len(glob.glob(os.path.join(wd, "til_overviews", "part-*"))) \
        == til_appends


def test_mixed_codec_workdir_resumes_like_one_codec(
        spark, sf_dir, tmp_path, default_codec_job):
    """A workdir loaded under snappy and resumed under zstd reads both
    codecs in one table (ledger base + deltas, page_tiles batches, the
    level-0 merge) and ends with the outputs of a run made wholly under
    the session codec."""
    wd = str(tmp_path / "mixed")
    _load_half_then_resume(spark, sf_dir, wd, first_codec="snappy")
    led = os.path.join(wd, "ledger")
    assert _codecs(L.current_snapshot(led)) == {"SNAPPY"}
    assert _codecs(os.path.join(led, "delta")) == {"SNAPPY", "ZSTD"}
    assert _codecs(os.path.join(wd, "page_tiles")) == {"SNAPPY", "ZSTD"}
    # the superseded snappy level-0 version the resume merged from
    assert _codecs(os.path.join(wd, "tile_counts_l0")) == {"SNAPPY", "ZSTD"}
    assert _outputs(spark, wd) == _outputs(spark, default_codec_job[0])


def test_engine_hygiene_knobs(spark, sf_dir, tmp_path):
    """A per-host cap and an md5 sample the caller applies to ``pages``
    (web.domain_cap after its own dedup_latest, web.hash_sample) shape
    the job's input universe BEFORE ledger init: the ledger holds
    exactly the filtered set, no host exceeds the cap, the sample is the
    deterministic md5 subset, and a resume over the same input
    reprocesses nothing."""
    from optimizerasters_spark.operators import dedup, web
    wd = str(tmp_path / "hyg")
    pages = web.domain_cap(
        web.hash_sample(dedup.dedup_latest(synth_pages(spark, sf_dir)),
                        500, "url"), 2).drop("host")
    eng = Engine(JobConf(sf_dir=sf_dir, workdir=wd))
    res = eng.run(spark, pages=pages)
    led = res["ledger"]
    assert led.count() == pages.count()
    hosts = web.url_parts(led).groupBy("host").count() \
        .agg(F.max("count")).collect()[0][0]
    assert hosts <= 2
    assert led.where(F.col("processed") != "yes").count() == 0
    # resume: nothing pending
    eng2 = Engine(JobConf(sf_dir=sf_dir, workdir=wd))
    eng2.run(spark, pages=pages)
    m = eng2.get_metrics(spark)
    n2 = (m.where((F.col("stage") == "process") &
                  (F.col("run_id") == eng2.run_id))
          .agg(F.sum("rows")).collect()[0][0])
    assert n2 == 0


def test_warc_to_training_corpus_end_to_end(spark, sf_dir, tmp_path):
    """The full web-corpus path composed from this repo's pieces: WARC
    segments -> response records (expand_warcs) -> text decode ->
    robots politeness -> PII scrub -> deduped corpus ingest
    (CorpusBuilder) — the pipeline a Common-Crawl user actually runs,
    end to end, with byte-identity of surviving scrubbed texts."""
    from optimizerasters_spark.operators import web
    from optimizerasters_spark.operators.training_incremental import (
        CorpusBuilder,
    )
    from optimizerasters_spark.sources import warc

    docs = [(r["doc_id"], r["text"]) for r in
            spark.read.parquet(f"{sf_dir}/documents.parquet")
            .select("doc_id", "text").where(F.col("doc_id") < 60)
            .collect()]
    # 3 segments x 20 records; every 5th record duplicates content;
    # host site{doc% 7}.example so robots rules bite across records
    def rec(doc_id, text):
        body = text if doc_id % 5 != 4 else docs[0][1]   # planted dup
        body += f" mail user{doc_id}@x.example.com"
        return (f"https://site{doc_id % 7}.example/p/{doc_id}",
                "2026-08-17T00:00:00Z", body.encode())
    segs = []
    for s in range(3):
        chunk = [rec(d, t) for d, t in docs[s * 20:(s + 1) * 20]]
        segs.append((f"seg{s}.warc", bytearray(warc.write_warc_bytes(chunk))))
    seg_df = spark.createDataFrame(segs, "path string, content binary")

    records = warc.expand_warcs(seg_df).where("parse_ok")
    assert records.count() == 60
    pages = records.select(
        F.monotonically_increasing_id().alias("doc_id"),
        "url",
        F.decode(F.col("payload"), "UTF-8").alias("text"))
    # robots: site0 disallows /p/ for the wildcard agent
    robots = spark.createDataFrame(
        [("site0.example", "User-agent: *\nDisallow: /p/\n")],
        "host string, robots_txt string")
    polite = web.robots_filter(pages, robots)
    n_site0 = pages.where(F.col("url").contains("//site0.")).count()
    assert n_site0 > 0
    assert polite.count() == 60 - n_site0
    # PII scrub before anything persists
    clean = polite.withColumn("text", web.scrubbed_col(F.col("text")))
    assert clean.where(F.col("text").contains("@x.example.com")) \
                .count() == 0
    # corpus ingest: planted exact dups collapse
    cb = CorpusBuilder(str(tmp_path / "warc_corpus"))
    stats = cb.ingest(spark, clean.select("doc_id", "text"))
    assert stats["in"] == 60 - n_site0
    kept = cb.kept(spark)
    # survivors are byte-identical to inputs (no text mutation in the
    # pipeline) and the planted exact-dup family (doc%5==4 -> docs[0]
    # body, identical after scrub) collapses to exactly ONE kept row;
    # the builder may additionally drop genuine near-dups, so kept is
    # a subset of the distinct inputs, never a superset
    shas_in = {r[0] for r in
               clean.select(F.sha2("text", 256)).distinct().collect()}
    out_rows = [r[0] for r in kept.select(F.sha2("text", 256)).collect()]
    shas_out = set(out_rows)
    assert len(out_rows) == len(shas_out)          # no dup kept twice
    assert shas_out <= shas_in
    assert stats["accepted"] < stats["in"]         # dups really dropped
    import hashlib
    fam = hashlib.sha256(
        (docs[0][1] + " mail <EMAIL>").encode()).hexdigest()
    assert out_rows.count(fam) == 1                # planted family -> 1


def test_engine_canonicalize_urls_collapses_variants(spark, sf_dir,
                                                     tmp_path):
    """A caller that canonicalizes urls (web.url_canonicalize) before
    Engine.run does so ahead of the engine's dedup_latest, so a
    utm-junk variant of an existing page collapses onto its canonical
    row (latest warc_epoch wins) — the job universe and ledger never
    see the tracking variant."""
    from optimizerasters_spark.operators import web
    wd = str(tmp_path / "canonjob")
    base = synth_pages(spark, sf_dir)
    variant = (base.withColumn(
        "url", F.concat(F.col("url"), F.lit("?utm_source=feed#frag")))
        .withColumn("warc_epoch", F.col("warc_epoch") + 1))
    pages = (web.url_canonicalize(base.unionByName(variant))
             .withColumn("url", F.col("canon_url"))
             .drop("canon_url", "changed"))
    eng = Engine(JobConf(sf_dir=sf_dir, workdir=wd))
    res = eng.run(spark, pages=pages)
    out = res["page_tiles"]
    assert out.where(F.col("url").contains("utm_")).count() == 0
    # job universe = one ledger row per CANONICAL url (the variant
    # collapsed onto it), not 2x
    n_base = base.count()
    assert res["ledger"].select("url").distinct().count() == n_base
    assert out.select("url").distinct().count() <= n_base
    # the variant (higher warc_epoch) won the latest-per-url dedup
    joined = out.join(base.select("url",
                                  F.col("warc_epoch").alias("base_ep")),
                      "url")
    assert joined.count() > 0
    assert joined.where(F.col("warc_epoch") != F.col("base_ep") + 1) \
                 .count() == 0


def test_corpus_pipeline_removes_every_junk_class(spark, sf_dir):
    """The full crawl->shards composition: each hygiene stage fires on
    its planted junk class and ONLY that class — tracking variant
    collapses, robots/blocklist hosts drop, exact and near duplicates
    drop their newer/higher id, the contaminated doc and the
    too-short doc vanish — and the surviving shard table is
    deterministic across reruns."""
    from optimizerasters_spark.operators import training
    i = F.col("doc_id")
    base = synth_pages(spark, sf_dir).where(i < 60)

    def variant(src_id, new_id, url_suffix, text_fn=None):
        v = (base.where(i == src_id)
             .withColumn("doc_id", F.lit(new_id).cast("bigint"))
             .withColumn("url", F.concat(F.col("url"),
                                         F.lit(url_suffix))))
        if text_fn is not None:
            v = v.withColumn("text", text_fn(F.col("text")))
        return v

    # tracking variant of doc 1: same canonical url, newer crawl
    track = (base.where(i == 1)
             .withColumn("url", F.concat(F.col("url"),
                                         F.lit("?utm_source=x#f")))
             .withColumn("warc_epoch", F.col("warc_epoch") + 1))
    exact_dup = variant(6, 10060, "x")
    near_dup = variant(7, 10061, "y",
                       lambda t: F.concat(t, F.lit(" zzz zzz")))
    low_q = variant(9, 10062, "z", lambda t: F.lit("a b"))
    contam_text = " ".join(f"qq{k}" for k in range(30))
    contam = variant(2, 10063, "w", lambda t: F.lit(contam_text))
    pages = (base.unionByName(track).unionByName(exact_dup)
             .unionByName(near_dup).unionByName(low_q)
             .unionByName(contam))
    robots = spark.createDataFrame(
        [("site3.example", "User-agent: *\nDisallow: /p/\n")],
        "host string, robots_txt string")
    blocked = spark.createDataFrame([("site5.example",)], "bdom string")
    benchmark = spark.createDataFrame([(8888, contam_text)],
                                      "doc_id bigint, text string")
    out = training.corpus_pipeline(pages, robots=robots,
                                   blocked=blocked,
                                   benchmark=benchmark)
    rows = out.collect()
    survivors = {r["doc_id"] for r in rows}
    assert len(rows) == len(survivors)  # one shard row per doc
    assert 1 in survivors           # canonical collapse kept the doc
    assert 3 not in survivors       # robots Disallow /p/
    assert 5 not in survivors       # blocklisted domain
    assert 6 in survivors and 10060 not in survivors   # exact dup
    assert 7 in survivors and 10061 not in survivors   # near dup
    assert 10063 not in survivors   # benchmark-contaminated
    assert 10062 not in survivors   # quality gate (2 tokens)
    # deterministic: identical shard assignment on rerun
    again = training.corpus_pipeline(pages, robots=robots,
                                     blocked=blocked,
                                     benchmark=benchmark).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, again))
    # the stratified-mix stage composes: en-only mix keeps only en docs
    en_only = training.corpus_pipeline(pages, robots=robots,
                                       blocked=blocked,
                                       benchmark=benchmark,
                                       rates_milli={"en": 1000})
    assert {r["lang"] for r in en_only.collect()} <= {"en"}
    # ... and so does the repetition gate: a planted bigram-spam doc
    # passes the plain build but falls to max_top_bigram_micro
    spam = (base.where(i == 11)
            .withColumn("doc_id", F.lit(10064).cast("bigint"))
            .withColumn("url", F.concat(F.col("url"), F.lit("s")))
            .withColumn("text", F.lit(" ".join(["buy now"] * 40))))
    with_spam = pages.unionByName(spam)
    plain = {r["doc_id"] for r in training.corpus_pipeline(
        with_spam, robots=robots, blocked=blocked,
        benchmark=benchmark).collect()}
    gated = {r["doc_id"] for r in training.corpus_pipeline(
        with_spam, robots=robots, blocked=blocked, benchmark=benchmark,
        max_top_bigram_micro=500000).collect()}
    assert 10064 in plain and 10064 not in gated
    assert gated == plain - {10064}


def test_crash_windows_resume_to_the_clean_outputs(
        spark, sf_dir, tmp_path, monkeypatch, default_codec_job):
    """A resume that crashes at its ledger commit, or at the level-0
    store commit after it, and a retryall that crashes at its store
    commit each end after one more resume with the tile counts and
    ledger marks of a clean load plus resume."""
    pages = synth_pages(spark, sf_dir)
    overwrite = L._atomic_overwrite

    def crash_at_ledger_commit(*args, **kwargs):
        raise RuntimeError("injected crash at the ledger commit")

    def crash_at_store_commit(df, path, *args, **kwargs):
        if os.path.basename(path) == "tile_counts_l0":
            raise RuntimeError("injected crash at the store commit")
        return overwrite(df, path, *args, **kwargs)

    def state(wd):
        counts = spark.read.parquet(os.path.join(wd, "tile_counts"))
        return (_sorted_rows(counts, counts.columns),
                _sorted_rows(L.read_ledger(spark, wd),
                             ["url", "processed", "uploaded"]))

    want = state(default_codec_job[0])
    for name, crash, resume in (
            ("upsert_status", crash_at_ledger_commit, "resume"),
            ("_atomic_overwrite", crash_at_store_commit, "resume"),
            ("_atomic_overwrite", crash_at_store_commit, "retryall")):
        wd = str(tmp_path / f"{name}-{resume}")
        Engine(JobConf(sf_dir=sf_dir, workdir=wd)).run(
            spark, pages=pages.where(F.col("doc_id") % 2 == 0))
        with monkeypatch.context() as mp:
            mp.setattr(L, name, crash)
            with pytest.raises(RuntimeError, match="injected crash"):
                Engine(JobConf(sf_dir=sf_dir, workdir=wd,
                               resume=resume)).run(spark, pages=pages)
        Engine(JobConf(sf_dir=sf_dir, workdir=wd)).run(spark, pages=pages)
        assert state(wd) == want, (name, resume)


def test_two_runs_of_one_engine_equal_two_engines(
        spark, sf_dir, tmp_path, default_codec_job):
    """Each run() writes its own batch dir: one Engine that loads the
    even half and then resumes over every page ends with the outputs of
    two Engines doing the same."""
    wd = str(tmp_path / "one_engine")
    pages = synth_pages(spark, sf_dir)
    eng = Engine(JobConf(sf_dir=sf_dir, workdir=wd))
    eng.run(spark, pages=pages.where(F.col("doc_id") % 2 == 0))
    eng.run(spark, pages=pages)
    assert _outputs(spark, wd) == _outputs(spark, default_codec_job[0])
