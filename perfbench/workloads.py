"""The two timed workloads: the timed call, its output check and the
traced per-layer pass.

Every call goes through the package's public functions. The traced pass
forces each layer's output with a noop sink under its own job
description (``layer.<name>``); a layer's ``self_s`` is the median time
to force its output minus that of its input, both in the fused plan, and
its Spark counters are the same difference over the folded event log.

The engine, ledger and output-store layers are measured in the traced
pass of ``tile_join`` (:func:`engine_pass`): one ``Engine.run`` load and
one resume over a small re-crawled page table, each output checked
against the DuckDB reference. An ``Engine.run`` cycle costs tens of
seconds of fixed work whatever its input size, so it is not a timed
workload of its own.
"""

from __future__ import annotations

import os
import statistics
import time
import uuid
from typing import Callable, NamedTuple

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

import eventlog
import inputs
import reference
from optimizerasters_spark import ledger as L
from optimizerasters_spark.engine import Engine, JobConf
from optimizerasters_spark.operators import dedup as D
from optimizerasters_spark.operators import spatial, training
from optimizerasters_spark.operators import text as T
from optimizerasters_spark.operators import web as W
from optimizerasters_spark.pages import synth_boundaries


def describe(spark: SparkSession, desc: str | None) -> None:
    spark.sparkContext.setJobDescription(desc)


def force(spark: SparkSession, df: DataFrame, desc: str
          ) -> tuple[float, int]:
    """Run ``df`` into a noop sink; (seconds, rows). The row count rides
    the same job as an Observation."""
    obs = Observation(f"rows_{uuid.uuid4().hex[:8]}")
    describe(spark, desc)
    t0 = time.perf_counter()
    (df.observe(obs, F.count(F.lit(1)).alias("rows"))
     .write.mode("overwrite").format("noop").save())
    dt = time.perf_counter() - t0
    describe(spark, None)
    return dt, int(obs.get.get("rows", 0))


def du(path: str) -> tuple[int, int]:
    """(bytes, files) under ``path``."""
    size = files = 0
    for root, _, names in os.walk(path):
        for n in names:
            size += os.path.getsize(os.path.join(root, n))
            files += 1
    return size, files


def layer_pass(spark: SparkSession, chain, reps: int) -> dict[str, dict]:
    """Force every prefix of ``chain`` ([(layer, df)], each df the fused
    plan up to that layer) ``reps`` times. Returns per layer the median
    seconds, self seconds and rows."""
    out, prev = {}, 0.0
    for name, df in chain:
        runs = [force(spark, df, f"layer.{name}") for _ in range(reps)]
        t = statistics.median(r[0] for r in runs)
        out[name] = {"t": t, "self_s": t - prev, "rows": runs[0][1]}
        prev = t
    return out


def layer_counters(counters, chain, reps: int) -> dict[str, dict]:
    """Each layer's own Spark counters per forcing: its description's
    totals less those of the layer before it."""
    out, prev = {}, eventlog.Counters()
    for name, _ in chain:
        c = counters.get(f"layer.{name}", eventlog.Counters())
        own = c.minus(prev)
        out[name] = {k: v / reps for k, v in own.items()}
        out[name]["task_skew"] = c.task_skew()
        prev = c
    return out


def ratio(a: float, b: float) -> float:
    return a / b if b else 0.0


def dedup_counters(own: dict, rows_in: int) -> dict:
    return {"dedup_latest.shuffle_write_bytes": own["shuffle_write_bytes"],
            "dedup_latest.shuffle_write_records":
                own["shuffle_write_records"],
            "dedup_latest.partial_agg_keep_ratio":
                ratio(own["shuffle_write_records"], rows_in),
            "dedup_latest.fetch_wait_ms": own["fetch_wait_ms"],
            "dedup_latest.task_skew": own["task_skew"]}


class Trace(NamedTuple):
    """What a workload's traced pass returns."""
    metrics: dict                 # per-layer metrics measured directly
    counters: Callable            # folded event log -> more of them
    attributed_s: float           # seconds its layers account for
    mismatches: dict[str, int]    # output check, per output


class TileJoin:
    """dedup_latest -> with_tiles -> pip_join(inner) -> per-(polygon,
    tile) count, written as parquet."""
    name = "tile_join"
    cols = ("url", "doc_id", "warc_epoch", "lon_md", "lat_md")
    trace_reps = 2  # forcings per layer prefix in the traced pass

    def _chain(self, spark, paths):
        scan = spark.read.parquet(paths["pages"])
        latest = D.dedup_latest(scan.select(*self.cols))
        tiled = spatial.with_tiles(latest)
        joined = spatial.pip_join(tiled, synth_boundaries(spark),
                                  how="inner")
        counted = (joined.groupBy("polygon_id", "tile_x", "tile_y")
                   .agg(F.count(F.lit(1)).alias("page_count")))
        return [("scan", scan), ("dedup_latest", latest),
                ("with_tiles", tiled), ("pip_join", joined),
                ("tile_agg", counted)]

    def call(self, spark, paths, out) -> None:
        self._chain(spark, paths)[-1][1].write.mode("overwrite") \
            .parquet(out)

    def check(self, spark, con, out) -> dict[str, int]:
        return {"tile_counts": reference.check_tile_join(con, out)}

    def trace(self, spark, paths, work, seed, con) -> Trace:
        chain = self._chain(spark, paths)
        lp = layer_pass(spark, chain, self.trace_reps)
        m = {"scan.rows": lp["scan"]["rows"],
             "pip_join.rows_in": lp["with_tiles"]["rows"],
             "pip_join.rows_out": lp["pip_join"]["rows"]}
        for name in lp:
            m[f"{name}.self_s"] = lp[name]["self_s"]
        eng_m, eng_counters, mismatches = engine_pass(spark, work, seed)
        m.update(eng_m)

        def counters(c):
            lc = layer_counters(c, chain, self.trace_reps)
            return {**dedup_counters(lc["dedup_latest"], lp["scan"]["rows"]),
                    "pip_join.shuffle_write_bytes":
                        lc["pip_join"]["shuffle_write_bytes"],
                    "pip_join.task_skew": lc["pip_join"]["task_skew"],
                    "tile_agg.shuffle_write_records":
                        lc["tile_agg"]["shuffle_write_records"],
                    **eng_counters(c)}
        return Trace(m, counters, sum(v["self_s"] for v in lp.values()),
                     mismatches)


def engine_pass(spark, work: str, seed: int):
    """Engine.run loads the base table of :func:`inputs.ingest`, then a
    second Engine.run resumes over the base table plus the increment.
    Returns (metrics, counters function, mismatch counts); the outputs
    are checked as :func:`reference.check_ingest` describes."""
    src = os.path.join(work, "ingest_input")
    os.makedirs(src)
    paths = inputs.ingest(seed, src)["paths"]
    con = reference.connect()
    reference.ingest(con, paths)
    out = os.path.join(work, "ingest_job")
    m, walls = {}, {}
    for call, tables in (("init", [paths["base"]]),
                         ("resume", [paths["base"], paths["increment"]])):
        eng = Engine(JobConf(sf_dir="", workdir=out))
        describe(spark, f"engine.{call}")
        t0 = time.perf_counter()
        eng.run(spark, pages=spark.read.parquet(*tables))
        walls[call] = (eng.run_id, time.perf_counter() - t0)
        describe(spark, None)
    describe(spark, "trace.engine_metrics")
    stage_ms = {}
    for r in eng.get_metrics(spark).select(
            "run_id", "stage", "wall_ms").collect():
        key = (r["run_id"], r["stage"])
        stage_ms[key] = max(stage_ms.get(key, 0), r["wall_ms"])
    led = L.read_ledger(spark, out).select(
        "url", "processed", "uploaded").toArrow()
    describe(spark, None)
    for call, (run_id, wall) in walls.items():
        s = {st: stage_ms.get((run_id, st), 0) / 1000
             for st in ("process", "retry", "finalize", "til_finalize")}
        m[f"engine.{call}.process_s"] = s["process"] + s["retry"]
        m[f"engine.{call}.finalize_s"] = s["finalize"]
        m[f"engine.{call}.til_finalize_s"] = s["til_finalize"]
        m[f"engine.{call}.unstaged_s"] = wall - sum(s.values())
    reads = [force(spark, L.read_ledger(spark, out), "ledger.read")[0]
             for _ in range(3)]
    m["ledger.read_s"] = statistics.median(reads)
    m.update(ledger_on_disk(out))
    m["store.bytes_written"], m["store.files_written"] = du(out)
    m["store.page_tiles_bytes"] = du(os.path.join(out, "page_tiles"))[0]
    mismatches = {f"engine.{k}": v for k, v in
                  reference.check_ingest(con, out, led).items()}
    con.close()

    def counters(c):
        res = {}
        for call in walls:
            ec = c.get(f"engine.{call}", eventlog.Counters())
            res[f"engine.{call}.spark_jobs"] = ec.jobs
            res[f"engine.{call}.shuffle_write_bytes"] = ec.shuffle_write_bytes
        return res
    return m, counters, mismatches


def ledger_on_disk(workdir: str) -> dict:
    """Ledger shape from its files: the base snapshot CURRENT names and
    the delta commits whose _COMMITTED marker landed (ledger.py)."""
    root = os.path.join(workdir, "ledger")
    with open(os.path.join(root, "CURRENT")) as f:
        base = du(os.path.join(root, f.read().strip()))[0]
    delta = os.path.join(root, "delta")
    names = [n[len("_COMMITTED."):] for n in
             (os.listdir(delta) if os.path.isdir(delta) else [])
             if n.startswith("_COMMITTED.")]
    return {"ledger.delta_commits": len(names), "ledger.base_bytes": base,
            "ledger.delta_bytes": sum(du(os.path.join(delta, n))[0]
                                      for n in names)}


class CorpusBuild:
    """training.corpus_pipeline over the synth_docs_scaled mix with the
    robots, blocklist and benchmark tables, written as parquet."""
    name = "corpus_build"
    trace_reps = 1  # each prefix forcing costs seconds of fixed work

    def _tables(self, spark, paths):
        return {k: spark.read.parquet(v) for k, v in paths.items()}

    def call(self, spark, paths, out) -> None:
        t = self._tables(spark, paths)
        (training.corpus_pipeline(t["pages"], robots=t["robots"],
                                  blocked=t["blocked"],
                                  benchmark=t["benchmark"])
         .write.mode("overwrite").parquet(out))

    def check(self, spark, con, out) -> dict[str, int]:
        return {"shards": reference.check_corpus_build(con, out)}

    def _chain(self, spark, paths):
        """corpus_pipeline's stages, one prefix per layer, composed from
        the same public functions in the same order, each layer's plan
        built once on top of the one before it."""
        t = self._tables(spark, paths)
        scan = t["pages"]
        p = (W.url_canonicalize(scan).withColumn("url", F.col("canon_url"))
             .drop("canon_url", "changed"))
        p = W.robots_filter(p, t["robots"]).drop("host")
        filtered = W.blocklist_filter(p, t["blocked"]).drop("host")
        latest = D.dedup_latest(filtered)
        docs = latest.select("doc_id", "text", "lang")
        reps = docs.join(D.dedup_exact(docs).select("doc_id"), "doc_id",
                         "left_semi")
        cands = D.lsh_candidate_pairs(reps)
        verified = D.ngram_jaccard_pairs(
            reps, min_jaccard_micro=training.JACCARD_MICRO)
        kept = training.training_kept(docs)
        dirty = (T.ngram_contamination(kept.select("doc_id", "text"),
                                       t["benchmark"])
                 .where(F.col("contaminated")).select("doc_id"))
        clean = kept.join(dirty, "doc_id", "left_anti")
        packed = T.pack_shards(clean, 4096)
        return [("scan", scan), ("web_filters", filtered),
                ("dedup_latest", latest), ("dedup_exact", reps),
                ("lsh_candidates", cands), ("jaccard_verify", verified),
                ("quality_gate", kept), ("decontaminate", clean),
                ("pack_shards", packed)], reps, verified

    def trace(self, spark, paths, work, seed, con) -> Trace:
        chain, reps, verified = self._chain(spark, paths)
        lp = layer_pass(spark, chain, self.trace_reps)
        rows = {n: v["rows"] for n, v in lp.items()}
        m = {f"{n}.self_s": v["self_s"] for n, v in lp.items()}
        m["scan.rows"] = rows["scan"]
        describe(spark, "trace.counts")
        victims = verified.select("doc_b").distinct().count()
        biggest = (D.lsh_oversized_buckets(reps, max_bucket=0)
                   .agg(F.max("n_docs")).first()[0]) or 0
        describe(spark, None)
        m.update({
            "web_filters.keep_ratio": ratio(rows["web_filters"],
                                            rows["scan"]),
            "dedup_exact.keep_ratio": ratio(rows["dedup_exact"],
                                            rows["dedup_latest"]),
            "lsh_candidates.pairs": rows["lsh_candidates"],
            "lsh.max_bucket_docs": biggest,
            "jaccard_verify.hit_ratio": ratio(rows["jaccard_verify"],
                                              rows["lsh_candidates"]),
            "quality_gate.keep_ratio": ratio(
                rows["quality_gate"], rows["dedup_exact"] - victims)})
        # the traced chain must build what corpus_pipeline builds: as many
        # shard rows as the reference (writing its output for a full
        # comparison would cost one more pass over the whole chain)
        ref_rows = con.execute("SELECT count(*) FROM ref_shards").fetchone()[0]
        mismatches = {"traced_chain": abs(rows["pack_shards"] - ref_rows)}

        def counters(c):
            lc = layer_counters(c, chain, self.trace_reps)
            return dedup_counters(lc["dedup_latest"], rows["web_filters"])
        return Trace(m, counters, sum(v["self_s"] for v in lp.values()),
                     mismatches)


WORKLOADS = {w.name: w for w in (TileJoin(), CorpusBuild())}
