"""The training-data flagship pipeline: the four LLM-corpus stages
composed end to end over the documents table —

    exact dedup (one sha256 groupBy, keep the min-doc_id row)
      -> near-dup removal (MinHash LSH candidates, exact n-gram Jaccard
         verify, drop the higher doc_id of every confirmed pair)
      -> quality / language gate (token count, mean word length,
         stopword-ratio lang score — integer micro-units)
      -> per-language token/byte rollup

The text features of each exact-dedup survivor — its distinct
3-shingle set and, for the corpus build's decontamination, its distinct
5-gram set — come from ONE vectorized Arrow batch pass, materialized
once (a lazy local checkpoint, or parquet at ``reps_path``); MinHash,
the Jaccard verify, the kept set and decontamination all read that
table. Every other stage is built-in column functions (JVM-side). The
only shuffles are the natural keys (content hash, LSH band bucket,
lang), all uniform. The LSH bucket join is the one spot with
data-dependent skew — exactly the duplicate families the stage exists
to find; its cost is bounded by candidate count, never all-pairs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from optimizerasters_spark.operators import dedup as D
from optimizerasters_spark.operators import text as T

JACCARD_MICRO = 500000       # near-dup verify threshold (0.5)
MIN_TOKENS = 5               # quality gate: minimum whitespace tokens
MAX_MEAN_WL_MICRO = 12_000_000   # ... and mean word length <= 12 chars


def _survivor_sets(docs: DataFrame, reps_path: str | None,
                   grams: bool) -> DataFrame:
    """The exact-dedup survivors with their text sets, materialized
    once: ``docs``' columns, ``_sh`` (distinct 3-shingles) and, when
    ``grams``, ``_grams`` (distinct full 5-grams for decontamination).
    ``reps_path`` writes the table to parquet and re-reads it (durable);
    otherwise it is a lazy local checkpoint, which a lost executor
    loses (see dedup.ngram_jaccard_pairs)."""
    sets = D.text_sets_col("text") if grams else \
        F.struct(D.shingles_col("text").alias("sh"))
    feats = D.dedup_exact_rows(docs).withColumn("_sets", sets)
    if reps_path is not None:
        feats.write.mode("overwrite").parquet(reps_path)
        feats = docs.sparkSession.read.parquet(reps_path)
    else:
        feats = feats.localCheckpoint(eager=False)
    cols = [F.col("_sets.sh").alias("_sh")]
    if grams:
        cols.append(F.col("_sets.grams").alias("_grams"))
    return feats.select(*docs.columns, *cols)


def _gate(feats: DataFrame, jaccard_micro: int, min_tokens: int,
          max_mean_wl_micro: int, max_bucket: int | None,
          max_top_bigram_micro: int | None,
          max_dup_line_micro: int | None) -> DataFrame:
    """:func:`training_kept` over the survivors' table of
    :func:`_survivor_sets`."""
    victims = (D.sets_jaccard_pairs(feats.select("doc_id", "_sh"),
                                    min_jaccard_micro=jaccard_micro,
                                    max_bucket=max_bucket)
               .select(F.col("doc_b").alias("doc_id")).distinct())
    kept = feats.drop("_sh").join(victims, "doc_id", "left_anti")
    toks = T.tokens_col("text")
    n_toks = F.size(toks).cast("bigint")
    mean_wl = F.floor(F.length(F.col("text")) * T.MICRO /
                      F.greatest(n_toks, F.lit(1))).cast("bigint")
    gated = (kept
             .withColumns({"n_tokens": n_toks,
                           "mean_word_len_micro": mean_wl,
                           "en_score_micro": T.stopword_ratio_col("text")})
             .where((F.col("n_tokens") >= min_tokens) &
                    (F.col("mean_word_len_micro") <= max_mean_wl_micro)))
    # optional Gopher-style repetition gate (text.repetition_quality):
    # catches bigram-spam / boilerplate-heavy docs the per-token quality
    # features pass. Off by default — thresholds are corpus policy.
    if max_top_bigram_micro is not None or max_dup_line_micro is not None:
        rq = T.repetition_quality(gated.select("doc_id", "text"))
        cond = F.lit(True)
        if max_top_bigram_micro is not None:
            cond &= F.col("top_bigram_ratio_micro") <= max_top_bigram_micro
        if max_dup_line_micro is not None:
            cond &= F.col("dup_line_ratio_micro") <= max_dup_line_micro
        gated = gated.join(rq.where(cond).select("doc_id"),
                           "doc_id", "left_semi")
    return gated


def training_kept(docs: DataFrame,
                  jaccard_micro: int = JACCARD_MICRO,
                  min_tokens: int = MIN_TOKENS,
                  max_mean_wl_micro: int = MAX_MEAN_WL_MICRO,
                  reps_path: str | None = None,
                  max_bucket: int | None = None,
                  max_top_bigram_micro: int | None = None,
                  max_dup_line_micro: int | None = None) -> DataFrame:
    """Documents surviving dedup + near-dup removal + the quality gate,
    with the gate features attached.

    The exact-dedup survivors (:func:`dedup.dedup_exact_rows`, doc_id a
    row key) and their shingle sets are computed once and materialized
    once: signatures, the Jaccard verify's join back and the kept set
    all read that table instead of re-deriving the dedup from ``docs``.
    By default it is a lazy local checkpoint. ``reps_path`` writes it to
    parquet and re-reads it instead — the 100 TB / cluster form, since a
    local checkpoint does not survive a lost executor. Identical results
    either way.

    ``max_bucket`` caps degenerate LSH buckets (the n² guard a corpus
    run needs); pair it with ``training_oversized_buckets`` over the
    same input so everything the cap drops is reported — never cap
    silently."""
    return _gate(_survivor_sets(docs, reps_path, grams=False),
                 jaccard_micro, min_tokens, max_mean_wl_micro, max_bucket,
                 max_top_bigram_micro, max_dup_line_micro)


def corpus_pipeline(pages: DataFrame,
                    robots: DataFrame | None = None,
                    blocked: DataFrame | None = None,
                    benchmark: DataFrame | None = None,
                    rates_milli: dict[str, int] | None = None,
                    budget_tokens: int = 4096,
                    jaccard_micro: int = JACCARD_MICRO,
                    min_tokens: int = MIN_TOKENS,
                    max_mean_wl_micro: int = MAX_MEAN_WL_MICRO,
                    max_bucket: int | None = None,
                    max_top_bigram_micro: int | None = None,
                    max_dup_line_micro: int | None = None) -> DataFrame:
    """The COMPLETE web-corpus build, crawl table to training shards —
    every hygiene stage this engine implements, composed in the order
    a production corpus run applies them:

      1. URL canonicalization (tracking variants collapse),
      2. robots.txt politeness (RFC 9309 wildcard-agent rules),
      3. domain blocklist,
      4. latest-per-CANONICAL-url dedup,
      5. exact + near-dup removal and the quality gate
         (:func:`training_kept`, including the optional Gopher-style
         repetition gate via max_top_bigram_micro /
         max_dup_line_micro),
      6. benchmark decontamination (n-gram overlap),
      7. stratified per-language training mix,
      8. token-budget shard packing.

    Optional stages (robots/blocklist/benchmark/rates) no-op when their
    table is None, so the same function serves smoke tests and the full
    build. Returns the shard table (lang, doc_id, n_tokens, cum_before,
    shard_id) — what a trainer's data loader consumes.

    Scale shape: stages 1-3 are codegen projections + broadcast
    (anti-)joins that fold into the scan; the only corpus-proportional
    shuffles are the canonical-url dedup, the content-hash/LSH-bucket
    dedup pair, the decontamination semi-join's doc n-gram explode, and
    the final per-stratum window — each keyed uniformly."""
    from optimizerasters_spark.operators import web as W
    p = (W.url_canonicalize(pages)
         .withColumn("url", F.col("canon_url"))
         .drop("canon_url", "changed"))
    if robots is not None:
        p = W.robots_filter(p, robots).drop("host")
    if blocked is not None:
        p = W.blocklist_filter(p, blocked).drop("host")
    p = D.dedup_latest(p)
    docs = p.select("doc_id", "text", "lang")
    feats = _survivor_sets(docs, None, grams=benchmark is not None)
    kept = _gate(feats.drop("_grams"), jaccard_micro, min_tokens,
                 max_mean_wl_micro, max_bucket, max_top_bigram_micro,
                 max_dup_line_micro)
    if benchmark is not None:
        # the survivors' 5-grams from the materialized table: one
        # semi-join to the distinct dirty ids, one anti-join
        dirty = T.benchmark_hits(
            feats.select("doc_id", F.col("_grams").alias("grams")),
            benchmark).select("doc_id")
        kept = kept.join(dirty, "doc_id", "left_anti")
    if rates_milli is not None:
        kept = W.stratified_hash_sample(kept, rates_milli)
    return T.pack_shards(kept, budget_tokens)


def training_oversized_buckets(docs: DataFrame,
                               max_bucket: int = 1000) -> DataFrame:
    """The LSH buckets a ``max_bucket`` cap excludes from the flagship's
    near-dup stage, computed over the SAME exact-dedup survivors the
    flagship feeds to LSH — (band_id, band_key, n_docs). Run this
    alongside a capped training_kept/rollup so the capped families
    surface in the job report and can be routed to a dedicated pass
    (exact dedup already caught their byte-identical members)."""
    return D.lsh_oversized_buckets(D.dedup_exact_rows(docs),
                                   max_bucket=max_bucket)


def training_flagship_rollup(docs: DataFrame,
                             jaccard_micro: int = JACCARD_MICRO,
                             min_tokens: int = MIN_TOKENS,
                             max_mean_wl_micro: int = MAX_MEAN_WL_MICRO,
                             reps_path: str | None = None,
                             max_bucket: int | None = None) -> DataFrame:
    """Per-language corpus stats over the kept set — the pipeline's
    one-small-table answer (what a 100 TB run ships to the trainer's
    manifest)."""
    kept = training_kept(docs, jaccard_micro, min_tokens,
                         max_mean_wl_micro, reps_path=reps_path,
                         max_bucket=max_bucket)
    return (kept.groupBy("lang")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"),
                 F.sum("n_tokens").cast("bigint").alias("total_tokens"),
                 F.sum(F.length(F.col("text"))).cast("bigint")
                  .alias("total_chars"),
                 F.sum("en_score_micro").cast("bigint")
                  .alias("sum_en_micro")))
