"""Text-analysis operators for the training-data pipeline (documents table).

Built-in column functions (JVM-side, whole-stage codegen), except the
decontamination n-grams, which come from the vectorized Arrow batch
pass the MinHash stage uses (dedup.shingles_col). Scores that would
be floats are emitted as micro-units (x 1e6, floored) so results are
exact integers and oracle-comparable across engines.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql.window import Window

EN_STOPWORDS = ["the", "a", "and", "of", "to", "in", "is", "for", "on", "with"]

MICRO = 1000000


def tokens_col(text_col: str = "text") -> Column:
    return F.split(F.lower(F.col(text_col)), " ")


def token_count(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Whitespace tokens, regex word tokens (the BPE-ish pre-tokenizer
    split), a 4-chars/token BPE estimate, and char count."""
    toks = tokens_col(text_col)
    re_toks = F.regexp_extract_all(F.col(text_col),
                                   F.lit("\\w+|[^\\w\\s]"), F.lit(0))
    return docs.select(
        "doc_id",
        F.size(toks).cast("bigint").alias("n_tokens"),
        F.size(re_toks).cast("bigint").alias("n_re_tokens"),
        F.length(F.col(text_col)).cast("bigint").alias("n_chars_calc"),
        F.ceil(F.length(F.col(text_col)) / 4).cast("bigint")
         .alias("n_bpe_est"))


def stopword_ratio_col(text_col: str = "text",
                       stopwords: list[str] | None = None) -> Column:
    toks = tokens_col(text_col)
    sw = F.array(*[F.lit(w) for w in (stopwords or EN_STOPWORDS)])
    n_sw = F.size(F.filter(toks, lambda t: F.array_contains(sw, t)))
    return F.floor(n_sw * MICRO / F.greatest(F.size(toks), F.lit(1))) \
            .cast("bigint")


def quality_score(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Length / mean-word-length / stopword-ratio features in micro-units.
    The classic cheap quality gate for web text."""
    toks = tokens_col(text_col)
    n_toks = F.greatest(F.size(toks), F.lit(1))
    mean_wl = F.floor(F.length(F.col(text_col)) * MICRO / n_toks) \
               .cast("bigint")
    return docs.select(
        "doc_id",
        F.length(F.col(text_col)).cast("bigint").alias("n_chars_calc"),
        F.size(toks).cast("bigint").alias("n_tokens"),
        mean_wl.alias("mean_word_len_micro"),
        stopword_ratio_col(text_col).alias("stopword_ratio_micro"))


def lang_id(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Heuristic language ID: English-stopword hit ratio -> en/other.
    (A real model slots in as a pandas UDF; the Spark-side contract —
    one pass, one derived column — is what matters here.)"""
    ratio = stopword_ratio_col(text_col)
    return docs.select(
        "doc_id", F.col("lang").alias("lang_declared"),
        ratio.alias("en_score_micro"),
        F.when(ratio >= 50000, F.lit("en")).otherwise(F.lit("other"))
         .alias("lang_pred"))


def fingerprint(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Document fingerprints: full-text sha256, md5, and a normalized
    (lowercase, collapsed whitespace) md5 — the cheap canonical-form key."""
    norm = F.regexp_replace(F.lower(F.col(text_col)), "\\s+", " ")
    return docs.select(
        "doc_id",
        F.sha2(F.col(text_col), 256).alias("sha256_hex"),
        F.md5(F.col(text_col)).alias("md5_hex"),
        F.md5(norm).alias("norm_md5_hex"))


def html_to_text(pages: DataFrame, html_col: str = "html") -> DataFrame:
    """Payload extraction: decode the BINARY html column as UTF-8 and
    strip markup tags — the pages-table twin of the reference's
    payload-classify path (it never parses payloads either; GDAL does —
    here the 'decoder' is a tag-strip regex, and a real boilerplate
    extractor plugs in as a pandas UDF over the same column). Pure
    Catalyst: decode + regexp_replace, whole-stage codegen. The
    byte-identity invariant closes the loop: on the synthetic corpus
    (html = <html><body>{text}</body></html>) extraction must return
    the text column byte-for-byte."""
    raw = F.decode(F.col(html_col), "UTF-8")
    return pages.withColumn(
        "extracted_text", F.regexp_replace(raw, "<[^>]*>", ""))


def chunk_documents(docs: DataFrame, window: int = 64, stride: int = 48,
                    text_col: str = "text") -> DataFrame:
    """Split each document into overlapping token windows — the
    training-data slicing pass (context-window packing's upstream).
    chunk i covers tokens [i*stride, i*stride + window); the chunk count
    ceil((n - window)/stride) + 1 guarantees the tail tokens land in the
    last window; docs shorter than one window emit exactly one chunk.
    Pure Catalyst (split + sequence-explode + slice) — the explode is
    the only row amplification and it carries the chunk text, not the
    whole document. Text case/bytes preserved verbatim (the byte-
    identity invariant applies to chunks too)."""
    toks = F.split(F.col(text_col), " ")
    n = F.size(toks)
    n_chunks = F.when(n <= window, F.lit(1)).otherwise(
        F.floor((n - window + stride - 1) / stride).cast("bigint") + 1)
    out = docs.select(
        "doc_id", toks.alias("_t"),
        F.explode(F.sequence(F.lit(0), (n_chunks - 1).cast("int")))
         .alias("chunk_idx"))
    piece = F.slice(F.col("_t"), F.col("chunk_idx") * stride + 1, window)
    return out.select(
        "doc_id",
        F.col("chunk_idx").cast("int").alias("chunk_idx"),
        F.concat_ws(" ", piece).alias("chunk_text"),
        F.size(piece).cast("bigint").alias("n_chunk_tokens"))


ROLL_BASE = 1000003           # Karp-Rabin base (prime > 10^6)
ROLL_MOD = 2147483647         # 2^31 - 1: h*B + t stays < 2^52, exact


def rolling_fingerprint(docs: DataFrame,
                        text_col: str = "text") -> DataFrame:
    """Order-sensitive document fingerprint: Karp-Rabin polynomial
    rolling hash over the token sequence,
    h = fold(tokens, 0, (h, t) -> (h * B + val(t)) mod M), with
    val(t) = first 8 md5 hex digits as an integer. Unlike the set-based
    MinHash signature this distinguishes permutations — the dedup key
    for boilerplate-shifted near-copies.

    All built-in column functions (split/transform/aggregate + md5/conv)
    — whole-stage codegen, no Python. Integer domain keeps it exact and
    oracle-checkable across engines (M < 2^31, so the fold accumulator
    never exceeds 2^52)."""
    toks = F.split(F.lower(F.col(text_col)), " ")
    tval = lambda t: (F.conv(F.substring(F.md5(t), 1, 8), 16, 10)  # noqa: E731
                      .cast("bigint") % ROLL_MOD)
    h = F.aggregate(
        F.transform(toks, tval),
        F.lit(0).cast("bigint"),
        lambda acc, t: (acc * ROLL_BASE + t) % ROLL_MOD)
    return docs.select(
        "doc_id",
        h.alias("roll_hash"),
        F.size(toks).cast("bigint").alias("n_tokens"))


def tfidf_topk(docs: DataFrame, k: int = 5,
               text_col: str = "text") -> DataFrame:
    """Integer-scaled TF-IDF: the corpus inverted index — (doc, term)
    term frequencies and per-term document frequencies — scored as
    tf * (1e6 div doc_freq) and ranked top-k per document. The
    log-free rational idf keeps every value an exact integer
    (cross-engine hashable), preserves the idf ORDERING (1/df is
    monotone in ln(N/df)), and is the keyword/topic-extraction
    primitive (search indexing, per-doc keywords as a training-data
    facet).

    Scale shape: one explode -> (doc, term) partial-agg count (the
    only corpus-proportional shuffle, uniform key), a vocabulary-sized
    term aggregate, one equi-join on term, then the per-doc window.
    Returns (doc_id, term, tf, doc_freq, score_micro, term_rank)."""
    toks = tokens_col(text_col)
    tf = (docs.select("doc_id", F.explode(toks).alias("term"))
          .groupBy("doc_id", "term")
          .agg(F.count(F.lit(1)).cast("bigint").alias("tf")))
    df_t = tf.groupBy("term").agg(
        F.count(F.lit(1)).cast("bigint").alias("doc_freq"))
    scored = (tf.join(df_t, "term")
              .withColumn("score_micro",
                          F.expr("tf * (1000000 div doc_freq)")
                          .cast("bigint")))
    w = Window.partitionBy("doc_id").orderBy(
        F.col("score_micro").desc(), F.col("term").asc())
    return (scored.withColumn("term_rank",
                              F.row_number().over(w).cast("int"))
            .where(F.col("term_rank") <= k)
            .select("doc_id", "term", "tf", "doc_freq", "score_micro",
                    "term_rank"))


def pack_shards(docs: DataFrame, budget_tokens: int,
                strat_col: str = "lang", order_col: str = "doc_id",
                text_col: str = "text") -> DataFrame:
    """Token-budget shard packing — the step between a filtered corpus
    and training: lay documents out in deterministic (stratum,
    order_col) order and open shard floor(cum_tokens_before / budget)
    for each, so every shard holds ~budget tokens and the SAME
    documents land in the SAME shards on any engine, cluster size, or
    partitioning (unlike coalesce/repartition-based packing, which is
    placement-nondeterministic). A doc larger than the budget gets its
    own shard(s) — the budget is a target, not a splitter.

    Plan: one window cumsum per stratum. Languages are few but huge,
    so at 100 TB the stratum key becomes (lang, date_bucket) — each
    bucket sorts independently, same packing contract per bucket."""
    toks = F.size(tokens_col(text_col)).cast("bigint")
    w = (Window.partitionBy(strat_col).orderBy(order_col)
         .rowsBetween(Window.unboundedPreceding, -1))
    base = docs.select(strat_col, order_col, toks.alias("n_tokens"))
    return (base
            .withColumn("cum_before",
                        F.coalesce(F.sum("n_tokens").over(w),
                                   F.lit(0)).cast("bigint"))
            .withColumn("shard_id",
                        F.expr(f"cum_before div {int(budget_tokens)}")
                        .cast("int")))


def repetition_quality(docs: DataFrame, text_col: str = "text",
                       line_sep: str = "\n",
                       max_exact_lines: int = 512) -> DataFrame:
    """Gopher-style repetition signals — the cheap structural filters
    that catch boilerplate/SEO spam which per-token quality scores miss:

      * ``dup_line_ratio_micro``       — 1 - distinct/total lines,
      * ``dup_line_char_ratio_micro``  — fraction of characters living
        in lines that appear more than once,
      * ``top_bigram_ratio_micro``     — occurrences of the most
        frequent word 2-gram over total 2-grams.

    Line metrics are pure array functions (codegen, no shuffle) for
    docs up to ``max_exact_lines`` lines; the per-row dup-char scan is
    O(lines²) within one row, so docs above the threshold switch to
    the exploded groupBy(doc_id, line) twin — identical exact values,
    O(lines) rows through a uniform-keyed shuffle, no pathological
    100k-line page can pin a task. The top-bigram mode is explode ->
    (doc_id, bigram) partial-agg count -> max per doc: two shuffles on
    uniform high-cardinality keys — the corpus-scale shape, never an
    O(n²) per-row loop."""
    lines = F.split(F.col(text_col), line_sep)
    n_lines = F.size(lines).cast("bigint")
    n_dist = F.size(F.array_distinct(lines)).cast("bigint")
    # chars in duplicated lines: a line is "duplicated" iff it occurs
    # >= 2 times within the doc's own line array
    dup_chars = F.aggregate(
        lines, F.lit(0).cast("bigint"),
        lambda acc, ln: acc + F.when(
            F.size(F.filter(lines, lambda x: x == ln)) >= 2,
            F.length(ln)).otherwise(F.lit(0)))
    tot_chars = F.aggregate(
        lines, F.lit(0).cast("bigint"),
        lambda acc, ln: acc + F.length(ln))
    line_metrics = [
        F.floor((n_lines - n_dist) * MICRO /
                F.greatest(n_lines, F.lit(1))).cast("bigint")
         .alias("dup_line_ratio_micro"),
        F.floor(dup_chars * MICRO / F.greatest(tot_chars, F.lit(1)))
         .cast("bigint").alias("dup_line_char_ratio_micro"),
    ]
    base_small = docs.where(F.size(lines) <= max_exact_lines).select(
        "doc_id", *line_metrics)
    # exploded twin for long docs: per-line counts, then one row per
    # doc — sum(c) = n_lines, count(*) = n_dist, lines with c >= 2
    # contribute c * length(line) duplicated chars; only (doc_id,
    # line) rows shuffle, never the document text
    per_line = (docs.where(F.size(lines) > max_exact_lines)
                .select("doc_id", F.explode(lines).alias("_ln"))
                .groupBy("doc_id", "_ln")
                .agg(F.count(F.lit(1)).alias("_c")))
    eb = per_line.groupBy("doc_id").agg(
        F.sum("_c").cast("bigint").alias("_n_lines"),
        F.count(F.lit(1)).cast("bigint").alias("_n_dist"),
        F.coalesce(F.sum(F.when(F.col("_c") >= 2,
                                F.col("_c") * F.length("_ln"))),
                   F.lit(0)).cast("bigint").alias("_dup_chars"),
        F.sum(F.col("_c") * F.length("_ln")).cast("bigint")
         .alias("_tot_chars"))
    base_big = eb.select(
        "doc_id",
        F.floor((F.col("_n_lines") - F.col("_n_dist")) * MICRO /
                F.greatest(F.col("_n_lines"), F.lit(1))).cast("bigint")
         .alias("dup_line_ratio_micro"),
        F.floor(F.col("_dup_chars") * MICRO /
                F.greatest(F.col("_tot_chars"), F.lit(1))).cast("bigint")
         .alias("dup_line_char_ratio_micro"))
    base = base_small.unionByName(base_big)
    toks = tokens_col(text_col)
    n_bg = F.greatest(F.size(toks) - 1, F.lit(0))
    bigrams = F.when(
        F.size(toks) >= 2,
        F.transform(F.sequence(F.lit(0), F.size(toks) - 2),
                    lambda i: F.concat_ws(" ", F.get(toks, i),
                                          F.get(toks, i + 1))))
    exploded = (docs.select("doc_id",
                            F.explode(bigrams).alias("bg"))
                .groupBy("doc_id", "bg")
                .agg(F.count(F.lit(1)).alias("c"))
                .groupBy("doc_id")
                .agg(F.max("c").alias("top_bg")))
    counts = docs.select("doc_id", n_bg.alias("n_bg"))
    return (base
            .join(counts, "doc_id")
            .join(exploded, "doc_id", "left")
            .select(
                "doc_id", "dup_line_ratio_micro",
                "dup_line_char_ratio_micro",
                F.floor(F.coalesce(F.col("top_bg"), F.lit(0)) * MICRO /
                        F.greatest(F.col("n_bg"), F.lit(1)))
                 .cast("bigint").alias("top_bigram_ratio_micro")))


def benchmark_hits(grams: DataFrame, benchmark: DataFrame, n: int = 5,
                   text_col: str = "text") -> DataFrame:
    """(doc_id, n_hits) for every doc of ``grams`` — (doc_id, grams:
    its distinct full word ``n``-grams, as
    ``dedup.shingles_col(.., n, full_only=True)`` builds them) — that
    shares at least one n-gram with ``benchmark``'s ``text_col``;
    n_hits counts the shared distinct n-grams. Clean docs are absent,
    so the result is the distinct dirty-id set.

    The one decontamination implementation: the benchmark's n-gram set
    is tiny by definition, so the exploded doc n-grams meet it in a
    broadcast hash semi-join, then one partial-agg count per doc."""
    from optimizerasters_spark.operators.dedup import shingles_col
    bench_grams = (benchmark
                   .select(F.explode(shingles_col(text_col, n,
                                                  full_only=True))
                           .alias("g"))
                   .distinct())
    return (grams.select("doc_id", F.explode("grams").alias("g"))
            .join(F.broadcast(bench_grams), "g", "left_semi")
            .groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("n_hits")))


def ngram_contamination(docs: DataFrame, benchmark: DataFrame, n: int = 5,
                        text_col: str = "text") -> DataFrame:
    """Benchmark decontamination: flag documents sharing any word
    ``n``-gram with a benchmark/eval set — the filter every serious
    training corpus runs so test questions never leak into training
    (the n-gram-overlap method used for GPT-3/PaLM-style decontam).

    Returns every doc with n_hits (0 for clean docs) and the
    contaminated flag: :func:`benchmark_hits` over the docs' n-grams,
    left-joined back to every doc. Gram construction is the vectorized
    Arrow batch pass shared with the MinHash stage
    (dedup.shingles_col, guide §4.2) — full windows only, exactly the
    old size>=n gate."""
    from optimizerasters_spark.operators.dedup import shingles_col
    grams = docs.select(
        "doc_id",
        shingles_col(text_col, n, full_only=True).alias("grams"))
    hits = benchmark_hits(grams, benchmark, n, text_col)
    return (docs.select("doc_id")
            .join(hits, "doc_id", "left")
            .select("doc_id",
                    F.coalesce(F.col("n_hits"), F.lit(0)).cast("bigint")
                     .alias("n_hits"))
            .withColumn("contaminated", F.col("n_hits") > 0))
