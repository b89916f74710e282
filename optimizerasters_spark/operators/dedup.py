"""Deduplication operators.

* ``dedup_latest`` — keep the newest crawl per url (groupBy MAX of one
  packed struct), the reference's ledger dedup-on-add analog
  (Report.addFile, OptimizeRasters.py:1908-1917) generalized to "latest
  snapshot wins".
* ``dedup_exact`` — exact content dedup by sha2(text) hash-groupBy;
  ``dedup_exact_rows`` returns the representatives' full rows from the
  same single aggregate.
* ``lsh_candidate_pairs`` — MinHash+LSH near-dup: word shingles ->
  per-hash min of md5(seed||shingle) -> band buckets -> bucket
  equi-join. One geometry (the module constants ``SHINGLE_N``,
  ``NUM_HASHES``, ``BANDS``) and one path: every entry point's bands
  come from ``_bands`` over one materialized (doc_id, _sh) shingle-set
  table. Shingles, the md5 mins and the band keys are all JVM codegen:
  the shingles are one regex extraction per text (``shingles_col``),
  so no stage starts a Python worker.
* ``jaccard_pairs`` — the one exact n-gram Jaccard: candidate pairs
  joined to a (doc_id, _sh) shingle-set table, one array_intersect.
* ``paragraph_dedup`` / ``boilerplate_paragraphs`` /
  ``remove_boilerplate`` — one paragraph explode, one reassembly.

Scale notes: dedup_latest shuffles once on url (the natural key);
dedup_exact shuffles on the 256-bit digest (uniform — no skew); LSH
candidate generation shuffles on band buckets, which is the point: only
same-bucket docs ever meet, never the full cross product.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql.window import Window

from optimizerasters_spark.operators import text as T

# The near-dup geometry, fixed: MinHash over word SHINGLE_N-shingles,
# NUM_HASHES md5 mins cut into BANDS bands; decontamination over word
# GRAM_N-grams. CorpusBuilder persists its bands under this geometry,
# so changing it orphans the bands of every existing workdir.
SHINGLE_N = 3
GRAM_N = 5
NUM_HASHES = 8
BANDS = 4
PARA_SEP = "\n"    # paragraph separator of the paragraph dedups


def dedup_latest(pages: DataFrame) -> DataFrame:
    """Keep the newest row per url (ties -> lowest doc_id).

    Implemented as groupBy + MAX of ONE packed struct rather than a window:
    partial aggregation combines map-side, so the shuffle carries one
    row per key per map task instead of every row — the difference
    between OK and catastrophic on a 10^12-row crawl with few
    duplicates. The ordering key (warc_epoch, -doc_id) leads the struct,
    so a plain lexicographic MAX reproduces max_by(row, (warc_epoch,
    -doc_id)) exactly while shuffling each of warc_epoch/doc_id ONCE —
    max_by's aggregation buffer carries the ordering key NEXT TO the
    value struct, duplicating both fields through the shuffle (guide
    §2.3 'shuffle fewer bytes'; measured −19 % on the 200M-row flagship
    dedup).

    Ties: the struct compares (warc_epoch, -doc_id) first, and a NULL
    warc_epoch sorts below any value, so it loses to any non-NULL one
    and a url whose epochs are all NULL keeps its lowest doc_id — the
    row max_by(row, (warc_epoch, -doc_id)) keeps. A full (url,
    warc_epoch, doc_id) tie falls through to the payload fields in
    column order: the greatest payload wins, whatever the input
    order."""
    others = [c for c in pages.columns
              if c not in ("url", "warc_epoch", "doc_id")]
    packed = F.struct(F.col("warc_epoch"),
                      (-F.col("doc_id")).alias("_inv"),
                      *[F.col(c) for c in others])
    out = {"warc_epoch": F.col("_row.warc_epoch").alias("warc_epoch"),
           "doc_id": (-F.col("_row._inv")).alias("doc_id")}
    for c in others:
        out[c] = F.col(f"_row.{c}").alias(c)
    return (pages.groupBy("url").agg(F.max(packed).alias("_row"))
            .select("url", *[out[c] for c in pages.columns
                             if c != "url"]))


def dedup_exact(docs: DataFrame) -> DataFrame:
    """One representative (min doc_id) per distinct sha256(text)."""
    return (docs
            .withColumn("text_sha", F.sha2(F.col("text"), 256))
            .groupBy("text_sha")
            .agg(F.min("doc_id").alias("doc_id"),
                 F.count(F.lit(1)).alias("dup_count")))


def dedup_exact_rows(docs: DataFrame) -> DataFrame:
    """The full rows of :func:`dedup_exact`'s representatives: per
    distinct sha256(text), the row with the min doc_id, in ``docs``'
    column order.

    One aggregate over ``docs``: MIN of one (doc_id, payload...) struct
    per digest, so the payload rides the one shuffle the digest needs.
    doc_id leads the struct and is a row key, so the comparison never
    reaches the payload and repeated rows collapse to one; NULL doc_ids
    are dropped first. NULL text is one digest group, like any other
    text."""
    payload = [c for c in docs.columns if c != "doc_id"]
    row = F.min(F.struct("doc_id", *payload)).alias("_row")
    return (docs.where(F.col("doc_id").isNotNull())
            .groupBy(F.sha2(F.col("text"), 256).alias("_sha"))
            .agg(row)
            .select(*[F.col("_row")[c].alias(c) for c in docs.columns]))


def _windows(low: Column, n: int) -> Column:
    """Every ``n``-token window of ``low`` in order, repeats kept: the
    " ".join(toks[i:i + n]) of toks = low.split(" "), one per token
    start; empty when ``low`` has fewer than n tokens. One regex match
    per token start (the text's start or any position right after a
    space) whose lookahead captures the n tokens from there. The
    lookbehind consumes nothing, so a token after a leading or doubled
    space still starts a window — ``(?:^| )`` would eat the separator
    and skip it."""
    pattern = "(?<![^ ])(?=(" + " ".join(["[^ ]*"] * n) + "))"
    return F.regexp_extract_all(low, F.lit(pattern), 1)


def shingles_col(text_col, n: int = SHINGLE_N, full_only: bool = False):
    """Word n-gram shingles of the lowercased text as an array<string>
    (distinct, first-occurrence order). Tokens are split(" ") tokens,
    empty ones kept. A doc shorter than n tokens gives its one
    truncated shingle, the whole lowercased text, or NULL when
    ``full_only`` (the n-gram-contamination contract). NULL text gives
    NULL.

    One codegen'd JVM expression: :func:`_windows` then array_distinct.
    The short-doc rule reads a separate token count, never the size of
    the extraction: a CASE branch referencing the extraction would
    evaluate the regex a second time (subexpression elimination does
    not share it into a branch)."""
    low = F.lower(F.col(text_col))
    short = F.lit(None).cast("array<string>") if full_only \
        else F.array(low)
    return F.when(F.size(T.tokens_col(text_col)) < n, short) \
        .otherwise(F.array_distinct(_windows(low, n)))


def text_sets_col():
    """struct<sh, grams>: a doc's distinct ``SHINGLE_N``-shingles (as
    :func:`shingles_col`) and its distinct full ``GRAM_N``-grams (as
    ``shingles_col(.., full_only=True)``, the decontamination grams) of
    its ``text`` — the corpus build's near-dup and decontamination
    stages read both sets from one materialized table instead of
    re-deriving them."""
    return F.struct(shingles_col("text").alias("sh"),
                    shingles_col("text", GRAM_N, full_only=True)
                    .alias("grams"))


def _shingle_sets(docs: DataFrame) -> DataFrame:
    """The (doc_id, _sh) shingle-set table of ``docs``' text: one
    :func:`shingles_col` projection, materialized once with a lazy local
    checkpoint, which the signatures and both sides of any join over
    them read. A local checkpoint lives in executor storage and is NOT
    fault-tolerant: a lost executor loses it and the query fails.
    Cluster runs use ``training_kept``'s ``reps_path``, which writes the
    same table to parquet (the durable form)."""
    return (docs.select("doc_id", shingles_col("text").alias("_sh"))
            .localCheckpoint(eager=False))


def ngram_jaccard_pairs(docs: DataFrame, min_jaccard_micro: int = 0
                        ) -> DataFrame:
    """Exact n-gram Jaccard on LSH candidate pairs (doc_a < doc_b):
    :func:`sets_jaccard_pairs` over :func:`_shingle_sets` of ``docs``,
    no LSH bucket cap."""
    return sets_jaccard_pairs(_shingle_sets(docs), min_jaccard_micro)


def sets_jaccard_pairs(sets: DataFrame, min_jaccard_micro: int = 0,
                       max_bucket: int | None = None) -> DataFrame:
    """:func:`ngram_jaccard_pairs` over a precomputed (doc_id, _sh)
    shingle-set table: MinHash/LSH candidates from its :func:`_bands`,
    then :func:`jaccard_pairs` back to the same table. Materialize
    ``sets`` first; every consumer here re-reads it."""
    pairs = _candidate_pairs(_bands(sets), max_bucket)
    return jaccard_pairs(pairs, sets) \
        .where(F.col("jaccard_micro") >= min_jaccard_micro)


def jaccard_pairs(pairs: DataFrame, sets: DataFrame) -> DataFrame:
    """(doc_a, doc_b, n_inter, jaccard_micro) of each (doc_a, doc_b)
    pair over the (doc_id, _sh) distinct-shingle table, with
    jaccard_micro = floor(|A∩B| * 1e6 / |A∪B|) — exact integers.

    Each pair joins its two shingle ARRAYS (one row per doc, not one per
    shingle); the intersection is one array_intersect size and the set
    sizes are F.size (guide §3.3 'join first, explode after'). Every
    pair carries BOTH arrays through the join shuffles, so a doc in k
    pairs ships its array k times; the LSH bucket cap bounds k."""
    n_inter = F.size(F.array_intersect("_sh_a", "_sh_b")).cast("bigint")
    jaccard = F.floor(n_inter * 1000000 /
                      (F.size("_sh_a") + F.size("_sh_b") - n_inter)
                      ).cast("bigint")
    return (pairs
            .join(sets.select(F.col("doc_id").alias("doc_a"),
                              F.col("_sh").alias("_sh_a")), "doc_a")
            .join(sets.select(F.col("doc_id").alias("doc_b"),
                              F.col("_sh").alias("_sh_b")), "doc_b")
            .select(F.col("doc_a").cast("bigint"),
                    F.col("doc_b").cast("bigint"),
                    n_inter.alias("n_inter"),
                    jaccard.alias("jaccard_micro")))


def _bands(sets: DataFrame) -> DataFrame:
    """(doc_id, band_id, band_key) LSH bands of a (doc_id, _sh)
    shingle-set table: ``BANDS`` bands of ``NUM_HASHES // BANDS``
    hashes each, the band key the concat of its hashes.

    hash_i(doc) = min over shingles of md5(i || ':' || shingle). md5 output
    is identical across engines, making the signature oracle-checkable.
    One groupBy(doc_id) with one MIN per hash seed: the mins partial-
    aggregate map-side (shuffle carries NUM_HASHES hex strings per doc
    per map task) and the md5 calls run in whole-stage codegen — nested
    array lambdas would evaluate interpreted."""
    rpb = NUM_HASHES // BANDS
    aggs = [
        F.min(F.md5(F.concat(F.lit(f"{i}:"), F.col("s")))).alias(f"h{i}")
        for i in range(NUM_HASHES)
    ]
    sigs = (sets.select("doc_id", F.explode("_sh").alias("s"))
            .groupBy("doc_id").agg(*aggs).select(
                "doc_id",
                F.array(*[F.col(f"h{i}") for i in range(NUM_HASHES)])
                .alias("sig")))
    return sigs.select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(BANDS - 1)),
                lambda b: F.struct(
                    b.cast("int").alias("band_id"),
                    F.concat_ws("|", F.slice(F.col("sig"), b * rpb + 1, rpb))
                     .alias("band_key")))).alias("band"),
    ).select("doc_id", "band.band_id", "band.band_key")


def _candidate_pairs(banded: DataFrame, max_bucket: int | None
                     ) -> DataFrame:
    """Distinct (doc_a < doc_b) pairs sharing a band bucket of
    ``banded``, buckets over ``max_bucket`` docs excluded."""
    if max_bucket is not None:
        w = Window.partitionBy("band_id", "band_key")
        banded = (banded
                  .withColumn("_bn", F.count(F.lit(1)).over(w))
                  .where(F.col("_bn") <= max_bucket).drop("_bn"))
    a = banded.alias("a")
    b = banded.alias("b")
    return (a.join(b, ["band_id", "band_key"])
            .where(F.col("a.doc_id") < F.col("b.doc_id"))
            .select(F.col("a.doc_id").alias("doc_a"),
                    F.col("b.doc_id").alias("doc_b"))
            .distinct())


def lsh_candidate_pairs(docs: DataFrame, max_bucket: int | None = None
                        ) -> DataFrame:
    """Near-dup candidate pairs (doc_a < doc_b) sharing >= 1 LSH band of
    :func:`_shingle_sets` of ``docs``.

    The band explode shuffles on (band_id, band_key) — uniform unless
    true near-dups exist, which is exactly the skew we want to find.

    ``max_bucket`` guards the quadratic trap at corpus scale: a
    degenerate key (empty docs, boilerplate-only pages) can put millions
    of documents in ONE bucket, and the self-join then emits n^2 pairs.
    Buckets larger than the cap are excluded from pairing (a bucket-
    partitioned count — the same exchange the self-join needs anyway).
    The cap is opt-in and NEVER silent: ``lsh_oversized_buckets`` with
    the same arguments returns exactly what was dropped for reporting."""
    return _candidate_pairs(_bands(_shingle_sets(docs)), max_bucket)


def lsh_oversized_buckets(docs: DataFrame, max_bucket: int = 1000
                          ) -> DataFrame:
    """The buckets a ``max_bucket`` cap would drop — (band_id, band_key,
    n_docs). Report or route these to a dedicated handling pass (exact
    dedup already catches byte-identical members); never cap silently."""
    return (_bands(_shingle_sets(docs)).groupBy("band_id", "band_key")
            .agg(F.count(F.lit(1)).alias("n_docs"))
            .where(F.col("n_docs") > max_bucket))


def _paragraphs(docs: DataFrame) -> DataFrame:
    """(doc_id, idx, para, psha): one row per ``PARA_SEP``-split
    paragraph of ``text``, with its index in the doc and its sha256."""
    return (docs
            .select("doc_id",
                    F.posexplode(F.split(F.col("text"), PARA_SEP))
                    .alias("idx", "para"))
            .withColumn("psha", F.sha2(F.col("para"), 256)))


def _reassemble(marked: DataFrame, sha_col: str) -> DataFrame:
    """Per doc of a paragraph table marked ``kept``: n_paras, n_kept and
    ``sha_col``, the sha256 of the kept paragraphs re-joined by
    ``PARA_SEP`` in idx order. A doc that keeps nothing gets NULL, not
    sha256('') (the oracle's string_agg FILTER yields NULL there)."""
    agg = (marked.groupBy("doc_id")
           .agg(F.count(F.lit(1)).cast("bigint").alias("n_paras"),
                F.sum(F.col("kept").cast("bigint")).cast("bigint")
                 .alias("n_kept"),
                F.sha2(F.array_join(
                    F.transform(
                        F.array_sort(F.collect_list(
                            F.when(F.col("kept"),
                                   F.struct("idx", "para")))),
                        lambda s: s["para"]),
                    PARA_SEP), 256).alias("_sha")))
    return agg.select(
        "doc_id", "n_paras", "n_kept",
        F.when(F.col("n_kept") > 0, F.col("_sha")).alias(sha_col))


def paragraph_dedup(docs: DataFrame) -> DataFrame:
    """Paragraph-granularity exact dedup — the sub-document pass (C4's
    line dedup, RefinedWeb's paragraph dedup) that document-level
    hashing cannot express: boilerplate paragraphs repeat across
    MOSTLY-DIFFERENT pages, so whole-doc dedup never fires on them.

    First occurrence wins globally, ordered by (doc_id, paragraph
    index): explode paragraphs with their index, groupBy paragraph hash
    with a min on the (doc_id, idx) struct (partial map-side agg — one
    row per distinct paragraph through the shuffle), then mark and
    reassemble. Returns per doc: paragraph counts before and after, and
    the sha256 of the kept text (byte-exact parity surface). Shuffles
    only on sha256(paragraph) and doc_id — both uniform."""
    paras = _paragraphs(docs)
    # first-occurrence key is the lexicographic (doc_id, idx) struct min
    # — no packed-integer arithmetic, so no collision at >=1e6
    # paragraphs per doc; still a map-side partial aggregate
    first = paras.groupBy("psha").agg(
        F.min(F.struct("doc_id", "idx")).alias("first_key"))
    marked = (paras.join(first, "psha")
              .withColumn("kept",
                          F.struct("doc_id", "idx") == F.col("first_key")))
    return _reassemble(marked, "kept_sha")


def exact_substr_overlap(docs: DataFrame, width: int = 32) -> DataFrame:
    """ExactSubstr-style duplicated-substring census — the semantics of
    Lee et al. 2022 ("Deduplicating Training Data Makes Language Models
    Better") bounded to fixed token windows: for every document, how
    many of its token positions are covered by some ``width``-token
    window whose exact text ALSO appears in another document. This
    catches verbatim passage reuse that document- and paragraph-level
    hashing both miss (quotes, syndicated fragments, licence blocks
    embedded mid-page). Returns per doc: n_tokens, n_shared_windows,
    n_dup_tokens (covered positions), dup_ratio_micro.

    Scale shape: windows explode (≤ n_tokens rows/doc), the census
    shuffles ONCE on the 128-bit window hash (uniform — no skew), the
    interval-union cover is per-doc array math. Never all-pairs; the
    windows are :func:`_windows` of the lowercased text (repeats kept,
    posexplode's index is the window's token position) and each
    window's hash is md5 of its UTF-8 bytes, all JVM codegen."""
    low = F.lower(F.col("text"))
    ex = (docs.select("doc_id", F.posexplode(_windows(low, width))
                      .alias("pos", "w"))
          .select("doc_id", "pos", F.md5("w").alias("wh")))
    shared_hashes = (ex.groupBy("wh")
                     .agg(F.count_distinct("doc_id").alias("nd"))
                     .where(F.col("nd") >= 2).select("wh"))
    shared = ex.join(shared_hashes, "wh", "left_semi")
    # union of [pos, pos+width) intervals over the sorted position list:
    # each position covers min(width, gap to the next) new tokens, the
    # last a full width
    per_doc = shared.groupBy("doc_id").agg(
        F.array_sort(F.collect_list("pos")).alias("ps"))
    sz = F.size(F.col("ps"))
    heads = F.slice(F.col("ps"), 1, sz - 1)
    tails = F.slice(F.col("ps"), 2, sz - 1)
    cover = F.aggregate(
        F.zip_with(heads, tails,
                   lambda a, b: F.least(F.lit(width), b - a)),
        F.lit(0).cast("bigint"), lambda acc, v: acc + v) + width
    stats = per_doc.select(
        "doc_id", sz.cast("bigint").alias("n_shared_windows"),
        cover.cast("bigint").alias("n_dup_tokens"))
    n_toks = F.size(T.tokens_col())
    base = docs.select("doc_id", n_toks.cast("bigint").alias("n_tokens"))
    return (base.join(stats, "doc_id", "left")
            .select(
                "doc_id", "n_tokens",
                F.coalesce(F.col("n_shared_windows"), F.lit(0))
                 .cast("bigint").alias("n_shared_windows"),
                F.coalesce(F.col("n_dup_tokens"), F.lit(0))
                 .cast("bigint").alias("n_dup_tokens"),
                F.floor(F.coalesce(F.col("n_dup_tokens"), F.lit(0))
                        * 1000000 /
                        F.greatest(F.col("n_tokens"), F.lit(1)))
                 .cast("bigint").alias("dup_ratio_micro")))


def dup_components(pairs: DataFrame, max_iters: int = 20) -> DataFrame:
    """Connected components over the near-dup pair graph (doc_a, doc_b) ->
    (doc_id, comp) with comp = the smallest doc_id in the component.
    This is the transitive closure the pairwise drop rule approximates:
    pick ONE canonical representative per duplicate FAMILY (A~B, B~C =>
    one family even when A!~C directly), the semantics large corpus
    dedups (e.g. MinHashLSH + CC) actually want.

    Distributed min-label propagation: every node repeatedly takes the
    minimum label in its neighborhood; converges in O(component
    diameter) rounds — near-dup families are shallow (a few hops), so
    a handful of rounds. Each round is one shuffle keyed on node id
    over the EDGE table (never all-pairs); labels are
    localCheckpoint-ed per round so the plan stays flat, and the
    driver sees only a converged/changed counter."""
    e = pairs.select(F.col("doc_a").alias("u"), F.col("doc_b").alias("v"))
    edges = (e.unionByName(e.select(F.col("v").alias("u"),
                                    F.col("u").alias("v")))
             .distinct().localCheckpoint())
    labels = (edges.select(F.col("u").alias("doc_id")).distinct()
              .withColumn("comp", F.col("doc_id")).localCheckpoint())
    for _ in range(max_iters):
        nb = (edges.join(labels, edges["v"] == labels["doc_id"])
              .groupBy("u").agg(F.min("comp").alias("nb_comp")))
        # carry the previous label THROUGH the round so the changed
        # count is a filter over the cached checkpoint
        new = (labels.join(nb, labels["doc_id"] == nb["u"], "left")
               .select(labels["doc_id"],
                       labels["comp"].alias("_old"),
                       F.least(labels["comp"],
                               F.coalesce(F.col("nb_comp"),
                                          labels["comp"]))
                       .alias("comp"))
               .localCheckpoint())
        changed = new.where(F.col("comp") != F.col("_old")).count()
        labels = new.select("doc_id", "comp")
        if changed == 0:
            break
    else:
        # partially-propagated labels are WRONG answers — never return
        # them silently (a dup chain deeper than max_iters would
        # otherwise split one family into several canonical reps)
        raise RuntimeError(
            f"dup_components did not converge in {max_iters} rounds "
            f"({changed} labels still changing); raise max_iters — "
            f"rounds needed equal the duplicate-family diameter")
    return labels


def boilerplate_paragraphs(docs: DataFrame, min_doc_freq: int = 2
                           ) -> DataFrame:
    """Paragraphs appearing in >= min_doc_freq DISTINCT documents —
    the corpus-wide boilerplate census (nav bars, cookie banners,
    terms-of-service footers). One explode + one partial-agg
    countDistinct keyed on the paragraph sha."""
    return (_paragraphs(docs).groupBy("psha")
            .agg(F.min("para").alias("para"),
                 F.countDistinct("doc_id").cast("bigint")
                  .alias("doc_freq"))
            .where(F.col("doc_freq") >= min_doc_freq))


def remove_boilerplate(docs: DataFrame, min_doc_freq: int = 2
                       ) -> DataFrame:
    """C4-style boilerplate REMOVAL: unlike paragraph_dedup (first
    occurrence kept), a paragraph frequent enough to be boilerplate is
    dropped from EVERY document including the first — boilerplate is
    noise, not content. Returns per doc: paragraph counts before and
    after and the sha256 of the cleaned text (NULL when nothing
    survives). Shuffles on paragraph sha and doc_id only."""
    hot = boilerplate_paragraphs(docs, min_doc_freq) \
        .select("psha", F.lit(True).alias("hot"))
    marked = (_paragraphs(docs).join(hot, "psha", "left")
              .withColumn("kept", F.col("hot").isNull()))
    return _reassemble(marked, "clean_sha")
