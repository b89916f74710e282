"""Deduplication operators.

* ``dedup_latest`` — keep the newest crawl per url (groupBy MAX of one
  packed struct), the reference's ledger dedup-on-add analog
  (Report.addFile, OptimizeRasters.py:1908-1917) generalized to "latest
  snapshot wins".
* ``dedup_exact`` — exact content dedup by sha2(text) hash-groupBy;
  ``dedup_exact_rows`` returns the representatives' full rows from the
  same single aggregate.
* ``minhash_signatures`` / ``lsh_candidate_pairs`` — MinHash+LSH near-dup:
  word shingles -> per-hash min of md5(seed||shingle) -> band buckets ->
  bucket equi-join. Shingle construction is one vectorized Arrow batch
  pass (guide §4.2); the md5 mins and band keys stay JVM codegen.

Scale notes: dedup_latest shuffles once on url (the natural key);
dedup_exact shuffles on the 256-bit digest (uniform — no skew); LSH
candidate generation shuffles on band buckets, which is the point: only
same-bucket docs ever meet, never the full cross product.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.window import Window


def dedup_latest(pages: DataFrame,
                 key: str = "url",
                 order: str = "warc_epoch") -> DataFrame:
    """Keep the newest row per key (ties -> lowest doc_id).

    Implemented as groupBy + MAX of ONE packed struct rather than a
    window: partial aggregation combines map-side, so the shuffle
    carries one row per key per map task instead of every row — the
    difference between OK and catastrophic on a 10^12-row crawl with
    few duplicates. The ordering key (order, -doc_id) leads the struct,
    so a plain lexicographic MAX reproduces max_by(row, (order,
    -doc_id)) exactly while shuffling each of order/doc_id ONCE —
    max_by's aggregation buffer carries the ordering key NEXT TO the
    value struct, duplicating both fields through the shuffle (guide
    §2.3 'shuffle fewer bytes'; measured −19 % on the 200M-row
    flagship dedup). doc_id is unique per row in every corpus this
    engine builds, so comparison never reaches the payload fields."""
    others = [c for c in pages.columns if c not in (key, order, "doc_id")]
    packed = F.struct(F.col(order), (-F.col("doc_id")).alias("_inv"),
                      *[F.col(c) for c in others])
    out = {order: F.col(f"_row.{order}").alias(order),
           "doc_id": (-F.col("_row._inv")).alias("doc_id")}
    for c in others:
        out[c] = F.col(f"_row.{c}").alias(c)
    return (pages.groupBy(key).agg(F.max(packed).alias("_row"))
            .select(key, *[out[c] for c in pages.columns if c != key]))


def dedup_exact(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """One representative (min doc_id) per distinct sha256(text)."""
    return (docs
            .withColumn("text_sha", F.sha2(F.col(text_col), 256))
            .groupBy("text_sha")
            .agg(F.min("doc_id").alias("doc_id"),
                 F.count(F.lit(1)).alias("dup_count")))


def dedup_exact_rows(docs: DataFrame, text_col: str = "text"
                     ) -> DataFrame:
    """The full rows of :func:`dedup_exact`'s representatives: per
    distinct sha256(text), the row with the min doc_id, in ``docs``'
    column order.

    One aggregate over ``docs``: MIN of one (doc_id, payload...) struct
    per digest, so the payload rides the one shuffle the digest needs —
    ``docs`` semi-joined to ``dedup_exact(docs)`` names its input twice
    and shuffles it twice. doc_id leads the struct and is a row key, so
    the comparison never reaches the payload; NULL doc_ids are dropped
    first, as the semi-join on doc_id drops them. NULL text is one
    digest group, like any other text."""
    payload = [c for c in docs.columns if c != "doc_id"]
    row = F.min(F.struct("doc_id", *payload)).alias("_row")
    return (docs.where(F.col("doc_id").isNotNull())
            .groupBy(F.sha2(F.col(text_col), 256).alias("_sha"))
            .agg(row)
            .select(*[F.col("_row")[c].alias(c) for c in docs.columns]))


def _shingler(n: int, full_only: bool):
    """toks -> distinct word n-grams in first-occurrence order
    (dict.fromkeys == array_distinct); None when ``full_only`` and the
    doc is shorter than n tokens, else a short doc gives its one
    truncated shingle, as slice() does. A closure, so a UDF that calls
    it ships it by value and workers need not import this package."""
    def shingle(toks: list[str]):
        if full_only and len(toks) < n:
            return None
        upper = max(len(toks) - n, 0)
        return list(dict.fromkeys(
            " ".join(toks[i:i + n]) for i in range(upper + 1)))
    return shingle


def shingles_col(text_col, n: int = 3, full_only: bool = False):
    """Word n-gram shingles as an array<string> (distinct, first-
    occurrence order — dict.fromkeys == array_distinct).
    ``full_only=True`` emits NOTHING for docs shorter than n tokens
    (the n-gram-contamination contract) instead of the one truncated
    shingle slice() produces.

    Built in one vectorized Arrow batch pass (guide §4.2): Python's
    C-level split/join over the whole batch replaces the interpreted
    transform(i -> concat_ws(slice(toks))) + array_distinct lambda
    chain, which evaluated per token position per row (measured 7.5 ->
    1.6 s on the 250k-doc training corpus, content verified equal,
    including NULL/short-doc edge cases: split(" ") keeps empty tokens
    exactly like the regex form, and docs shorter than n emit the one
    truncated shingle slice() produced)."""

    shingle = _shingler(n, full_only)

    @F.pandas_udf("array<string>")
    def _sh(texts: pd.Series) -> pd.Series:
        return pd.Series([None if txt is None
                          else shingle(txt.lower().split(" "))
                          for txt in texts])

    return _sh(F.col(text_col))


def text_sets_col(text_col, shingle_n: int = 3, gram_n: int = 5):
    """struct<sh, grams>: a doc's distinct ``shingle_n``-shingles (as
    :func:`shingles_col`) and its distinct full ``gram_n``-grams (as
    ``shingles_col(.., full_only=True)``, the decontamination grams),
    from ONE Arrow batch pass that tokenizes each text once — the
    corpus build's near-dup and decontamination stages read both sets
    from one materialized table instead of re-running the pass."""

    shingle, gram = _shingler(shingle_n, False), _shingler(gram_n, True)

    @F.pandas_udf("struct<sh:array<string>,grams:array<string>>")
    def _sets(texts: pd.Series) -> pd.DataFrame:
        sh, grams = [], []
        for txt in texts:
            toks = None if txt is None else txt.lower().split(" ")
            sh.append(None if toks is None else shingle(toks))
            grams.append(None if toks is None else gram(toks))
        return pd.DataFrame({"sh": sh, "grams": grams})

    return _sets(F.col(text_col))


def exploded_shingles(docs: DataFrame, shingle_n: int = 3,
                      text_col: str = "text") -> DataFrame:
    """(doc_id, s) exploded distinct-shingle table — the input
    :func:`minhash_signatures` aggregates. Build it once and pass it as
    ``shingles=`` where several consumers need it, so the explode (the
    widest intermediate in the near-dup pipeline) is a single plan
    subtree; downstream groupBy(doc_id) consumers canonicalize to the
    same Exchange and Catalyst reuses it (ReusedExchange)."""
    return docs.select(
        "doc_id",
        F.explode(shingles_col(text_col, shingle_n)).alias("s"))


def minhash_signatures(docs: DataFrame, num_hashes: int = 8,
                       shingle_n: int = 3,
                       text_col: str = "text",
                       shingles: DataFrame | None = None) -> DataFrame:
    """doc_id -> array of num_hashes min-md5 values (hex strings).

    hash_i(doc) = min over shingles of md5(i || ':' || shingle). md5 output
    is identical across engines, making the signature oracle-checkable.

    Shape: explode shingles -> groupBy(doc_id) with one MIN per hash seed.
    The mins partial-aggregate map-side (shuffle carries num_hashes hex
    strings per doc per map task) and the md5 calls run in whole-stage
    codegen — nested array lambdas would evaluate interpreted."""
    sh = shingles if shingles is not None \
        else exploded_shingles(docs, shingle_n, text_col)
    aggs = [
        F.min(F.md5(F.concat(F.lit(f"{i}:"), F.col("s")))).alias(f"h{i}")
        for i in range(num_hashes)
    ]
    wide = sh.groupBy("doc_id").agg(*aggs)
    return wide.select(
        "doc_id",
        F.array(*[F.col(f"h{i}") for i in range(num_hashes)]).alias("sig"))


def ngram_jaccard_pairs(docs: DataFrame, num_hashes: int = 8,
                        bands: int = 4, shingle_n: int = 3,
                        text_col: str = "text",
                        min_jaccard_micro: int = 0,
                        max_bucket: int | None = None) -> DataFrame:
    """Exact n-gram Jaccard on LSH candidate pairs (doc_a < doc_b).

    Pipeline shape for 10^12 docs: candidates come from LSH (bounded),
    then each pair equi-joins its two DISTINCT-shingle ARRAYS (one row
    per doc, not one per shingle) and the intersection is a single
    array_intersect size — the same exact counts as the old exploded
    (doc, shingle)-row join at a fraction of the shuffle: two shuffles
    of the per-doc array table (N rows) replace two shuffles of the
    exploded table (N x shingles-per-doc rows of strings), and the
    per-pair set sizes fall out of F.size with no extra aggregation
    (guide §2.3 'shuffle fewer bytes' / §3.3 'join first, explode
    after'). jaccard_micro = floor(|A∩B| * 1e6 / |A∪B|) — exact
    integers end to end. ``max_bucket`` passes through to the LSH stage
    (degenerate-bucket n² guard); pair it with lsh_oversized_buckets so
    whatever the cap drops is reported, never silent.

    Payload: every candidate pair carries BOTH shingle arrays through
    the join shuffles, so a doc in k pairs ships its array k times — a
    hot doc (a large near-dup family) costs k x its shingle bytes. The
    LSH bucket cap bounds k; the pair count itself is what the stage
    exists to find.

    The shingle-set table is built by one Arrow pass and materialized
    once with a lazy local checkpoint, which signatures and both sides
    of the verify join read. A local checkpoint lives in executor
    storage and is NOT fault-tolerant: a lost executor loses it and
    the query fails. Cluster runs use ``training_kept``'s ``reps_path``,
    which writes the same table to parquet (the durable form)."""
    sets = (docs.select("doc_id",
                        shingles_col(text_col, shingle_n).alias("_sh"))
            .localCheckpoint(eager=False))
    return sets_jaccard_pairs(sets, num_hashes, bands, min_jaccard_micro,
                              max_bucket)


def sets_jaccard_pairs(sets: DataFrame, num_hashes: int = 8,
                       bands: int = 4, min_jaccard_micro: int = 0,
                       max_bucket: int | None = None) -> DataFrame:
    """:func:`ngram_jaccard_pairs` over a precomputed (doc_id, _sh)
    shingle-set table: MinHash/LSH candidates from its exploded sets,
    then the exact Jaccard join back to the same table. Materialize
    ``sets`` first; every consumer here re-reads it."""
    pairs = lsh_candidate_pairs(
        sets, num_hashes, bands,
        shingles=sets.select("doc_id", F.explode("_sh").alias("s")),
        max_bucket=max_bucket)
    n_inter = F.size(F.array_intersect("_sh_a", "_sh_b")).cast("bigint")
    jaccard = F.floor(n_inter * 1000000 /
                      (F.size("_sh_a") + F.size("_sh_b") - n_inter)
                      ).cast("bigint")
    out = (pairs
           .join(sets.select(F.col("doc_id").alias("doc_a"),
                             F.col("_sh").alias("_sh_a")), "doc_a")
           .join(sets.select(F.col("doc_id").alias("doc_b"),
                             F.col("_sh").alias("_sh_b")), "doc_b")
           .select(F.col("doc_a").cast("bigint"),
                   F.col("doc_b").cast("bigint"),
                   n_inter.alias("n_inter"),
                   jaccard.alias("jaccard_micro")))
    return out.where(F.col("jaccard_micro") >= min_jaccard_micro)


def _banded_signatures(docs: DataFrame, num_hashes: int, bands: int,
                       shingle_n: int, text_col: str,
                       shingles: DataFrame | None) -> DataFrame:
    rpb = num_hashes // bands
    sigs = minhash_signatures(docs, num_hashes, shingle_n, text_col,
                              shingles=shingles)
    return sigs.select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda b: F.struct(
                    b.cast("int").alias("band_id"),
                    F.concat_ws("|", F.slice(F.col("sig"), b * rpb + 1, rpb))
                     .alias("band_key")))).alias("band"),
    ).select("doc_id", "band.band_id", "band.band_key")


def lsh_candidate_pairs(docs: DataFrame, num_hashes: int = 8, bands: int = 4,
                        shingle_n: int = 3,
                        text_col: str = "text",
                        shingles: DataFrame | None = None,
                        max_bucket: int | None = None) -> DataFrame:
    """Near-dup candidate pairs (doc_a < doc_b) sharing >= 1 LSH band.

    bands of rows_per_band hashes each; band key = concat of its hashes.
    The band explode shuffles on (band_id, band_key) — uniform unless
    true near-dups exist, which is exactly the skew we want to find.

    ``max_bucket`` guards the quadratic trap at corpus scale: a
    degenerate key (empty docs, boilerplate-only pages) can put millions
    of documents in ONE bucket, and the self-join then emits n^2 pairs.
    Buckets larger than the cap are excluded from pairing (a bucket-
    partitioned count — the same exchange the self-join needs anyway).
    The cap is opt-in and NEVER silent: ``lsh_oversized_buckets`` with
    the same arguments returns exactly what was dropped for reporting."""
    banded = _banded_signatures(docs, num_hashes, bands, shingle_n,
                                text_col, shingles)
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


def lsh_oversized_buckets(docs: DataFrame, num_hashes: int = 8,
                          bands: int = 4, shingle_n: int = 3,
                          text_col: str = "text",
                          shingles: DataFrame | None = None,
                          max_bucket: int = 1000) -> DataFrame:
    """The buckets a ``max_bucket`` cap would drop — (band_id, band_key,
    n_docs). Report or route these to a dedicated handling pass (exact
    dedup already catches byte-identical members); never cap silently."""
    banded = _banded_signatures(docs, num_hashes, bands, shingle_n,
                                text_col, shingles)
    return (banded.groupBy("band_id", "band_key")
            .agg(F.count(F.lit(1)).alias("n_docs"))
            .where(F.col("n_docs") > max_bucket))


def paragraph_dedup(docs: DataFrame, sep: str = "\n",
                    text_col: str = "text") -> DataFrame:
    """Paragraph-granularity exact dedup — the sub-document pass (C4's
    line dedup, RefinedWeb's paragraph dedup) that document-level
    hashing cannot express: boilerplate paragraphs repeat across
    MOSTLY-DIFFERENT pages, so whole-doc dedup never fires on them.

    First occurrence wins globally, ordered by (doc_id, paragraph
    index): explode paragraphs with their index, groupBy paragraph hash
    with a min_by on the packed (doc_id, idx) key (partial map-side
    agg — one row per distinct paragraph through the shuffle), then
    mark and reassemble. Returns per doc: paragraph counts before and
    after, and the sha256 of the kept text (byte-exact parity surface).
    Shuffles only on sha256(paragraph) and doc_id — both uniform."""
    paras = (docs
             .select("doc_id",
                     F.posexplode(F.split(F.col(text_col), sep))
                     .alias("idx", "para"))
             .withColumn("psha", F.sha2(F.col("para"), 256)))
    # first-occurrence key is the lexicographic (doc_id, idx) struct min
    # — no packed-integer arithmetic, so no collision at >=1e6
    # paragraphs per doc; still a map-side partial aggregate
    first = paras.groupBy("psha").agg(
        F.min(F.struct("doc_id", "idx")).alias("first_key"))
    marked = (paras.join(first, "psha")
              .withColumn("kept",
                          F.struct("doc_id", "idx") == F.col("first_key")))
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
                    sep), 256).alias("_sha")))
    # a doc whose every paragraph first occurred elsewhere keeps
    # NOTHING — kept_sha must be NULL, not sha256('') (the oracle's
    # string_agg FILTER yields NULL there; remove_boilerplate already
    # guards the same case)
    return agg.select(
        "doc_id", "n_paras", "n_kept",
        F.when(F.col("n_kept") > 0, F.col("_sha")).alias("kept_sha"))


def exact_substr_overlap(docs: DataFrame, width: int = 32,
                         text_col: str = "text") -> DataFrame:
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
    window hashes are built in one vectorized Arrow batch pass (guide
    §4.2 — hashlib.md5 over C-level token joins replaces the per-
    position slice+concat_ws+md5 lambda chain, byte-identical hex);
    the removal pass (cutting covered ranges) reuses the same
    (doc_id, pos) set."""
    import hashlib

    @F.pandas_udf("array<struct<pos:int,wh:string>>")
    def _wins(texts: pd.Series) -> pd.Series:
        out = []
        for txt in texts:
            if txt is None:
                out.append(None)
                continue
            toks = txt.lower().split(" ")
            if len(toks) < width:
                out.append(None)
                continue
            out.append([
                (i, hashlib.md5(
                    " ".join(toks[i:i + width]).encode("utf-8"))
                 .hexdigest())
                for i in range(len(toks) - width + 1)])
        return pd.Series(out)

    toks = F.split(F.lower(F.col(text_col)), " ")
    n_toks = F.size(toks)
    ex = (docs.select("doc_id", F.explode(_wins(F.col(text_col)))
                      .alias("w"))
          .select("doc_id", F.col("w.pos").alias("pos"),
                  F.col("w.wh").alias("wh")))
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


def dup_components(pairs: DataFrame, max_iters: int = 20,
                   a_col: str = "doc_a", b_col: str = "doc_b"
                   ) -> DataFrame:
    """Connected components over the near-dup pair graph -> (doc_id,
    comp) with comp = the smallest doc_id in the component. This is
    the transitive closure the pairwise drop rule approximates: pick
    ONE canonical representative per duplicate FAMILY (A~B, B~C => one
    family even when A!~C directly), the semantics large corpus dedups
    (e.g. MinHashLSH + CC) actually want.

    Distributed min-label propagation: every node repeatedly takes the
    minimum label in its neighborhood; converges in O(component
    diameter) rounds — near-dup families are shallow (a few hops), so
    a handful of rounds. Each round is one shuffle keyed on node id
    over the EDGE table (never all-pairs); labels are
    localCheckpoint-ed per round so the plan stays flat, and the
    driver sees only a converged/changed counter."""
    e = pairs.select(F.col(a_col).alias("u"), F.col(b_col).alias("v"))
    edges = (e.unionByName(e.select(F.col("v").alias("u"),
                                    F.col("u").alias("v")))
             .distinct().localCheckpoint())
    labels = (edges.select(F.col("u").alias("doc_id")).distinct()
              .withColumn("comp", F.col("doc_id")).localCheckpoint())
    for _ in range(max_iters):
        nb = (edges.join(labels, edges["v"] == labels["doc_id"])
              .groupBy("u").agg(F.min("comp").alias("nb_comp")))
        # carry the previous label THROUGH the round so the changed
        # count is a filter over the cached checkpoint — the old
        # shape re-joined new and old labels (two more shuffles of
        # the node table per round) just to compare them
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


def boilerplate_paragraphs(docs: DataFrame, min_doc_freq: int = 2,
                           sep: str = "\n",
                           text_col: str = "text") -> DataFrame:
    """Paragraphs appearing in >= min_doc_freq DISTINCT documents —
    the corpus-wide boilerplate census (nav bars, cookie banners,
    terms-of-service footers). One explode + one partial-agg
    countDistinct keyed on the paragraph sha."""
    paras = (docs.select(
        "doc_id",
        F.posexplode(F.split(F.col(text_col), sep)).alias("idx", "para"))
        .withColumn("psha", F.sha2(F.col("para"), 256)))
    return (paras.groupBy("psha")
            .agg(F.min("para").alias("para"),
                 F.countDistinct("doc_id").cast("bigint")
                  .alias("doc_freq"))
            .where(F.col("doc_freq") >= min_doc_freq))


def remove_boilerplate(docs: DataFrame, min_doc_freq: int = 2,
                       sep: str = "\n",
                       text_col: str = "text") -> DataFrame:
    """C4-style boilerplate REMOVAL: unlike paragraph_dedup (first
    occurrence kept), a paragraph frequent enough to be boilerplate is
    dropped from EVERY document including the first — boilerplate is
    noise, not content. Returns per doc: paragraph counts before and
    after and the sha256 of the cleaned text (NULL when nothing
    survives). Shuffles on paragraph sha and doc_id only."""
    paras = (docs.select(
        "doc_id",
        F.posexplode(F.split(F.col(text_col), sep)).alias("idx", "para"))
        .withColumn("psha", F.sha2(F.col("para"), 256)))
    hot = boilerplate_paragraphs(docs, min_doc_freq, sep, text_col) \
        .select("psha", F.lit(True).alias("hot"))
    marked = (paras.join(hot, "psha", "left")
              .withColumn("kept", F.col("hot").isNull()))
    out = (marked.groupBy("doc_id")
           .agg(F.count(F.lit(1)).cast("bigint").alias("n_paras"),
                F.sum(F.col("kept").cast("bigint")).cast("bigint")
                 .alias("n_kept"),
                F.sha2(F.array_join(
                    F.transform(
                        F.array_sort(F.collect_list(
                            F.when(F.col("kept"),
                                   F.struct("idx", "para")))),
                        lambda s: s["para"]),
                    sep), 256).alias("_sha")))
    return out.select(
        "doc_id", "n_paras", "n_kept",
        F.when(F.col("n_kept") > 0, F.col("_sha")).alias("clean_sha"))
