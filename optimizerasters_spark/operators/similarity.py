"""Similarity search over embedding columns (array<float>).

  * Search: brute-force ``cosine_topk`` (the correctness baseline, query
    side broadcast), SimHash ``lsh_bucket_topk`` and inverted-file
    ``ivf_topk`` (candidates meet only within a bucket / probed list),
    ``embedding_near_dup`` pairs, and decode-free ADC over PQ codes
    (``pq_adc_topk``, ``ivf_pq_topk``, ``ivf_pq_residual_topk``).
  * Index BUILD: integer-exact k-means (``kmeans_*``), scalar (``sq_*``)
    and product (``pq_*``) quantization.

At 100 TB the brute-force form is still the right INNER loop — but only
after a bucket/IVF prefilter bounds candidates per query; both pieces are
here and compose.
"""

from __future__ import annotations

import operator
from functools import reduce

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql.window import Window


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y),
                       F.lit(0.0), lambda acc, v: acc + v)


def _norm2(a: Column) -> Column:
    return F.sqrt(F.aggregate(F.transform(a, lambda x: x * x),
                              F.lit(0.0), lambda acc, v: acc + v))


def _cos(a: Column, b: Column) -> Column:
    """Cosine similarity of two array<double> columns, JVM-side."""
    return _dot(a, b) / (_norm2(a) * _norm2(b))


def _f64(df: DataFrame, id_col: str, vec_col: str, alias: str,
         *keep: str) -> DataFrame:
    """(id_col, *keep, alias) with the vector cast to array<double>."""
    return df.select(id_col, *keep, F.col(vec_col).cast("array<double>")
                     .alias(alias))


def _topk(df: DataFrame, part: str, order: list[Column], k: int,
          rank: str) -> DataFrame:
    """The first ``k`` rows of each ``part`` partition by ``order``
    (whose last key is unique), numbered 1..k in column ``rank``."""
    w = Window.partitionBy(part).orderBy(*order)
    return (df.withColumn(rank, F.row_number().over(w))
            .where(F.col(rank) <= k))


def _cos_topk(e: DataFrame, q: DataFrame, k: int,
              on: str | None = None) -> DataFrame:
    """Top-k cosine (vec_id, vec) rows per broadcast (query_id, qvec)
    row, ties -> lower vec_id: all pairs, or those sharing key ``on``."""
    j = (e.crossJoin(F.broadcast(q)) if on is None
         else e.join(F.broadcast(q), on))
    sim = j.withColumn("cos_sim", _cos(F.col("vec"), F.col("qvec")))
    return (_topk(sim, "query_id",
                  [F.col("cos_sim").desc(), F.col("vec_id").asc()], k,
                  "sim_rank")
            .select(F.col("query_id").cast("bigint").alias("query_id"),
                    F.col("sim_rank").cast("int").alias("sim_rank"),
                    F.col("vec_id").cast("bigint").alias("vec_id")))


def _kernel(schema: str):
    """Decorator: a pandas (Arrow batch) UDF marked nondeterministic so
    each vector goes through it ONCE: Spark infers filters on a
    deterministic UDF's output (isnotnull from a join on it, size > 0
    from an explode of it) and pushes them below the projection, which
    evaluates the kernel again. Cost: Catalyst no longer pushes filters
    through that projection. The kernels themselves are deterministic."""
    return lambda fn: F.pandas_udf(fn, schema).asNondeterministic()


def _books(codebooks: DataFrame, m: int) -> list:
    """Collect a codebook table (a centroid table without ``m`` is one
    book) to the driver: one (ids, C, |c|^2) NumPy triple per subspace
    0..m-1, ids ascending so a first-occurrence argmin/argmax is the
    'ties -> lower cent_id' rule (guide §4.2). [] for an empty table
    (callers then return .limit(0) rows); ValueError when a subspace
    has no entries. Runs a Spark job."""
    has_m = "m" in codebooks.columns
    rows = codebooks.select(*(["m"] if has_m else []), "cent_id",
                            "cvec").collect()
    if not rows:
        return []
    books = []
    for mm in range(m):
        sub = sorted(((r["cent_id"], list(r["cvec"])) for r in rows
                      if not has_m or r["m"] == mm), key=lambda t: t[0])
        if not sub:
            raise ValueError(
                f"codebook has no entries for subspace m={mm} "
                f"(expected subspaces 0..{m - 1})")
        C = np.asarray([c for _, c in sub], dtype=np.float64)
        books.append((np.asarray([i for i, _ in sub], dtype=np.int64),
                      C, (C * C).sum(axis=1)))
    return books


def _nearest(X, book):
    """(ids, dist2) of each row of X's nearest entry (first min -> lower
    id) by |x-c|^2 = |x|^2 + |c|^2 - 2<x,c>, one BLAS matmul. EXACT for
    the micro-int domain: components are integers with |v| <= ~4.2e6,
    so every partial sum over <= 64 dims is an integer < 2^53."""
    ids, C, c_norm2 = book
    D = (X * X).sum(axis=1)[:, None] + c_norm2[None, :] - 2.0 * (X @ C.T)
    idx = np.argmin(D, axis=1)
    return ids[idx], D[np.arange(len(idx)), idx]


def cosine_topk(embeddings: DataFrame, queries: DataFrame, k: int = 5
                ) -> DataFrame:
    """For each row of ``queries`` (query_id, qvec) return the k most
    cosine-similar embeddings (ties -> lower vec_id). Query side broadcast;
    one window per query_id partition."""
    return _cos_topk(_f64(embeddings, "vec_id", "embedding", "vec"),
                     _f64(queries, "query_id", "qvec", "qvec"), k)


def embedding_near_dup(embeddings: DataFrame, threshold_micro: int = 950000,
                       block_col: str | None = "label") -> DataFrame:
    """Embedding-cosine near-duplicate pairs (vec_a < vec_b, cosine >=
    threshold). Similarity is quantized to integer micro-units (floored)
    so the threshold predicate is exact and oracle-checkable.

    Blocking: candidates meet only within ``block_col`` buckets (a label,
    an LSH bucket, an IVF centroid id) — the O(N^2) cross stays bounded by
    the largest bucket, and buckets shuffle-join on their key. Pass
    block_col=None for the brute-force baseline."""
    e = _f64(embeddings, "vec_id", "embedding", "vec",
             *([block_col] if block_col else []))
    on = [F.col("a.vec_id") < F.col("b.vec_id")]
    if block_col:
        on.insert(0, F.col(f"a.{block_col}") == F.col(f"b.{block_col}"))
    joined = e.alias("a").join(e.alias("b"), reduce(operator.and_, on))
    sim = _cos(F.col("a.vec"), F.col("b.vec"))
    return (joined
            .withColumn("sim_micro",
                        F.floor(sim * F.lit(1000000)).cast("bigint"))
            .where(F.col("sim_micro") >= threshold_micro)
            .select(F.col("a.vec_id").cast("bigint").alias("vec_a"),
                    F.col("b.vec_id").cast("bigint").alias("vec_b"),
                    "sim_micro"))


def simhash_bucket(vec: Column, planes: list[list[float]]) -> Column:
    """Sign-of-projection bucket id for a fixed set of hyperplanes
    (deterministic, plan-time constants)."""
    bits = [
        F.when(_dot(vec, F.array(*[F.lit(float(x)) for x in p])) >= 0, 1 << i)
         .otherwise(0)
        for i, p in enumerate(planes)
    ]
    return reduce(operator.add, bits, F.lit(0)).cast("int")


def ivf_assign(vectors: DataFrame, centroids: DataFrame,
               vec_col: str = "vec", id_col: str = "vec_id",
               nprobe: int = 1) -> DataFrame:
    """IVF coarse quantization: each vector gets its ``nprobe`` most
    cosine-similar centroid ids (ties -> lower cent_id). The centroid
    table is small by construction; the assignment is the standard
    O(N*K) scan that every IVF index pays once at build.

    nprobe=1 (the BUILD side — billions of vectors) runs the argmax as
    ONE NumPy matrix product per Arrow batch inside a pandas UDF
    (guide §4.2): K centroids are collected once (the same driver hop
    a broadcast pays) and the N*K candidate rows never materialize —
    the stage stays a shuffle-free projection, and the per-pair cost is
    a BLAS row, not an interpreted zip_with/aggregate lambda chain. The
    window form is kept for nprobe>1, which only the small query side
    uses.

    The nprobe=1 form collects the centroid table when this DataFrame
    is BUILT, so a Spark job fires at that point. Its cosine argmax is
    float64 arithmetic in NumPy summation order, so a near-tie can
    resolve differently from the DuckDB oracle's summation order (the
    integer-L2 kernels, kmeans_assign and pq_encode, are exact)."""
    if nprobe == 1:
        books = _books(centroids, 1)
        cent_dtype = dict(centroids.dtypes)["cent_id"]

        @_kernel("bigint")
        def _best_list(v: pd.Series) -> pd.Series:
            ids, C, c_norm2 = books[0]
            X = np.asarray(v.tolist(), dtype=np.float64)
            x_norm = np.sqrt((X * X).sum(axis=1))
            sims = (X @ C.T) / (x_norm[:, None] * np.sqrt(c_norm2)[None, :])
            # argmax takes the FIRST max -> lowest cent_id on ties
            return pd.Series(ids[np.argmax(sims, axis=1)])

        out = vectors.select(
            id_col,
            _best_list(F.col(vec_col)).cast(cent_dtype).alias("cent_id"),
            *[c for c in vectors.columns if c != id_col])
        return out if books else out.limit(0)
    sim = (vectors.join(F.broadcast(centroids))
           .withColumn("cent_sim", _cos(F.col(vec_col), F.col("cvec"))))
    return (_topk(sim, id_col,
                  [F.col("cent_sim").desc(), F.col("cent_id").asc()],
                  nprobe, "cent_rank")
            .drop("cvec", "cent_sim", "cent_rank"))


def ivf_topk(embeddings: DataFrame, queries: DataFrame,
             centroids: DataFrame, k: int = 5, nprobe: int = 2
             ) -> DataFrame:
    """IVF-bucketed ANN (the inverted-file scale path next to the
    SimHash one): vectors live in their single nearest centroid's list;
    each query probes its ``nprobe`` nearest centroids; candidates meet
    by an equi-join on cent_id and the exact top-k ranks within.

    At 100 TB: the big side shuffles once on cent_id (or is written
    bucketed by it), queries are broadcast, and recall is tuned by
    nprobe without touching the stored lists."""
    c = _f64(centroids, "cent_id", "cvec", "cvec")
    e = ivf_assign(_f64(embeddings, "vec_id", "embedding", "vec"), c,
                   nprobe=1)
    q = ivf_assign(_f64(queries, "query_id", "qvec", "qvec"), c,
                   vec_col="qvec", id_col="query_id", nprobe=nprobe)
    # vectors hold ONE centroid (nprobe=1 on the build side), so
    # (query, vec) candidate pairs are unique — no dedup needed
    return _cos_topk(e, q, k, on="cent_id")


# ---------------------------------------------------------------------------
# IVF index BUILD: distributed k-means over quantized integer vectors.
#
# The missing half of the IVF story (round-2 consumed given centroids).
# Everything is INTEGER-exact so training is deterministic and
# cross-engine oracle-checkable:
#   * components quantize to micro-units with a +QUANT_OFFSET shift into the
#     non-negative domain (squared-L2 distances are translation-
#     invariant, and non-negative integer division truncates identically
#     everywhere, so the centroid means match any engine bit-for-bit);
#   * init is a hash-ordered sample (the K vectors with the smallest
#     md5(vec_id)) — uniform-but-reproducible, TakeOrderedAndProject on
#     the big side;
#   * each Lloyd iteration is (a) assignment: one NumPy argmin per
#     Arrow batch against the collected centroids (a shuffle-free
#     projection — the kernel pq_encode runs per subspace), and
#     (b) update: posexplode to (cent_id, dim) and re-aggregate —
#     map-side partial combine collapses each task to K*dim rows, so
#     the update shuffle is O(#tasks * K * dim), independent of N.
#     Centroids (K*dim ints) hop through the driver between iterations
#     exactly like MLlib's Lloyd loop — the one legitimate collect.
# ---------------------------------------------------------------------------

QUANT_OFFSET = 1_000_000  # valid for unit-scale embeddings (|x| < 1)
PQ_STRIDE = 97            # pq_codebooks_stride samples every 97th vec_id


def quantize_micro(vec: Column) -> Column:
    """array<float> -> array<bigint> micro-units, shifted non-negative."""
    return F.transform(
        vec.cast("array<double>"),
        lambda x: F.floor(x * 1000000).cast("bigint") + F.lit(QUANT_OFFSET))


def _dist2_int(a: Column, b: Column) -> Column:
    return F.aggregate(F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
                       F.lit(0).cast("bigint"), lambda acc, v: acc + v)


def kmeans_seeds(vectors: DataFrame, k: int) -> DataFrame:
    """Deterministic sampled init: the k (vec_id, v) vectors with the
    smallest md5(vec_id). orderBy+limit compiles to per-partition heaps
    + driver merge (TakeOrderedAndProject) — no global sort."""
    key = F.md5(F.col("vec_id").cast("string"))
    seeds = vectors.orderBy(key, F.col("vec_id")).limit(k)
    w = Window.orderBy(F.md5(F.col("vec_id").cast("string")),
                       F.col("vec_id"))
    return seeds.select(
        (F.row_number().over(w) - 1).cast("int").alias("cent_id"),
        F.col("v").alias("cvec"))


def kmeans_assign(vectors: DataFrame, cents: DataFrame) -> DataFrame:
    """Nearest centroid of each (vec_id, v) by integer squared L2 (ties
    -> lower cent_id).

    The argmin runs as ONE NumPy matrix product per Arrow batch inside
    a pandas UDF (guide §4.2, :func:`_nearest` — exact in float64 for
    the micro-int domain): the K centroids are collected once (the
    same driver hop F.broadcast pays) and the N*K candidate rows never
    materialize, so the stage is a shuffle-free projection. The
    centroid table is collected when this DataFrame is BUILT, so a
    Spark job fires at that point."""
    books = _books(cents, 1)
    cent_dtype = dict(cents.dtypes)["cent_id"]

    @_kernel("struct<cent_id:bigint,dist2:bigint>")
    def _assign(v: pd.Series) -> pd.DataFrame:
        ids, d2 = _nearest(np.asarray(v.tolist(), dtype=np.float64),
                           books[0])
        return pd.DataFrame({"cent_id": ids, "dist2": d2.astype(np.int64)})

    out = vectors.withColumn("_b", _assign(F.col("v"))).select(
        "vec_id",
        F.col("_b.cent_id").cast(cent_dtype).alias("cent_id"),
        F.col("_b.dist2").alias("dist2"),
        F.col("v"))
    return out if books else out.limit(0)


def kmeans_update(assigned: DataFrame, cents: DataFrame) -> DataFrame:
    """Component-wise integer mean per cluster: posexplode to
    (cent_id, dim, comp), partial-aggregated sum/count (K*dim rows per
    task through the shuffle), re-assembled with array_sort + transform.
    Empty clusters keep their previous centroid."""
    ex = assigned.select(
        "cent_id", F.posexplode(F.col("v")).alias("d", "comp"))
    sums = ex.groupBy("cent_id", "d").agg(
        F.sum("comp").alias("s"), F.count(F.lit(1)).alias("n"))
    upd = (sums.groupBy("cent_id")
           .agg(F.array_sort(
                F.collect_list(F.struct("d", "s", "n"))).alias("_c"))
           .select("cent_id",
                   # non-negative domain: div (truncation) == floor
                   F.expr("transform(_c, t -> t.s div t.n)").alias("_new"),
                   F.expr("_c[0].n").alias("_n")))
    return (cents.join(upd, "cent_id", "left")
            .select("cent_id",
                    F.coalesce(F.col("_new"), F.col("cvec")).alias("cvec"),
                    F.coalesce(F.col("_n"), F.lit(0)).cast("bigint")
                     .alias("cluster_n")))


def kmeans_train(vectors: DataFrame, k: int = 8, iters: int = 2
                 ) -> DataFrame:
    """k-means over quantized (vec_id, v) vectors -> (cent_id, cvec,
    cluster_n),
    where cluster_n is the membership count observed at the FINAL
    update step (assignment under the previous iteration's centroids).
    Centroids round-trip through the driver between iterations (K*dim
    integers), keeping every iteration's job independent and the final
    plan shallow."""
    spark = vectors.sparkSession
    cents = kmeans_seeds(vectors, k)
    rows = []
    for _ in range(iters):
        assigned = kmeans_assign(vectors, cents)
        rows = sorted(kmeans_update(assigned, cents).collect(),
                      key=lambda r: r["cent_id"])
        cents = spark.createDataFrame(
            [(r["cent_id"], r["cvec"]) for r in rows],
            "cent_id INT, cvec ARRAY<BIGINT>")
    return spark.createDataFrame(
        [(r["cent_id"], r["cvec"], int(r["cluster_n"])) for r in rows],
        "cent_id INT, cvec ARRAY<BIGINT>, cluster_n BIGINT")


def sq_train(vectors: DataFrame) -> tuple[list[int], list[int]]:
    """Scalar-quantization bounds: per-dimension (lo, span) over the
    corpus — ONE posexplode + partial-aggregated min/max pass (K*dim
    rows per task through the shuffle), bounds hop the driver like
    k-means centroids (dim integers). Returns (lo[], span[]) with
    span >= 1."""
    ex = vectors.select(F.posexplode(F.col("v")).alias("d", "comp"))
    rows = sorted(ex.groupBy("d")
                  .agg(F.min("comp").alias("lo"), F.max("comp").alias("hi"))
                  .collect(), key=lambda r: r["d"])
    lo = [int(r["lo"]) for r in rows]
    span = [max(int(r["hi"]) - int(r["lo"]), 1) for r in rows]
    return lo, span


def sq_encode_col(lo: list[int], span: list[int]) -> Column:
    """8-bit scalar quantization of the ``v`` column: code_d = (v_d - lo_d) *
    255 div span_d, an int in [0, 255] — 4x smaller than float32
    embeddings and 8x smaller than the micro-int form, the standard
    memory lever for billion-vector ANN. Integer division on a
    non-negative numerator -> exact on any engine. Plan-time constant
    bound arrays; whole-stage codegen."""
    los = ", ".join(str(x) for x in lo)
    spans = ", ".join(str(x) for x in span)
    return F.expr(
        f"transform(sequence(0, {len(lo) - 1}), i -> CAST("
        f"(element_at(v, i + 1) - element_at(array({los}), i + 1))"
        f" * 255 div element_at(array({spans}), i + 1) AS INT))")


def sq_decode_col(lo: list[int], span: list[int]) -> Column:
    """Reconstruct micro-int vectors from the SQ ``codes`` column
    (midpoint-free floor form, the exact inverse scale of
    sq_encode_col)."""
    los = ", ".join(str(x) for x in lo)
    spans = ", ".join(str(x) for x in span)
    return F.expr(
        f"transform(sequence(0, {len(lo) - 1}), i -> "
        f"element_at(array({los}), i + 1) + "
        f"element_at(codes, i + 1) * "
        f"element_at(array({spans}), i + 1) div 255)")


def dequantize_micro(cvec: Column) -> Column:
    """Trained integer centroids -> double arrays for the cosine-space
    IVF probe path (ivf_topk)."""
    return F.transform(
        cvec, lambda x: (x - F.lit(QUANT_OFFSET)).cast("double") / 1000000.0)


def lsh_bucket_topk(embeddings: DataFrame, queries: DataFrame,
                    planes: list[list[float]], k: int = 5) -> DataFrame:
    """ANN: bucket both sides by hyperplane signs, join on bucket, rank
    within. Recall < 1 by construction (single-probe); callers add probes
    by unioning neighbor buckets on the (small) query side."""
    e = _f64(embeddings, "vec_id", "embedding", "vec") \
        .withColumn("bucket", simhash_bucket(F.col("vec"), planes))
    q = _f64(queries, "query_id", "qvec", "qvec") \
        .withColumn("bucket", simhash_bucket(F.col("qvec"), planes))
    return _cos_topk(e, q, k, on="bucket")


# --------------------------------------------------------------------------
# Product quantization (PQ): the codebook-compression layer between SQ
# and IVF in the billion-vector stack — vectors become M small codes and
# search runs decode-free against per-query lookup tables (ADC).
# --------------------------------------------------------------------------

def _stack(books: list[DataFrame]) -> DataFrame:
    """(m, cent_id, cvec): the per-subspace codebooks, m = position."""
    return reduce(DataFrame.unionByName, [
        b.select(F.lit(mm).cast("int").alias("m"), "cent_id", "cvec")
        for mm, b in enumerate(books)])


def pq_codebooks_stride(vectors: DataFrame, m: int, dim: int,
                        vec_col: str = "v") -> DataFrame:
    """Deterministic stride-sampled PQ codebooks -> (m, cent_id, cvec):
    subspace ``mm``'s codebook is the mm-th slice of every
    ``PQ_STRIDE``-th vec_id. The fixture/bootstrap form (exactly
    q_ivf_topk's fixed-centroid trick, so the encode/ADC stages are
    SQL-oracle-checkable);
    pq_train swaps in Lloyd-refined codebooks behind the same shape."""
    dsub = dim // m
    base = vectors.where(F.col("vec_id") % PQ_STRIDE == 0).select(
        (F.col("vec_id") / PQ_STRIDE).cast("int").alias("cent_id"),
        F.col(vec_col))
    return _stack([
        base.select("cent_id", F.slice(F.col(vec_col), mm * dsub + 1,
                                       dsub).alias("cvec"))
        for mm in range(m)])


def pq_train(vectors: DataFrame, m: int, dim: int, k: int = 8,
             iters: int = 2) -> DataFrame:
    """Lloyd-refined PQ codebooks: M INDEPENDENT integer k-means runs
    (kmeans_train — hash-seeded, vectorized argmin assignment,
    posexplode update) over the subvector slices. Each subspace trains
    on the full corpus but only dim/M components; the driver round-trip
    per iteration stays K*dim/M integers. Returns (m, cent_id, cvec)."""
    dsub = dim // m
    return _stack([
        kmeans_train(
            vectors.select(F.col("vec_id"), F.slice(
                F.col("v"), mm * dsub + 1, dsub).alias("v")),
            k=k, iters=iters)
        for mm in range(m)])


def pq_encode(vectors: DataFrame, codebooks: DataFrame, m: int, dim: int,
              vec_col: str = "v") -> DataFrame:
    """vector -> array<int> of M codes: nearest codebook entry per
    subspace (integer squared L2, ties -> lower cent_id). The M*K
    codebook rows are collected once (the driver hop a broadcast pays)
    and each Arrow batch computes all M argmins as NumPy matrix
    products (guide §4.2, :func:`_nearest` — exact in float64 for the
    micro-int domain) — a shuffle-free projection; the N*M*K candidate
    rows never materialize. 64 micro-int dims at M=8 become 8 ints: the
    8x memory lever on top of SQ's 4x. The codebook table is collected
    when this DataFrame is BUILT, so a Spark job fires at that point;
    a codebook with rows but no entry for some subspace raises
    ValueError."""
    dsub = dim // m
    books = _books(codebooks, m)

    @_kernel("array<int>")
    def _codes(v: pd.Series) -> pd.Series:
        X = np.asarray(v.tolist(), dtype=np.float64)
        out = np.empty((len(X), m), dtype=np.int32)
        for mm, book in enumerate(books):
            out[:, mm] = _nearest(X[:, mm * dsub:(mm + 1) * dsub], book)[0]
        return pd.Series(list(out))

    out = vectors.select("vec_id", _codes(F.col(vec_col)).alias("codes"))
    return out if books else out.limit(0)


def _lut(df: DataFrame, codebooks: DataFrame, vec: str,
         dsub: int) -> DataFrame:
    """``df`` x broadcast codebooks with pdist = integer squared L2 of
    ``vec``'s subspace-m slice to cvec: the ADC lookup table."""
    return (df.join(F.broadcast(codebooks))
            .withColumn("pdist", _dist2_int(
                F.slice(F.col(vec), F.col("m") * dsub + 1, dsub),
                F.col("cvec"))))


def _adc_topk(ex: DataFrame, lut: DataFrame, k: int,
              on: tuple[Column, ...] = (),
              key: Column | None = None) -> DataFrame:
    """ADC: code rows ``ex`` (vec_id, m, code) join the broadcast
    ``lut`` on (lm, cent_id) and the ``on`` conditions; adc2 = sum of
    pdist per (query ``key``, vector); the k smallest per query_id
    (ties -> lower vec_id) ranked 1..k as pq_rank."""
    j = ex.join(F.broadcast(lut), reduce(operator.and_, [
        *on, F.col("m") == F.col("lm"), F.col("code") == F.col("cent_id")]))
    agg = j.groupBy("query_id" if key is None else key, "vec_id").agg(
        F.sum("pdist").cast("bigint").alias("adc2"))
    return _topk(agg, "query_id",
                 [F.col("adc2").asc(), F.col("vec_id").asc()],
                 k, "pq_rank")


def pq_adc_topk(queries: DataFrame, codes: DataFrame,
                codebooks: DataFrame, m: int, dim: int, k: int = 5
                ) -> DataFrame:
    """Asymmetric distance computation: build the per-query lookup
    table (Q*M*K partial distances — tiny, broadcast), equi-join the
    code table on (subspace, code), sum the M partial distances per
    (query, vector), take top-k. The compressed corpus is never
    decoded; only the LUT touches full precision — the IVF probe's
    inner loop at billion scale (ADC runs per posting list there; here
    it scans the whole code table, which IS the nprobe=all case)."""
    lut = _lut(queries, codebooks, "qvec", dim // m).select(
        "query_id", F.col("m").alias("lm"), "cent_id", "pdist")
    ex = codes.select("vec_id", F.posexplode("codes").alias("m", "code"))
    return _adc_topk(ex, lut, k)


def residual_vectors(vectors: DataFrame, coarse: DataFrame) -> DataFrame:
    """(id, list_id, rvec = v − coarse_centroid[list_id]) — the input
    to RESIDUAL product quantization (what FAISS IVFPQ encodes):
    after coarse assignment, only the residual to the list centroid is
    quantized, so the codebooks spend their entries on the small
    within-list displacement instead of the whole embedding space.
    One kmeans_assign (the vectorized argmin projection) + one
    broadcast rejoin for the centroid vector: no shuffle of its own."""
    assigned = kmeans_assign(vectors, coarse)
    withc = assigned.join(
        F.broadcast(coarse.select("cent_id",
                                  F.col("cvec").alias("_lv"))),
        "cent_id")
    return withc.select(
        "vec_id", F.col("cent_id").alias("list_id"),
        F.zip_with(F.col("v"), F.col("_lv"),
                   lambda a, b: a - b).alias("rvec"))


def pq_quantization_error(vectors: DataFrame, codebooks: DataFrame,
                          m: int, dim: int, vec_col: str = "v"
                          ) -> DataFrame:
    """Total squared PQ quantization error: sum over (vector,
    subspace) of the winning codebook entry's squared distance — the
    FAISS-style diagnostic that justifies residual encoding (for
    residual PQ the coarse centroid cancels, so the residual table's
    error IS the reconstruction error of centroid + codeword).
    Returns a single (err2) row."""
    best = (_lut(vectors, codebooks, vec_col, dim // m)
            .groupBy("vec_id", "m").agg(F.min("pdist").alias("d2")))
    return best.agg(F.sum("d2").cast("bigint").alias("err2"))


def _probed_lists(queries: DataFrame, coarse: DataFrame,
                  nprobe: int) -> DataFrame:
    """Each query's ``nprobe`` nearest coarse lists (integer squared L2,
    ties -> lower list_id), with list_id and list_vec."""
    qc = (queries.join(F.broadcast(
            coarse.select(F.col("cent_id").alias("list_id"),
                          F.col("cvec").alias("list_vec"))))
          .withColumn("qd2", _dist2_int(F.col("qvec"),
                                        F.col("list_vec"))))
    return _topk(qc, "query_id", [F.col("qd2").asc(), F.col("list_id").asc()],
                 nprobe, "pr")


def ivf_pq_residual_topk(queries: DataFrame, residuals: DataFrame,
                         coarse: DataFrame, codebooks: DataFrame,
                         m: int, dim: int, nprobe: int = 2, k: int = 5
                         ) -> DataFrame:
    """IVF + RESIDUAL PQ — FAISS-IVFPQ semantics: vectors are stored
    as PQ codes of their residual to the list centroid, and a query's
    LUT is built from ITS residual to each probed list's centroid
    (one LUT per (query, probed list), still Q·nprobe·M·K rows —
    tiny, broadcast). ADC then estimates ‖q − v‖² within a list as
    ‖(q − c) − (v − c)‖², so the coarse term cancels exactly and the
    codebooks only carry within-list displacement — finer codes at
    identical plan shape to :func:`ivf_pq_topk`: candidates are
    bounded to probed lists by the broadcast LUT join, and the only
    corpus-proportional shuffles key on vec_id and the candidate
    (query, vector) pairs."""
    codes = pq_encode(residuals, codebooks, m, dim, vec_col="rvec")
    probed = _probed_lists(queries, coarse, nprobe).select(
        "query_id", "list_id",
        F.zip_with(F.col("qvec"), F.col("list_vec"),
                   lambda a, b: a - b).alias("qr"))
    lut = _lut(probed, codebooks, "qr", dim // m).select(
        F.col("query_id").alias("lq"), F.col("list_id").alias("ll"),
        F.col("m").alias("lm"), "cent_id", "pdist")
    ex = (codes.join(residuals.select("vec_id", "list_id"), "vec_id")
          .select("vec_id", "list_id",
                  F.posexplode("codes").alias("m", "code")))
    # the LUT carries only probed (query, list) pairs, so this join IS
    # the candidate restriction — unprobed lists never match
    return _adc_topk(ex, lut, k,
                     on=(F.col("list_id") == F.col("ll"),),
                     key=F.col("lq").alias("query_id"))


def ivf_pq_topk(queries: DataFrame, vectors: DataFrame,
                coarse: DataFrame, codebooks: DataFrame, m: int,
                dim: int, nprobe: int = 2, k: int = 5) -> DataFrame:
    """IVF + PQ composed — the billion-scale search shape: every vector
    lives in the posting list of its nearest coarse centroid and is
    stored as M PQ codes; a query probes its ``nprobe`` nearest lists
    and ranks ONLY those lists' members by decode-free ADC distance.

    Plan: one kmeans_assign for list membership and one pq_encode
    (each one NumPy argmin kernel over a collected table, a
    shuffle-free projection), the probed (query, list) pairs and the
    per-query LUT both broadcast — the only page-proportional shuffles
    key on vec_id and (query, vec) within probed lists, i.e. the
    candidate set, never the corpus times queries.
    :func:`ivf_pq_residual_topk` is the residual-encoded variant
    (FAISS-IVFPQ semantics) behind the same shape — finer codes."""
    assigned = kmeans_assign(vectors, coarse) \
        .select("vec_id", F.col("cent_id").alias("list_id"))
    codes = pq_encode(vectors, codebooks, m, dim)
    probed = _probed_lists(queries, coarse, nprobe) \
        .select("query_id", "list_id")
    lut = _lut(queries, codebooks, "qvec", dim // m).select(
        F.col("query_id").alias("lq"), F.col("m").alias("lm"), "cent_id",
        "pdist")
    ex = (codes.join(assigned, "vec_id")
          .select("vec_id", "list_id",
                  F.posexplode("codes").alias("m", "code")))
    cand = ex.join(F.broadcast(probed), "list_id")
    return _adc_topk(cand, lut, k,
                     on=(F.col("query_id") == F.col("lq"),))
