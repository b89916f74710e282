"""Hot-cell skew handling: salted two-phase aggregation and salted joins.

The input's urban H3/tile cells hold orders of magnitude more pages than
the median cell (the synth injects 20 % of rows into 3 centers). The
reference's only sharding device was the hashkey path split
(insertUserTextToOutputPath, OptimizeRasters.py:1036-1063, F7) — one
random/md5 path segment. Here:

  * counts/sums: Spark's map-side partial aggregation already neutralizes
    per-cell count skew; nothing to do (asserted in tests).
  * non-combinable aggs (collect of pages per cell, per-cell sampling):
    SALT = pmod(hash(url), nsalt) appended to the key, partial per
    (cell, salt), final per cell — two small shuffles instead of one
    skewed one.
  * skewed shuffle joins: AQE skew-join splitting is on
    (spark.sql.adaptive.skewJoin.enabled); salted_join covers the
    deterministic-plan case by replicating the small side nsalt times.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def with_salt(df: DataFrame, key_col: str = "url",
              nsalt: int = 16) -> DataFrame:
    """Deterministic salt in [0, nsalt): pmod(xxhash64(key), nsalt)."""
    return df.withColumn(
        "salt", F.pmod(F.xxhash64(F.col(key_col)), F.lit(nsalt)).cast("int"))


def salted_collect_per_cell(pages: DataFrame, cell_cols: list[str],
                            payload_col: str, nsalt: int = 16
                            ) -> DataFrame:
    """collect_list per cell without a skewed single-reducer:
    phase 1 collects per (cell, salt); phase 2 flattens the nsalt partial
    lists per cell (sorted, so the result is deterministic)."""
    salted = with_salt(pages, payload_col, nsalt)
    p1 = (salted.groupBy(*cell_cols, "salt")
          .agg(F.sort_array(F.collect_list(payload_col)).alias("part")))
    return (p1.groupBy(*cell_cols)
            .agg(F.sort_array(F.flatten(F.collect_list("part")))
                 .alias("payloads")))


def salted_join(big: DataFrame, small: DataFrame, key: str,
                nsalt: int = 16) -> DataFrame:
    """Skew-proof equi-join: salt the big side, explode the small side
    across all salt values, join on (key, salt). Use when the small side
    is too large to broadcast and the key distribution is known-skewed;
    otherwise prefer broadcast or AQE skew-join.

    The salt MUST vary WITHIN a join key (a hot key's rows must spread
    across buckets), so it is derived from every non-key column of the
    big side — hashing the join key itself would put each key's rows in
    one bucket and provide zero skew relief. The salt never changes the
    result: the small side is replicated across all nsalt values, so
    (key, salt) matches exactly where key matches."""
    salt_cols = [c for c in big.columns if c != key]
    if not salt_cols:  # degenerate: key-only relation; any spread works
        salt_cols = [key]
    b = big.withColumn(
        "salt",
        F.pmod(F.xxhash64(*[F.col(c) for c in salt_cols]),
               F.lit(nsalt)).cast("int"))
    s = small.withColumn(
        "salt",
        F.explode(F.array(*[F.lit(i).cast("int") for i in range(nsalt)])))
    return b.join(s, [key, "salt"]).drop("salt")


def salted_topk_per_group(df: DataFrame, group_cols: list[str],
                          order_col: str, tiebreak_col: str, k: int,
                          nsalt: int = 16) -> DataFrame:
    """Per-group top-k that survives a few HUGE groups: phase 1 ranks
    within (group, salt) and keeps each salt bucket's local top-k (a
    group's global top-k is always a subset of the union of its per-salt
    top-ks), phase 2 ranks the surviving k*nsalt rows per group. The
    single-window-per-group form sorts a hot group's entire row set on
    one reducer; here no task ever sorts more than a salt bucket, and
    phase 2 sees at most k*nsalt rows per group. Identical results to
    the plain window (descending order, ties -> ascending tiebreak)."""
    from pyspark.sql.window import Window
    salted = df.withColumn(
        "salt",
        F.pmod(F.xxhash64(F.col(tiebreak_col)), F.lit(nsalt)).cast("int"))
    w1 = Window.partitionBy(*group_cols, "salt").orderBy(
        F.col(order_col).desc(), F.col(tiebreak_col).asc())
    local = (salted.withColumn("_r1", F.row_number().over(w1))
             .where(F.col("_r1") <= k).drop("_r1", "salt"))
    w2 = Window.partitionBy(*group_cols).orderBy(
        F.col(order_col).desc(), F.col(tiebreak_col).asc())
    return (local.withColumn("rnk", F.row_number().over(w2))
            .where(F.col("rnk") <= k))


def cell_histogram(pages_with_tiles: DataFrame) -> DataFrame:
    """Skew diagnostic: per-(tile_x, tile_y) counts + global skew
    ratio.

    Exact interpolated median here (oracle-checkable;
    ``percentile_approx`` swaps in plan-compatibly at 10^12 rows — one
    pass either way, the stats row stays a 1-row broadcast). The ratio
    is also emitted in floored micro-units so downstream thresholds are
    integer-exact across engines."""
    counts = (pages_with_tiles.groupBy("tile_x", "tile_y")
              .agg(F.count(F.lit(1)).alias("n")))
    stats = counts.agg(F.max("n").alias("max_n"),
                       F.expr("percentile(n, 0.5)").alias("median_n"))
    return (counts.crossJoin(F.broadcast(stats))
            .withColumn("skew_ratio", F.col("n") / F.col("median_n"))
            .withColumn("skew_ratio_micro",
                        F.floor(F.col("n") * 1000000 / F.col("median_n"))
                        .cast("bigint")))
