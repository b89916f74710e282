"""Deterministic synthesis of the `pages` input table (FIXTURES.md T1) and
`boundaries` polygon dimension (T2) from the driver-provided `documents`
parquet, plus the matching DuckDB oracle CTEs.

Per BASELINE.json input_hint the engine's input is a table
(url, warc_ts, html, text, lang); the spatial columns (lon/lat) are the
synthetic "geoparse". Everything is integer arithmetic on ``doc_id``
(millidegree domain) so Spark and DuckDB derive bit-identical values —
no float constants, no hash-function dialect drift.

Coordinate model (millidegrees, integer):
  lon_md in [0, 360000)  — lon = -180 + lon_md/1000
  lat_md in [0, 170000)  — measured from the NORTH (top): lat = 85 - lat_md/1000
  px_x = floor(lon_md * W / 360000), px_y = floor(lat_md * H / 170000)
This mirrors the reference's pixel->block discretization
(OptimizeRasters.py:3992-3998) with a declared world raster of W x H px
(tiling.WORLD_W x tiling.WORLD_H, the one grid definition).

Skew injector: 20 % of rows (doc_id % 5 == 0) snap to 3 fixed "urban"
centers +/- ~10 millidegrees — the hot-cell skew the engine must handle
with salting (SURVEY.md §4 item 2).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# Hot centers in the millidegree domain (NYC, Tokyo, Paris), lat from top.
HOT_LON_MD = (105994, 319692, 182352)
HOT_LAT_MD = (44287, 49310, 36143)

EPOCH0 = 1735689600  # 2025-01-01 00:00:00 UTC
YEAR_S = 31536000


def load_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def synth_pages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """pages: doc_id, url, warc_epoch, text, lang, lon_md, lat_md, html."""
    return _derive_pages(load_documents(spark, sf_dir))


def _replicated(spark: SparkSession, sf_dir: str,
                factor: int) -> tuple[DataFrame, int]:
    """``factor`` replicas of every document, doc_id renumbered to the
    replica id (replica ``doc_id // n`` of document ``doc_id % n``), and
    the document count n. spark.range + broadcast dim — natively
    parallel, no small-file bottleneck."""
    d = load_documents(spark, sf_dir)
    n = d.count()
    base = spark.range(n * factor).select(
        F.col("id").alias("new_id"), (F.col("id") % n).alias("doc_id"))
    return (base.join(F.broadcast(d), "doc_id").drop("doc_id")
            .withColumnRenamed("new_id", "doc_id")), n


def synth_docs_scaled(spark: SparkSession, sf_dir: str,
                      factor: int) -> DataFrame:
    """Bench-scale documents with a REALISTIC duplicate mix per family
    of ``factor`` replicas: replica 0 is the original, odd replicas are
    byte-exact copies (exercise the sha256 dedup), even replicas append
    a one-token suffix (near-dups for the LSH stage to find and the
    Jaccard verify to confirm)."""
    joined, n = _replicated(spark, sf_dir, factor)
    replica = F.floor(F.col("doc_id") / n).cast("bigint")
    return joined.withColumn(
        "text",
        F.when((replica > 0) & (replica % 2 == 0),
               F.concat(F.col("text"), F.lit(" r"),
                        replica.cast("string")))
         .otherwise(F.col("text")))


def synth_pages_scaled(spark: SparkSession, sf_dir: str,
                       factor: int) -> DataFrame:
    """Bench-scale pages: ``factor`` deterministic replicas per document.
    doc_id is the replica id, so every derived column (url, coords, ts)
    is unique and the hot-cell skew shape is preserved at any scale."""
    return _derive_pages(_replicated(spark, sf_dir, factor)[0])


def _derive_pages(d: DataFrame) -> DataFrame:
    i = F.col("doc_id")
    hot_sel = (i % 5) == 0
    hot_idx = F.floor(i / 5).cast("bigint") % 3

    def pick(vals: tuple[int, int, int]):
        return (F.when(hot_idx == 0, F.lit(vals[0]))
                 .when(hot_idx == 1, F.lit(vals[1]))
                 .otherwise(F.lit(vals[2])))

    lon_md = F.when(hot_sel, pick(HOT_LON_MD) + (i % 21) - 10) \
              .otherwise((i * 7919 + 17) % 360000)
    lat_md = F.when(hot_sel, pick(HOT_LAT_MD) + (i % 19) - 9) \
              .otherwise((i * 104729 + 13) % 170000)

    return d.select(
        i.alias("doc_id"),
        F.concat(F.lit("https://site"), (i % 997).cast("string"),
                 F.lit(".example/p/"), i.cast("string")).alias("url"),
        (F.lit(EPOCH0) + (i * 7919) % YEAR_S).cast("bigint").alias("warc_epoch"),
        F.col("text"),
        F.col("lang"),
        lon_md.cast("bigint").alias("lon_md"),
        lat_md.cast("bigint").alias("lat_md"),
        F.encode(F.concat(F.lit("<html><body>"), F.col("text"),
                          F.lit("</body></html>")), "UTF-8").alias("html"),
    )


# DuckDB twin of synth_pages (documents is a pre-registered view).
PAGES_CTE = """
pages AS (
  SELECT
    doc_id,
    'https://site' || CAST(doc_id % 997 AS VARCHAR) || '.example/p/'
        || CAST(doc_id AS VARCHAR) AS url,
    CAST(1735689600 + (doc_id * 7919) % 31536000 AS BIGINT) AS warc_epoch,
    text,
    lang,
    CAST(CASE WHEN doc_id % 5 = 0 THEN
      (CASE (doc_id // 5) % 3 WHEN 0 THEN 105994 WHEN 1 THEN 319692
            ELSE 182352 END) + (doc_id % 21) - 10
    ELSE (doc_id * 7919 + 17) % 360000 END AS BIGINT) AS lon_md,
    CAST(CASE WHEN doc_id % 5 = 0 THEN
      (CASE (doc_id // 5) % 3 WHEN 0 THEN 44287 WHEN 1 THEN 49310
            ELSE 36143 END) + (doc_id % 19) - 9
    ELSE (doc_id * 104729 + 13) % 170000 END AS BIGINT) AS lat_md
  FROM documents
)
"""

# ---------------------------------------------------------------------------
# boundaries (FIXTURES.md T2): 190 disjoint base boxes tiling ~95 % of the
# lon domain (pages with lon_md >= 342000 match nothing -> left-join null
# test) + 20 large overlapping boxes (multi-match test). Millidegree,
# half-open [lo, lo+span).
# ---------------------------------------------------------------------------

N_BASE = 190          # 19 cols x 10 rows of 18000 x 17000 md boxes
N_POLY = 210
BASE_W_MD = 18000
BASE_H_MD = 17000
BIG_W_MD = 80000
BIG_H_MD = 50000


def synth_boundaries(spark: SparkSession) -> DataFrame:
    p = spark.range(N_POLY).select(F.col("id").cast("bigint").alias("polygon_id"))
    pid = F.col("polygon_id")
    base = pid < N_BASE
    lon_lo = F.when(base, (pid % 19) * BASE_W_MD) \
              .otherwise(((pid - N_BASE) % 5) * 60000)
    lat_lo = F.when(base, F.floor(pid / 19).cast("bigint") * BASE_H_MD) \
              .otherwise(F.floor((pid - N_BASE) / 5).cast("bigint") * 40000)
    return p.select(
        pid,
        F.concat(F.lit("admin_"), pid.cast("string")).alias("name"),
        lon_lo.cast("bigint").alias("lon_lo_md"),
        (lon_lo + F.when(base, F.lit(BASE_W_MD)).otherwise(F.lit(BIG_W_MD)))
            .cast("bigint").alias("lon_hi_md"),
        lat_lo.cast("bigint").alias("lat_lo_md"),
        (lat_lo + F.when(base, F.lit(BASE_H_MD)).otherwise(F.lit(BIG_H_MD)))
            .cast("bigint").alias("lat_hi_md"),
    )


# Convex integer hexagons for the exact-PIP join: vertex = center +
# offset * radius with a fixed CCW offset ring — integer coordinates, so
# the cross-product containment test is exact on any engine.
HEX_OFFSETS = [(2, 0), (1, 2), (-1, 2), (-2, 0), (-1, -2), (1, -2)]
N_HEX = 40


def synth_convex_polys(spark: SparkSession) -> DataFrame:
    p = spark.range(N_HEX).select(
        F.col("id").cast("bigint").alias("polygon_id"),
        ((F.col("id") % 8) * 45000 + 20000).cast("bigint").alias("cx"),
        (F.floor(F.col("id") / 8).cast("bigint") * 34000 + 17000)
            .alias("cy"),
        (3000 + (F.col("id") % 5) * 1500).cast("bigint").alias("r"))
    verts = F.array(*[
        F.struct((F.col("cx") + ox * F.col("r")).cast("bigint").alias("x"),
                 (F.col("cy") + oy * F.col("r")).cast("bigint").alias("y"))
        for ox, oy in HEX_OFFSETS])
    return p.select("polygon_id", verts.alias("vertices"))


# Non-convex (4-pointed star) integer rings for the arbitrary-ring PIP
# join: outer/inner vertices alternate, so every other vertex is a
# reflex corner — the even-odd ray cast is required, the convex
# all-edges test would be wrong. Same center grid as the hexagons.
RING_OFFSETS = [(3, 0), (1, 1), (0, 3), (-1, 1),
                (-3, 0), (-1, -1), (0, -3), (1, -1)]


def synth_ring_polys(spark: SparkSession) -> DataFrame:
    p = spark.range(N_HEX).select(
        F.col("id").cast("bigint").alias("polygon_id"),
        ((F.col("id") % 8) * 45000 + 20000).cast("bigint").alias("cx"),
        (F.floor(F.col("id") / 8).cast("bigint") * 34000 + 17000)
            .alias("cy"),
        (1000 + (F.col("id") % 5) * 500).cast("bigint").alias("r"))
    verts = F.array(*[
        F.struct((F.col("cx") + ox * F.col("r")).cast("bigint").alias("x"),
                 (F.col("cy") + oy * F.col("r")).cast("bigint").alias("y"))
        for ox, oy in RING_OFFSETS])
    return p.select("polygon_id", verts.alias("vertices"))


RING_POLYS_CTE = """
ringpolys AS (
  SELECT pid AS polygon_id,
    list_transform(
      [{'ox': 3, 'oy': 0}, {'ox': 1, 'oy': 1}, {'ox': 0, 'oy': 3},
       {'ox': -1, 'oy': 1}, {'ox': -3, 'oy': 0}, {'ox': -1, 'oy': -1},
       {'ox': 0, 'oy': -3}, {'ox': 1, 'oy': -1}],
      o -> {'x': cx + o.ox * r, 'y': cy + o.oy * r}) AS v
  FROM (SELECT CAST(pid AS BIGINT) AS pid,
               CAST((pid % 8) * 45000 + 20000 AS BIGINT) AS cx,
               CAST((pid // 8) * 34000 + 17000 AS BIGINT) AS cy,
               CAST(1000 + (pid % 5) * 500 AS BIGINT) AS r
        FROM generate_series(0, 39) t(pid)))
"""


HEX_POLYS_CTE = """
hexpolys AS (
  SELECT pid AS polygon_id,
    list_transform(
      [{'ox': 2, 'oy': 0}, {'ox': 1, 'oy': 2}, {'ox': -1, 'oy': 2},
       {'ox': -2, 'oy': 0}, {'ox': -1, 'oy': -2}, {'ox': 1, 'oy': -2}],
      o -> {'x': cx + o.ox * r, 'y': cy + o.oy * r}) AS v
  FROM (SELECT CAST(pid AS BIGINT) AS pid,
               CAST((pid % 8) * 45000 + 20000 AS BIGINT) AS cx,
               CAST((pid // 8) * 34000 + 17000 AS BIGINT) AS cy,
               CAST(3000 + (pid % 5) * 1500 AS BIGINT) AS r
        FROM generate_series(0, 39) t(pid)))
"""

BOUNDARIES_CTE = """
boundaries AS (
  SELECT
    CAST(pid AS BIGINT) AS polygon_id,
    'admin_' || CAST(pid AS VARCHAR) AS name,
    CAST(CASE WHEN pid < 190 THEN (pid % 19) * 18000
         ELSE ((pid - 190) % 5) * 60000 END AS BIGINT) AS lon_lo_md,
    CAST(CASE WHEN pid < 190 THEN (pid % 19) * 18000 + 18000
         ELSE ((pid - 190) % 5) * 60000 + 80000 END AS BIGINT) AS lon_hi_md,
    CAST(CASE WHEN pid < 190 THEN (pid // 19) * 17000
         ELSE ((pid - 190) // 5) * 40000 END AS BIGINT) AS lat_lo_md,
    CAST(CASE WHEN pid < 190 THEN (pid // 19) * 17000 + 17000
         ELSE ((pid - 190) // 5) * 40000 + 50000 END AS BIGINT) AS lat_hi_md
  FROM range(0, 210) t(pid)
)
"""

