"""Raster <-> vector tile materialization (north_rule requirement).

The reference's raster payload work happens inside GDAL; what the ENGINE
owns is the tiling discretization and per-tile assembly. Re-imagined for
page tables:

  * vector -> raster (``rasterize_tiles``): pages land in a 512-grid
    tile; within the tile a BINS x BINS sub-grid accumulates page counts
    -> one dense row per tile carrying the full grid (the "pixel block").
    Two aggregations, both map-side combinable; the dense fill uses an
    explode over plan-time bin ids, never per-row Python.
  * raster -> vector (``vectorize_tiles``): threshold the per-bin counts
    back into point features at bin-centroid coordinates — the classic
    raster-polygonize/centroid extraction, as pure column arithmetic.

A real pixel payload (binary tiles) would flow the same plan with the
bin histogram swapped for a pandas-UDF decode (operators/multimodal.py
shows that plumbing); the partitioning, keys, and outputs are identical.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from optimizerasters_spark.tiling import BLOCK_SIZE, lonlat_md_cols, \
    pixel_cols

BINS = 16  # sub-grid per 512-tile (16x16 bins of 32px)


def with_bins(pages_with_tiles: DataFrame) -> DataFrame:
    """bin id in [0, BINS*BINS) from the within-tile pixel offset."""
    px_x, px_y = pixel_cols()
    off_x = px_x - F.col("tile_x").cast("bigint") * BLOCK_SIZE
    off_y = px_y - F.col("tile_y").cast("bigint") * BLOCK_SIZE
    bx = F.floor(off_x * BINS / BLOCK_SIZE)
    by = F.floor(off_y * BINS / BLOCK_SIZE)
    return pages_with_tiles.withColumn(
        "bin", (by * BINS + bx).cast("int"))


def tile_bin_counts(pages_with_tiles: DataFrame) -> DataFrame:
    """Long form: (tile_x, tile_y, bin, n) — the sparse raster."""
    return (with_bins(pages_with_tiles)
            .groupBy("tile_x", "tile_y", "bin")
            .agg(F.count(F.lit(1)).alias("n")))


def rasterize_tiles(pages_with_tiles: DataFrame) -> DataFrame:
    """Dense form: one row per tile, ``grid_csv`` = BINS*BINS counts in
    bin order (zeros filled) — the materialized "pixel block".

    ONE aggregation: collect the sparse (bin, n) pairs per tile into a
    map, then expand ``transform(sequence(0, BINS*BINS-1))`` with a map
    lookup (missing bin -> 0). The previous shape exploded a dense bin id
    per tile and re-joined + re-aggregated — an extra BINS*BINS-row
    intermediate and a second shuffle for the same result."""
    sparse = tile_bin_counts(pages_with_tiles)
    bin_map = F.map_from_entries(
        F.collect_list(F.struct(F.col("bin"), F.col("n"))))
    dense_counts = F.transform(
        F.sequence(F.lit(0), F.lit(BINS * BINS - 1)),
        lambda i: F.coalesce(F.try_element_at(F.col("_m"), i), F.lit(0)))
    return (sparse.groupBy("tile_x", "tile_y")
            .agg(bin_map.alias("_m"), F.sum("n").alias("page_count"))
            .select("tile_x", "tile_y",
                    F.array_join(
                        F.transform(dense_counts,
                                    lambda n: n.cast("string")), ",")
                    .alias("grid_csv"),
                    "page_count"))


def vectorize_tiles(pages_with_tiles: DataFrame, threshold: int = 1
                    ) -> DataFrame:
    """raster -> vector: bins with n >= threshold become point features
    at the bin centroid (millidegrees). Inverse of the discretization up
    to bin resolution."""
    sparse = tile_bin_counts(pages_with_tiles)
    feats = sparse.where(F.col("n") >= threshold)
    bx = F.col("bin") % BINS
    by = F.floor(F.col("bin") / BINS)
    px_x = (F.col("tile_x").cast("bigint") * BLOCK_SIZE +
            bx * (BLOCK_SIZE / BINS) + (BLOCK_SIZE / BINS) / 2)
    px_y = (F.col("tile_y").cast("bigint") * BLOCK_SIZE +
            by * (BLOCK_SIZE / BINS) + (BLOCK_SIZE / BINS) / 2)
    lon_md, lat_md = lonlat_md_cols(px_x, px_y)
    return feats.select(
        "tile_x", "tile_y", "bin",
        F.col("n").cast("bigint").alias("n"),
        lon_md.cast("bigint").alias("centroid_lon_md"),
        lat_md.cast("bigint").alias("centroid_lat_md"))
