"""Tile-manifest sink rows (SURVEY.md §2.1 S13, §2.8 X9, §2.4 A3).

The reference edits MRF XML proxies per output raster (UpdateMRF.update,
OptimizeRasters.py:1558-1734) and flushes an ``ObjectID;Raster`` CSV
(:7116-7131). Here manifests are STRUCTURED ROWS: one per materialized
tile, carrying the grid/pyramid parameters (BlockSize 512 — :3844;
UNIFORM_SCALE default 2, Landsat 3 — :4066-4068) and a deterministic
source URI. A ``to_json(struct(...))`` column stands in for the XML body.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from optimizerasters_spark.operators import windows
from optimizerasters_spark.tiling import BLOCK_SIZE

SCALE = 2   # UNIFORM_SCALE default, OptimizeRasters.py:4066-4068


def tile_manifest(tile_counts: DataFrame, output_prefix: str = "tiles"
                  ) -> DataFrame:
    """tile_counts: (level, tile_x, tile_y, page_count) ->
    manifest rows (tile_id, level, tile_x, tile_y, page_count, blocksize,
    scale, source_uri, manifest_json)."""
    tile_id = F.concat(F.lit("L"), F.col("level").cast("string"),
                       F.lit("/"), F.col("tile_x").cast("string"),
                       F.lit("/"), F.col("tile_y").cast("string"))
    uri = F.concat(F.lit(output_prefix + "/"), tile_id, F.lit(".mrf"))
    out = (tile_counts
           .withColumn("tile_id", tile_id)
           .withColumn("blocksize", F.lit(BLOCK_SIZE).cast("int"))
           .withColumn("scale", F.lit(SCALE).cast("int"))
           .withColumn("source_uri", uri))
    return out.withColumn(
        "manifest_json",
        F.to_json(F.struct("tile_id", "level", "tile_x", "tile_y",
                           "page_count", "blocksize", "scale",
                           "source_uri")))


def with_cache_paths(manifest: DataFrame, cache_prefix: str = "cache",
                     compression: str | None = None) -> DataFrame:
    """Raster-proxy cache-path rewrite (UpdateMRF.update,
    OptimizeRasters.py:1558-1734): every proxy points DataFile/IndexFile
    at a cache location ``<cache_prefix>/<tile dir>/<stem>.mrf_cache``.
    For LERC payloads the data/index split into ``.lrc`` / ``.idx``
    (extensions_lup :1685-1688); otherwise both columns equal the cache
    path. Pure projection — folds into whatever stage emits the
    manifest."""
    cache = F.concat(F.lit(cache_prefix + "/"), F.col("tile_id"),
                     F.lit(".mrf_cache"))
    if compression == "lerc":
        data_file = F.concat(F.lit(cache_prefix + "/"), F.col("tile_id"),
                             F.lit(".lrc"))
        index_file = F.concat(F.lit(cache_prefix + "/"), F.col("tile_id"),
                              F.lit(".idx"))
    else:
        data_file = index_file = cache
    return (manifest
            .withColumn("cache_path", cache)
            .withColumn("data_file", data_file)
            .withColumn("index_file", index_file))


def proxy_csv_rows(manifest: DataFrame, id_offset: int = 0) -> DataFrame:
    """S13: the ``ObjectID;Raster`` flattened form, one row per tile.
    Deterministic dense object ids equal to ROW_NUMBER() OVER (ORDER BY
    tile_id) + ``id_offset``: a running count from
    ``windows.running_sum``, so no partition-less Window sorts the full
    manifest (billions of tiles at 100x) on one reducer, and its jobs
    fire when this DataFrame is built."""
    keyed = manifest.select("tile_id", "source_uri")
    return (windows.running_sum(keyed, ["tile_id"], F.lit(1))
            .withColumn("object_id",
                        (F.col("_cum") + id_offset).cast("bigint"))
            .select("object_id",
                    F.concat_ws(";", F.col("object_id").cast("string"),
                                F.col("source_uri")).alias("csv_row")))
