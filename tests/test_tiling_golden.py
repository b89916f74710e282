"""Golden tests for the reference-parity pyramid/tile math
(GDALInfo.pyramidLevels semantics, OptimizeRasters.py:1400-1427; 512 block
grid :3844)."""

from __future__ import annotations

import pytest

from optimizerasters_spark import tiling


# (width, height, blocksize) -> expected factor string (FIXTURES.md T3)
GOLDENS = [
    (40000, 512, 512, "2 4 8 16 32 64 128"),   # 78.125 rounds UP to 2^7 (ascending gdaladdo order)
    (512, 512, 512, "2"),                      # ratio 1 -> empty -> default
    (256, 256, 512, "2"),                      # ratio < 1 -> default
    (511, 511, 512, "2"),
    (513, 512, 512, "2"),                      # 1.002 -> 2^1
    (1024, 1024, 512, "2"),                    # exactly 2 -> "2"
    (1025, 512, 512, "2 4"),                   # 2.002 -> 2^2
    (1500, 1500, 512, "2 4"),
    (4096, 4096, 512, "2 4 8"),
    (1, 40000, 512, "2 4 8 16 32 64 128"),     # max() of the two dims
    (4096, 4096, 256, "2 4 8 16"),
    (4096, 4096, 1024, "2 4"),
    (524288, 262144, 512, "2 4 8 16 32 64 128 256 512 1024"),  # world raster
]


@pytest.mark.parametrize("w,h,bs,want", GOLDENS)
def test_pyramid_levels_str(w, h, bs, want):
    assert tiling.pyramid_levels_str(w, h, bs) == want


def test_top_factor_and_num_levels():
    assert tiling.pyramid_top_factor(40000, 512) == 128
    assert tiling.pyramid_num_levels(40000, 512) == 7
    assert tiling.pyramid_top_factor(512, 512) == 2
    assert tiling.pyramid_num_levels(256, 256) == 1


def test_tile_of_and_level_up():
    assert tiling.tile_of(0) == 0
    assert tiling.tile_of(511) == 0
    assert tiling.tile_of(512) == 1
    assert tiling.tile_of(1023) == 1
    assert tiling.level_up(7, 1) == 3
    assert tiling.level_up(7, 2) == 1
    assert tiling.level_up(1023, 10) == 0


def test_spark_column_exprs_match_python(spark):
    """The Catalyst expressions must agree with the pure goldens."""
    from pyspark.sql import functions as F

    rows = [(w, h, bs) for (w, h, bs, _) in GOLDENS]
    df = spark.createDataFrame(rows, "w INT, h INT, bs INT")
    out = df.select(
        "w", "h", "bs",
        tiling.pyramid_top_factor_col(F.col("w"), F.col("h"), F.col("bs"))
            .alias("top"),
        tiling.pyramid_factors_col(F.col("w"), F.col("h"), F.col("bs"))
            .alias("factors"),
    ).collect()
    for r in out:
        assert r["factors"] == tiling.pyramid_levels_str(r["w"], r["h"], r["bs"]), \
            (r["w"], r["h"], r["bs"])
        assert r["top"] == tiling.pyramid_top_factor(r["w"], r["h"], r["bs"])


def test_pack_cell_roundtrip(spark):
    from pyspark.sql import functions as F
    df = spark.createDataFrame([(0, 0), (1023, 511), (5, 7)], "x INT, y INT")
    got = df.select(tiling.pack_cell_col(F.col("x"), F.col("y")).alias("c"),
                    "x", "y").collect()
    for r in got:
        assert r["c"] == tiling.pack_cell(r["x"], r["y"])


def test_pyramid_resample_iterative_differs_from_single_jump(spark):
    """The average resampler is NON-associative under integer floors:
    level-by-level (gdaladdo's chain) can floor away mass a single jump
    from level 0 would keep — this fixture yields 0 iteratively but 1
    as a one-shot mean, proving the iteration is load-bearing. Nearest
    picks the top-left (min (y,x)) present child."""
    from pyspark.sql import functions as F
    from optimizerasters_spark.operators import spatial

    # 4 quads of 4 tiles: three quads hold a single 3, the last a 7
    rows = []
    for q, (qx, qy) in enumerate([(0, 0), (1, 0), (0, 1), (1, 1)]):
        rows.append((qx * 2, qy * 2, 7 if q == 3 else 3))
        for dx, dy in ((1, 0), (0, 1), (1, 1)):
            rows.append((qx * 2 + dx, qy * 2 + dy, 0))
    l0 = spark.createDataFrame(rows, "tile_x INT, tile_y INT, val BIGINT")
    out = spatial.pyramid_reduce_iterative(l0, 2)
    l2 = out.where(F.col("level") == 2).collect()
    assert len(l2) == 1
    assert l2[0]["avg_val"] == 0          # floor(floor-chain) loses mass
    assert sum(r[2] for r in rows) // 16 == 1  # one-jump mean keeps it
    # nearest at level 1: each quad's top-left child value survives
    l1 = {(r["tile_x"], r["tile_y"]): r["near_val"]
          for r in out.where(F.col("level") == 1).collect()}
    assert l1 == {(0, 0): 3, (1, 0): 3, (0, 1): 3, (1, 1): 7}


def test_bin_centroids_round_trip_to_their_own_bin(spark, sf_dir):
    """Raster and spatial share one grid (tiling.py): every bin centroid
    vectorize_tiles emits, assigned again by with_tiles and with_bins,
    lands in its own (tile_x, tile_y, bin)."""
    from pyspark.sql import functions as F
    from optimizerasters_spark.operators import raster, spatial
    from optimizerasters_spark.pages import synth_pages

    cents = raster.vectorize_tiles(spatial.with_tiles(synth_pages(spark,
                                                                  sf_dir)))
    back = raster.with_bins(spatial.with_tiles(cents.select(
        F.col("tile_x").alias("_tx"), F.col("tile_y").alias("_ty"),
        F.col("bin").alias("_bin"),
        F.col("centroid_lon_md").alias("lon_md"),
        F.col("centroid_lat_md").alias("lat_md"))))
    row = back.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(((F.col("tile_x") != F.col("_tx")) |
               (F.col("tile_y") != F.col("_ty")) |
               (F.col("bin") != F.col("_bin"))).cast("int"))
        .alias("misses")).first()
    assert row["n"] > 0
    assert row["misses"] == 0


def test_every_bin_centroid_maps_back_to_its_bin():
    """The same round trip in integers over the whole world raster:
    each bin centre's floored millidegree coordinate projects back into
    its own tile and bin, on both axes."""
    from optimizerasters_spark.operators.raster import BINS

    bs, step = tiling.BLOCK_SIZE, tiling.BLOCK_SIZE // BINS
    for world, md in ((tiling.WORLD_W, 360000), (tiling.WORLD_H, 170000)):
        for t in range(world // bs):
            for b in range(BINS):
                px = t * bs + b * step + step // 2
                back = (px * md // world) * world // md
                assert (back // bs, (back - t * bs) * BINS // bs) == (t, b)
