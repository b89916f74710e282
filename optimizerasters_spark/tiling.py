"""The tile grid, defined once, and pyramid-level math with exact
reference parity.

The grid: a declared world raster of ``WORLD_W`` x ``WORLD_H`` pixels
over the millidegree domain (pages.py), a point's pixel given by
:func:`pixel_cols` (inverse :func:`lonlat_md_cols`), cut into
``BLOCK_SIZE`` x ``BLOCK_SIZE`` level-0 tiles. Every operator that
places a point on the grid (tile assignment, the raster bins and their
centroids, the tile manifest, the encoder's block size) reads these
constants.

Semantics derived from the reference (studied, not copied):
  * block/tile size 512 — OptimizeRasters.py:3844 (CCFG_BLOCK_SIZE),
    Templates/Imagery_to_MRF_LERC.xml:34 (<BlockSize>512).
  * pyramid level sequence — GDALInfo.pyramidLevels, OptimizeRasters.py:1400-1427:
      value  = max(w, h) / bs            (float division)
      levels = int(2 ** ceil(log2(value)))
      steps  = ASCENDING doubling sequence "2 4 8 …" (gdaladdo level list);
               empty → default "2".

Everything here is either a pure function (unit-golden-tested) or a Catalyst
column expression (so constant folding / whole-stage codegen apply). No UDFs.
"""

from __future__ import annotations

import math

from pyspark.sql import Column
from pyspark.sql import functions as F

BLOCK_SIZE = 512  # CCFG_BLOCK_SIZE, OptimizeRasters.py:3844
# World raster extent (pixels). max(W,H)/512 = 1024 -> 10 pyramid levels.
WORLD_W = 524288  # 2^19
WORLD_H = 262144  # 2^18
DEFAULT_PYRAMID_FACTOR = "2"  # CDEFPYRAMID_LEV, OptimizeRasters.py:1417

# Packing constants for 2-D tile ids into one BIGINT join/shuffle key.
CELL_Y_BITS = 29
CELL_Y_SPAN = 1 << CELL_Y_BITS


# ---------------------------------------------------------------------------
# Pure-Python goldens (the contract the Spark expressions must match)
# ---------------------------------------------------------------------------

def pyramid_levels_str(width: int, height: int,
                       block_size: int = BLOCK_SIZE) -> str:
    """Reference-parity pyramid factor string (OptimizeRasters.py:1400-1427).

    Examples: (40000, 512) -> "2 4 8 16 32 64 128"; (512, 512) -> "2";
    (256, 512) -> "2" (ratio < 1 collapses to the default).
    """
    if not width or not height:
        return ""
    value = max(width, height) / block_size
    if value <= 0:
        return ""
    levels = int(2 ** math.ceil(math.log(value, 2)))
    steps: list[str] = []
    while levels >= 2:
        steps.insert(0, str(levels))
        levels >>= 1
    return " ".join(steps) if steps else DEFAULT_PYRAMID_FACTOR


def pyramid_top_factor(width: int, height: int,
                       block_size: int = BLOCK_SIZE) -> int:
    """Largest factor in the sequence (2 when the image fits in one block)."""
    s = pyramid_levels_str(width, height, block_size)
    return int(s.split(" ")[-1]) if s else 0


def pyramid_num_levels(width: int, height: int) -> int:
    """Number of overview levels = log2(top factor)."""
    top = pyramid_top_factor(width, height)
    return top.bit_length() - 1 if top else 0


def tile_of(px: int) -> int:
    """Level-0 tile ordinal for a pixel coordinate (BLOCKSIZE grid,
    OptimizeRasters.py:3992-3998 creation options)."""
    return px // BLOCK_SIZE


def level_up(tile: int, levels: int = 1) -> int:
    """Parent tile at ``levels`` above (2x2 reduction per level, as in
    gdaladdo halving — OptimizeRasters.py:5060-5143)."""
    return tile >> levels


def pack_cell(x: int, y: int) -> int:
    """Pack (x, y) tile coords into one BIGINT key."""
    return x * CELL_Y_SPAN + y


# ---------------------------------------------------------------------------
# Catalyst column expressions (no UDFs; fold into whole-stage codegen)
# ---------------------------------------------------------------------------

def pixel_cols() -> tuple[Column, Column]:
    """(px_x, px_y): the world-raster pixel of a row's (lon_md, lat_md),
    floor(lon_md * WORLD_W / 360000) and floor(lat_md * WORLD_H /
    170000)."""
    return (F.floor(F.col("lon_md") * WORLD_W / 360000),
            F.floor(F.col("lat_md") * WORLD_H / 170000))


def lonlat_md_cols(px_x: Column, px_y: Column) -> tuple[Column, Column]:
    """The inverse of :func:`pixel_cols`: the (lon_md, lat_md) of a
    world-raster pixel position, floored."""
    return (F.floor(px_x * 360000 / WORLD_W),
            F.floor(px_y * 170000 / WORLD_H))


def pyramid_top_factor_col(width: Column, height: Column,
                           block_size: Column) -> Column:
    """Column twin of :func:`pyramid_top_factor`.

    2^ceil(log2(max(w,h)/bs)) when ratio > 1, else 2 (default), as BIGINT.
    ``int(2**ceil(log2(v)))`` for v<=1 yields 0 or 1 -> empty sequence ->
    default "2"; we encode that collapse directly.
    """
    ratio = F.greatest(width, height) / block_size
    raw = F.pow(F.lit(2.0), F.ceil(F.log2(ratio)))
    return F.when(raw >= 2, raw.cast("bigint")).otherwise(F.lit(2).cast("bigint"))


def pyramid_factors_col(width: Column, height: Column,
                        block_size: Column) -> Column:
    """Column twin of :func:`pyramid_levels_str`: the descending halving
    sequence as a space-joined string, e.g. "2 4 8 16"."""
    top = pyramid_top_factor_col(width, height, block_size)
    n = F.log2(top).cast("int")  # number of levels; top is an exact 2^n
    # sequence(1, n) -> [1, ..., n]; factor = 2^i (ascending, reference order)
    factors = F.transform(
        F.sequence(F.lit(1), n),
        lambda i: F.pow(F.lit(2.0), i).cast("bigint").cast("string"),
    )
    return F.array_join(factors, " ")


def pack_cell_col(x: Column, y: Column) -> Column:
    return (x.cast("bigint") * F.lit(CELL_Y_SPAN) + y.cast("bigint"))
