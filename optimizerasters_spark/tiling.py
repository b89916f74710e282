"""Tile-grid + pyramid-level math with exact reference parity.

Semantics derived from the reference (studied, not copied):
  * block/tile size default 512 — OptimizeRasters.py:3844 (CCFG_BLOCK_SIZE),
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

DEFAULT_BLOCK_SIZE = 512
DEFAULT_PYRAMID_FACTOR = "2"  # CDEFPYRAMID_LEV, OptimizeRasters.py:1417

# Packing constants for 2-D tile ids into one BIGINT join/shuffle key.
CELL_Y_BITS = 29
CELL_Y_SPAN = 1 << CELL_Y_BITS


# ---------------------------------------------------------------------------
# Pure-Python goldens (the contract the Spark expressions must match)
# ---------------------------------------------------------------------------

def pyramid_levels_str(width: int, height: int,
                       block_size: int = DEFAULT_BLOCK_SIZE) -> str:
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
                       block_size: int = DEFAULT_BLOCK_SIZE) -> int:
    """Largest factor in the sequence (2 when the image fits in one block)."""
    s = pyramid_levels_str(width, height, block_size)
    return int(s.split(" ")[-1]) if s else 0


def pyramid_num_levels(width: int, height: int,
                       block_size: int = DEFAULT_BLOCK_SIZE) -> int:
    """Number of overview levels = log2(top factor)."""
    top = pyramid_top_factor(width, height, block_size)
    return top.bit_length() - 1 if top else 0


def tile_of(px: int, block_size: int = DEFAULT_BLOCK_SIZE) -> int:
    """Level-0 tile ordinal for a pixel coordinate (BLOCKSIZE grid,
    OptimizeRasters.py:3992-3998 creation options)."""
    return px // block_size


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
