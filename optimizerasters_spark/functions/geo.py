"""Vectorized Arrow/pandas geo functions (BASELINE.json input_hint: all
per-row compute via vectorized pandas UDFs — never row-at-a-time Python).

Two interchangeable implementations of the hierarchical cell encoder:

  * ``cell_encode_col`` — pure Catalyst column expression (preferred:
    whole-stage codegen, zero Python), packed by
    ``tiling.pack_cell_col``, the one home of the cell-key format.
  * ``cell_encode_udf`` — @pandas_udf over numpy int64 arrays (the Arrow
    path). This is where a REAL H3/S2 encoder (h3.latlng_to_cell
    vectorized) plugs in unchanged; the container has no h3 lib, so the
    grid formula doubles as the deterministic stand-in.

A golden test asserts both produce identical cells, which is the whole
point: the UDF boundary is schema- and semantics-compatible with the
codegen path, so swapping in h3 later cannot silently change the plan
shape.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from optimizerasters_spark import tiling


def cell_encode_col(lon_md: Column, lat_md: Column, res_cells: int
                    ) -> Column:
    """Pack (lon, lat) millidegrees into a cell id at a resolution of
    ``res_cells`` columns across the 360-degree domain. JVM-side."""
    return tiling.pack_cell_col(F.floor(lon_md * res_cells / 360000),
                                F.floor(lat_md * res_cells / 360000))


def make_cell_encode_udf(res_cells: int):
    """Arrow-vectorized twin of cell_encode_col (numpy batch math)."""

    @pandas_udf("bigint")
    def cell_encode(lon_md: pd.Series, lat_md: pd.Series) -> pd.Series:
        cx = (lon_md.astype("int64") * res_cells) // 360000
        cy = (lat_md.astype("int64") * res_cells) // 360000
        return cx * tiling.CELL_Y_SPAN + cy

    return cell_encode


def make_convex_pip_udf():
    """Arrow-vectorized twin of spatial._inside_convex: point-in-convex-
    polygon by the all-edges cross-product test over numpy batches.
    Takes the vertex coordinates as two bigint ARRAYS (fixed ring order,
    CCW) so each Arrow batch stacks into one (rows x nverts) int64
    matrix — no per-row Python objects. This is the slot an arbitrary-
    ring refiner (shapely STRtree per batch) plugs into; the twin test
    asserting UDF == Catalyst forall keeps the boundary value-exact."""

    @pandas_udf("boolean")
    def inside_convex(lon_md: pd.Series, lat_md: pd.Series,
                      vx: pd.Series, vy: pd.Series) -> pd.Series:
        import numpy as np
        X = np.stack(vx.to_numpy())          # (rows, nverts) int64
        Y = np.stack(vy.to_numpy())
        px = lon_md.to_numpy()[:, None]
        py = lat_md.to_numpy()[:, None]
        Xn, Yn = np.roll(X, -1, axis=1), np.roll(Y, -1, axis=1)
        cross = (Xn - X) * (py - Y) - (Yn - Y) * (px - X)
        return pd.Series((cross >= 0).all(axis=1))

    return inside_convex


def make_ring_pip_udf():
    """Arrow-vectorized twin of spatial._inside_ring: even-odd ray cast
    over ARBITRARY simple rings in one numpy batch — (rows x nverts)
    int64 matrices, no per-row Python. This is the exact slot a
    shapely/GEOS `contains` swaps into (shapely.vectorized / STRtree
    per batch); the twin test asserting UDF == Catalyst filter+size
    keeps the boundary value-exact so the swap cannot drift
    semantics."""

    @pandas_udf("boolean")
    def inside_ring(lon_md: pd.Series, lat_md: pd.Series,
                    vx: pd.Series, vy: pd.Series) -> pd.Series:
        import numpy as np
        X = np.stack(vx.to_numpy())          # (rows, nverts) int64
        Y = np.stack(vy.to_numpy())
        px = lon_md.to_numpy()[:, None]
        py = lat_md.to_numpy()[:, None]
        Xn, Yn = np.roll(X, -1, axis=1), np.roll(Y, -1, axis=1)
        straddle = (Y > py) != (Yn > py)
        cross = (Xn - X) * (py - Y) - (Yn - Y) * (px - X)
        right = np.where(Yn > Y, cross > 0, cross < 0)
        return pd.Series(((straddle & right).sum(axis=1) % 2) == 1)

    return inside_ring

