"""Spatial operators: tile assignment, cell-cover point-in-polygon join,
radius-bounded kNN.

Scale notes (100 TB design):
  * tile/cell assignment is pure column arithmetic — no shuffle, folds into
    the scan stage (whole-stage codegen).
  * PIP join is the classic theta-join made EQUI by grid-cover
    discretization (the reference's pixel->512-block idea,
    OptimizeRasters.py:3992-3998): each polygon's bbox explodes on the
    executors into the coarse grid cells it covers, that cover table is
    BROADCAST, pages equi-join on their coarse cell, and the exact
    predicate refines. Pages never shuffle. One skeleton (_probe) serves
    every PIP form and the k-ring kNN.
  * kNN is radius-bounded: candidates = pages whose coarse cell is in the
    query point's k-ring (broadcast), then window row_number per query.
    Integer millidegree distances -> no float tie ambiguity.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.window import Window

from optimizerasters_spark import tiling

# Coarse cell resolution for cover joins (millidegree domain).
COVER_CELL_MD = 10000  # 10-degree-ish cells -> 36 x 17 grid
ZORDER_BITS = 16       # bits per coordinate in zorder_key


def with_tiles(pages: DataFrame) -> DataFrame:
    """Assign level-0 tile coords on the declared world raster
    (tiling.py's grid). Pure projection — no shuffle."""
    px_x, px_y = tiling.pixel_cols()
    block = tiling.BLOCK_SIZE
    return (pages
            .withColumn("tile_x", F.floor(px_x / block).cast("int"))
            .withColumn("tile_y", F.floor(px_y / block).cast("int")))


def tile_counts_at_levels(pages_with_tiles: DataFrame,
                          levels: list[int]) -> DataFrame:
    """Page counts per tile per pyramid level.

    Scale-first, two shuffles total regardless of level count:
      1. aggregate level 0 ONCE — the only shuffle proportional to page
         count (map-side partial combine does most of the work);
      2. explode the (tiny) level-0 tile table across the level list and
         re-aggregate with the per-level bit shift.
    gdaladdo's N-from-(N-1) iteration (OptimizeRasters.py:5060-5143) is
    semantically identical because counts are associative; a union of
    chained reductions would re-execute the shared prefix per branch."""
    return levels_from_l0(tile_counts_l0(pages_with_tiles), levels)


def tile_counts_l0(pages_with_tiles: DataFrame) -> DataFrame:
    """Level-0 tile counts — the ASSOCIATIVE base table: counts from
    disjoint page batches merge additively (union + re-sum), which is
    what makes the engine's finalize incremental."""
    return (pages_with_tiles
            .groupBy("tile_x", "tile_y")
            .agg(F.count(F.lit(1)).alias("page_count")))


def merge_l0(base: DataFrame, delta: DataFrame) -> DataFrame:
    """Additive merge of level-0 count tables (counts are associative).
    Shuffle is proportional to the TILE table, never to pages."""
    return (base.unionByName(delta)
            .groupBy("tile_x", "tile_y")
            .agg(F.sum("page_count").alias("page_count")))


def levels_from_l0(l0: DataFrame, levels: list[int]) -> DataFrame:
    """Explode the (tiny) level-0 tile table across the level list and
    re-aggregate with the per-level bit shift."""
    lv = F.explode(F.array(*[F.lit(int(x)) for x in sorted(levels)]))
    return (l0.select(lv.alias("level"), "tile_x", "tile_y", "page_count")
            .groupBy("level",
                     F.expr("shiftright(tile_x, level)").alias("tile_x"),
                     F.expr("shiftright(tile_y, level)").alias("tile_y"))
            .agg(F.sum("page_count").alias("page_count")))


def zorder_key(x, y) -> F.Column:
    """Morton/Z-order interleave of two non-negative grid coordinates
    (x bit b -> key bit 2b, y bit b -> key bit 2b+1) — the
    space-filling-curve sort key that makes RANGE partitioning
    spatially local: neighboring tiles land in the same file/partition,
    so bbox queries prune most of a 100 TB table instead of scanning
    it (the Iceberg/Delta 'z-ordering' layout lever, computed here as
    a pure column expression — literal shifts only, whole-stage
    codegen, no UDF)."""
    total = F.lit(0).cast("bigint")
    for b in range(ZORDER_BITS):
        total = (total
                 + F.shiftleft(F.shiftright(x, b).bitwiseAND(1)
                               .cast("bigint"), 2 * b)
                 + F.shiftleft(F.shiftright(y, b).bitwiseAND(1)
                               .cast("bigint"), 2 * b + 1))
    return total


def polyfill_ring(polys: DataFrame, res_md: int = 1000) -> DataFrame:
    """H3/S2-``polyfill`` analog on the integer millidegree grid:
    every res_md-cell whose CENTER lies inside the arbitrary simple
    ring, by the same pure-Catalyst even-odd ray cast as
    pip_join_ring. Candidate cells explode DISTRIBUTED from each
    polygon's vertex bbox (sequence + explode — never a driver loop),
    centers stay integer-exact (cell*res + res/2, res even). Output
    (polygon_id, cell_x, cell_y) — the materialized cover a tile job
    plans from; compact_cells shrinks it to the minimal multi-level
    form."""
    half = res_md // 2
    inside = _inside_ring(F.col("cell_x") * res_md + half,
                          F.col("cell_y") * res_md + half,
                          F.col("vertices"))
    return (_bbox_cells(_vertex_bbox(polys), res_md)
            .where(inside).select("polygon_id", "cell_x", "cell_y"))


def segment_cells(segments: DataFrame) -> DataFrame:
    """Line -> cells: the grid cells a segment traverses, by exact
    half-cell-step sampling — 2·max(|dx|,|dy|)+1 evenly spaced points
    interpolated in INTEGER arithmetic (floor((p0·(2n−k)+p1·k)/2n),
    non-negative domain), distinct cells kept. Completes the
    vector->raster matrix (points: rasterize_tiles, polygons:
    polyfill_ring, LINES: here) — trajectory/route binning for
    road-network or movement data at corpus scale. Half-cell sampling
    yields a connected, deterministic trace (the documented contract;
    a corner-clipped cell whose intersection is shorter than half a
    cell may be skipped — the supercover variant slots in behind the
    same output columns). One explode, no shuffle until the caller
    aggregates."""
    dx = F.abs(F.col("x1") - F.col("x0"))
    dy = F.abs(F.col("y1") - F.col("y0"))
    n2 = F.greatest(dx, dy) * 2
    ks = F.explode(F.sequence(F.lit(0), n2))
    cand = segments.select("seg_id", "x0", "y0", "x1", "y1",
                           n2.alias("_n2"), ks.alias("k"))
    # integer div == floor on the non-negative grid (matches DuckDB //)
    interp = lambda a, b: F.when(  # noqa: E731
        F.col("_n2") == 0, F.col(a).cast("bigint")).otherwise(
        F.expr(f"({a} * (_n2 - k) + {b} * k) div _n2").cast("bigint"))
    return (cand.select("seg_id",
                        interp("x0", "x1").alias("cell_x"),
                        interp("y0", "y1").alias("cell_y"))
            .distinct())


def compact_cells(cells: DataFrame, max_level: int = 3,
                  x_col: str = "tile_x", y_col: str = "tile_y"
                  ) -> DataFrame:
    """Quadtree compaction — H3/S2 ``compact`` semantics on the tile
    grid: every COMPLETE 2x2 sibling quadruple is replaced by its
    parent, recursively up to ``max_level``, yielding the minimal
    multi-level cover of an occupied cell set (coverage manifests,
    tile-job planning, polygon covers). Returns (level, tile_x,
    tile_y) with level 0 = input resolution; coords at level L are the
    level-0 coords shifted right L bits (non-negative world grid).

    Scale shape: page→cell assignment stayed in the scan stage
    upstream; every round here shuffles only the CELL table (tiny vs
    pages) keyed on the parent cell, and the table shrinks
    monotonically — max_level rounds of vanishing aggregations."""
    cur = (cells.select(F.col(x_col).alias("tile_x"),
                        F.col(y_col).alias("tile_y"))
           .distinct())
    out = None
    for lvl in range(max_level):
        full = (cur.groupBy(F.expr("shiftright(tile_x, 1)").alias("px"),
                            F.expr("shiftright(tile_y, 1)").alias("py"))
                .agg(F.count(F.lit(1)).alias("nchild"))
                .where(F.col("nchild") == 4)
                .select("px", "py"))
        kept = cur.join(
            full,
            (F.expr("shiftright(tile_x, 1)") == full["px"]) &
            (F.expr("shiftright(tile_y, 1)") == full["py"]),
            "left_anti")
        part = kept.select(F.lit(lvl).cast("int").alias("level"),
                           "tile_x", "tile_y")
        out = part if out is None else out.unionByName(part)
        cur = full.select(F.col("px").alias("tile_x"),
                          F.col("py").alias("tile_y"))
    top = cur.select(F.lit(max_level).cast("int").alias("level"),
                     "tile_x", "tile_y")
    return out.unionByName(top) if out is not None else top


def pyramid_reduce_iterative(l0: DataFrame, max_level: int) -> DataFrame:
    """gdaladdo-faithful ITERATIVE pyramid over a (tile_x, tile_y, val)
    table: each level L+1 tile derives from its (up to 4) level-L
    children, like createaOverview builds level N from N-1
    (OptimizeRasters.py:5060-5143) — required for the
    non-associative resamplers, where a single jump from level 0 gives
    different answers than the level-by-level chain:

      * ``avg_val``  — PyramidSampling average/avg: floor(sum/count)
        over the PRESENT children (integer-exact; floors compound per
        level exactly as repeated integer resampling does);
      * ``near_val`` — PyramidSampling nearest: the top-left present
        child's value (min (y, x) — deterministic tie-free pick).

    Count-like SUM pyramids don't need this (associative — see
    levels_from_l0); value rasters (mean quality per tile, elevation
    bins) do. Cost: max_level small shuffles over the TILE table, each
    a quarter the size of the last — a geometric series bounded by 2x
    the level-1 shuffle."""
    cur = l0.select(
        "tile_x", "tile_y",
        F.col("val").cast("bigint").alias("avg_val"),
        F.col("val").cast("bigint").alias("near_val"))
    out = cur.withColumn("level", F.lit(0).cast("int"))
    for lv in range(1, max_level + 1):
        child_key = (F.col("tile_y").cast("bigint") * F.lit(1 << 31) +
                     F.col("tile_x"))
        cur = (cur.groupBy(
                   F.expr("shiftright(tile_x, 1)").alias("tile_x"),
                   F.expr("shiftright(tile_y, 1)").alias("tile_y"))
               .agg(F.expr("sum(avg_val) div count(1)").alias("avg_val"),
                    F.min_by("near_val", child_key).alias("near_val")))
        out = out.unionByName(
            cur.withColumn("level", F.lit(lv).cast("int")))
    return out.select("level", "tile_x", "tile_y", "avg_val", "near_val")


def _cell(lon, lat, cell_md: int) -> F.Column:
    """Packed coarse grid cell of a point."""
    return tiling.pack_cell_col(F.floor(lon / cell_md),
                                F.floor(lat / cell_md))


def _bbox_cells(boxes: DataFrame, cell_md: int) -> DataFrame:
    """Every input column plus one (cell_x, cell_y) row per grid cell of
    the half-open bbox [lon_lo_md, lon_hi_md) x [lat_lo_md, lat_hi_md),
    exploded on the executors (explode(sequence) — no driver collect, so
    the box side can itself be a large table)."""
    def span(lo: str, hi: str) -> F.Column:
        return F.explode(F.sequence(F.floor(F.col(lo) / cell_md),
                                    F.floor((F.col(hi) - 1) / cell_md)))
    cols = boxes.columns
    return (boxes.select(*cols, span("lon_lo_md", "lon_hi_md")
                         .alias("cell_x"))
            .select(*cols, "cell_x", span("lat_lo_md", "lat_hi_md")
                    .alias("cell_y")))


def _probe(pages: DataFrame, polys: DataFrame, cell_md: int,
           how: str = "inner") -> DataFrame:
    """Broadcast the cell cover of ``polys`` (any columns plus the
    half-open bbox) and equi-join each page on its own cell; the pages
    side never shuffles.

    ``inner``: one row per (page, covering polygon) with every polys
    column, for the caller's exact refinement. ``left``: each page stays
    ONE row and gains ``_cands``, its cell's sorted array of
    (polygon_id, bbox) structs (NULL when no polygon covers the cell);
    the per-cell aggregate runs on the dimension side, under the
    broadcast."""
    cover = _bbox_cells(polys, cell_md).select(
        *polys.columns,
        tiling.pack_cell_col(F.col("cell_x"), F.col("cell_y"))
        .alias("cell"))
    if how == "left":
        cover = (cover.groupBy("cell")
                 .agg(F.sort_array(F.collect_list(F.struct(
                     "polygon_id", "lon_lo_md", "lon_hi_md", "lat_lo_md",
                     "lat_hi_md"))).alias("_cands")))
    return (pages.withColumn("cell", _cell(F.col("lon_md"), F.col("lat_md"),
                                           cell_md))
            .join(F.broadcast(cover), "cell", how))


def _in_box(lon, lat, field) -> F.Column:
    """Half-open bbox containment; ``field(name)`` reads a bbox bound."""
    return ((lon >= field("lon_lo_md")) & (lon < field("lon_hi_md")) &
            (lat >= field("lat_lo_md")) & (lat < field("lat_hi_md")))


def _vertex_bbox(polys: DataFrame) -> DataFrame:
    """Vertex-array polygons plus the half-open bbox of their vertices
    (array_min/array_max — pure array aggregates)."""
    xs = F.transform(F.col("vertices"), lambda v: v["x"])
    ys = F.transform(F.col("vertices"), lambda v: v["y"])
    return polys.select(*polys.columns,
                        F.array_min(xs).alias("lon_lo_md"),
                        (F.array_max(xs) + 1).alias("lon_hi_md"),
                        F.array_min(ys).alias("lat_lo_md"),
                        (F.array_max(ys) + 1).alias("lat_hi_md"))


def _edges(vertices) -> F.Column:
    """The closed ring's edges: struct(a = vertex i, b = vertex i+1 mod n)
    for every vertex i."""
    n = F.size(vertices)
    return F.transform(
        F.sequence(F.lit(0), n - 1),
        lambda i: F.struct(
            F.get(vertices, i).alias("a"),
            F.get(vertices, F.pmod(i + 1, n)).alias("b")))


def pip_join(pages: DataFrame, boundaries: DataFrame,
             how: str = "inner") -> DataFrame:
    """Point-in-polygon equi-join via broadcast cell cover.

    Emits one row per (page, containing polygon); half-open box semantics
    [lo, hi). ``how='left'`` keeps pages matching no polygon (polygon_id
    NULL) — the reference's raster/non-raster split analog.

    The inner path carries the polygon's FULL row (bbox included)
    through the cover explode, so refinement is one filter after ONE
    broadcast probe per page. The left path refines with a map-side
    filter() over the page's broadcast candidate array and explodes one
    row per match, or exactly one NULL row when no polygon refines: ZERO
    page shuffle and a single scan (tests/test_plans.py asserts both)."""
    lon, lat = F.col("lon_md"), F.col("lat_md")
    if how == "inner":
        return _probe(pages, boundaries, COVER_CELL_MD).where(
            _in_box(lon, lat, F.col))
    joined = _probe(pages, boundaries, COVER_CELL_MD, "left")
    hits = F.transform(
        F.filter("_cands", lambda p: _in_box(lon, lat, p.getField)),
        lambda p: p["polygon_id"])
    polys_or_null = F.when(F.size(hits) > 0, hits) \
        .otherwise(F.array(F.lit(None).cast("bigint")))
    return joined.select(
        *pages.columns,
        F.explode(polys_or_null).alias("polygon_id"))


def tile_polygon_counts(pages: DataFrame, boundaries: DataFrame
                        ) -> DataFrame:
    """The flagship chain after dedup: level-0 tile assignment, inner
    PIP join, then the page count per (polygon_id, tile_x, tile_y). The
    caller deduplicates the pages first."""
    joined = pip_join(with_tiles(pages), boundaries, how="inner")
    return (joined.groupBy("polygon_id", "tile_x", "tile_y")
            .agg(F.count(F.lit(1)).alias("page_count")))


def _inside_convex(lon, lat, vertices) -> F.Column:
    """Point strictly-or-boundary inside a CCW convex polygon: the cross
    product (v2-v1) x (p-v1) is >= 0 for every edge. Integer millidegree
    coords -> exact arithmetic, no epsilon, oracle-identical on any
    engine."""
    return F.forall(
        _edges(vertices),
        lambda e: ((e["b"]["x"] - e["a"]["x"]) * (lat - e["a"]["y"]) -
                   (e["b"]["y"] - e["a"]["y"]) * (lon - e["a"]["x"]))
        >= 0)


def _inside_ring(lon, lat, vertices) -> F.Column:
    """Point inside an ARBITRARY simple ring (convexity not required) by
    the even-odd ray cast: shoot a +x horizontal ray from the point and
    count edges that straddle its y and cross strictly to the right.
    Integer-exact: the crossing-x comparison is the sign of the
    edge-point cross product matched against the edge's y direction —
    no division, no epsilon, oracle-identical on any engine. Boundary
    semantics are the half-open convention of the classic PNPOLY test
    (deterministic; a point exactly on an edge lands consistently)."""
    def crossing(e):
        a, b = e["a"], e["b"]
        straddle = (a["y"] > lat) != (b["y"] > lat)
        cross = ((b["x"] - a["x"]) * (lat - a["y"]) -
                 (b["y"] - a["y"]) * (lon - a["x"]))
        right = F.when(b["y"] > a["y"], cross > 0).otherwise(cross < 0)
        return straddle & right

    return F.size(F.filter(_edges(vertices), crossing)) % 2 == 1


def _pip_join_exact(pages: DataFrame, polys: DataFrame,
                    inside) -> DataFrame:
    """Vertex-array PIP: bbox-cell cover probe, then the exact
    ``inside(lon, lat, vertices)`` refiner. Output: the page columns
    plus polygon_id."""
    cands = _probe(pages, _vertex_bbox(polys), COVER_CELL_MD)
    return (cands.where(inside(F.col("lon_md"), F.col("lat_md"),
                               F.col("vertices")))
            .select(*pages.columns, "polygon_id"))


def pip_join_convex(pages: DataFrame, polys: DataFrame) -> DataFrame:
    """Point-in-polygon join against REAL (convex, CCW, integer-vertex)
    polygons — the shape beyond the half-open-bbox form: cover equi-join
    on the bbox grid cells (broadcast, pages never shuffle), exact
    refinement by the all-edges cross-product test, entirely in Catalyst
    (forall over the vertex array — no UDF, no epsilon). Non-convex
    polygons decompose into convex pieces upstream, or use
    pip_join_ring; functions/geo.make_convex_pip_udf is the Arrow twin
    of this refiner, held value-equal by test."""
    return _pip_join_exact(pages, polys, _inside_convex)


def pip_join_ring(pages: DataFrame, polys: DataFrame) -> DataFrame:
    """Point-in-polygon join against ARBITRARY simple rings (non-convex
    admin boundaries — the real-boundary shape SURVEY §2.3 J4 calls
    for; the reference delegates the equivalent grid containment to
    GDAL georeferencing, OptimizeRasters.py:1404-1416). Same plan as
    pip_join_convex, with the exact even-odd ray cast as the refiner
    (filter + size over the vertex array — no UDF). A shapely-backed
    pandas-UDF refiner slots into the same candidate stream
    (functions/geo.make_ring_pip_udf is the Arrow twin, held value-equal
    by test)."""
    return _pip_join_exact(pages, polys, _inside_ring)


def knn_ring(pages: DataFrame, queries: DataFrame, k: int = 5,
             radius_md: int = 1000) -> DataFrame:
    """Radius-bounded kNN (SURVEY.md J5) over a query TABLE (query_id,
    qlon_md, qlat_md): for each query, the k nearest pages within
    ``radius_md`` (squared integer millidegree distance; ties broken by
    doc_id — fully deterministic).

    With a cover cell equal to the radius, the cell cover of a query's
    closed radius box [q - radius, q + radius] is its 3x3 cell ring, so
    the ring expands distributed through the same broadcast cover probe
    as the PIP joins — no driver-side loop, so the query set can itself
    be large (the reference's batch-of-AOIs case). Every point within
    the radius lies in the ring and the dist2 filter trims the corners.
    The big side never shuffles, and the per-query window sorts only
    the ring cells' contents."""
    boxes = queries.select(
        "query_id", "qlon_md", "qlat_md",
        (F.col("qlon_md") - radius_md).alias("lon_lo_md"),
        (F.col("qlon_md") + radius_md + 1).alias("lon_hi_md"),
        (F.col("qlat_md") - radius_md).alias("lat_lo_md"),
        (F.col("qlat_md") + radius_md + 1).alias("lat_hi_md"))
    dx = F.col("lon_md") - F.col("qlon_md")
    dy = F.col("lat_md") - F.col("qlat_md")
    w = Window.partitionBy("query_id").orderBy(F.col("dist2").asc(),
                                               F.col("doc_id").asc())
    return (_probe(pages, boxes, radius_md)
            .withColumn("dist2", dx * dx + dy * dy)
            .where(F.col("dist2") <= radius_md * radius_md)
            .withColumn("knn_rank", F.row_number().over(w))
            .where(F.col("knn_rank") <= k)
            .select("query_id",
                    F.col("knn_rank").cast("int").alias("knn_rank"),
                    "doc_id", F.col("dist2").cast("bigint").alias("dist2")))


def ring_stats(polys: DataFrame) -> DataFrame:
    """Shoelace area + winding order for vertex-array rings: area2 =
    sum of edge cross products (TWICE the signed area — kept doubled so
    it stays an exact integer; positive = counter-clockwise). The
    upstream normalizer for both PIP refiners: _inside_convex requires
    CCW input, and real-world boundary files mix winding freely, so a
    100 TB ingest runs this first and flips CW rings (reverse the
    array). Pure aggregate over the vertex array — codegen, no
    shuffle."""
    vs = F.col("vertices")
    area2 = F.aggregate(
        _edges(vs), F.lit(0).cast("bigint"),
        lambda acc, e: acc + (e["a"]["x"] * e["b"]["y"] -
                              e["b"]["x"] * e["a"]["y"]))
    return polys.select(
        "polygon_id",
        area2.alias("area2"),
        (area2 > 0).alias("is_ccw"),
        F.size(vs).cast("int").alias("n_vertices"))
