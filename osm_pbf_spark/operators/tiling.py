"""Raster<->vector tile assignment (SURVEY.md §2.3 G6).

The reference maps geometries to raster tiles via its r-tree over the
tile grid; here it is arithmetic + a grid cover:

- point -> tile: vectorized slippy-map formula. Two schemes:
  * ``mercator`` — true Web-Mercator z/x/y, computed in a numpy
    pandas-UDF so it matches the pure-Python oracle's libm exactly;
  * ``linear``  — equirectangular floor-only grid computed with NATIVE
    Spark expressions (whole-stage codegen, no Python hop, and
    bit-reproducible in any engine — used for the duckdb oracle gate).
- polygon -> tiles: grid cover on the driver -> explode -> (tile, poly).
- tile rollups: plain groupBy / rollup over (z, x, y).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions import tiles as TL
from .spatial_join import Polygon, refine_in_polygons


def assign_point_tiles(
    df: DataFrame,
    zoom: int,
    scheme: str = "mercator",
    lat_col: str = "lat",
    lon_col: str = "lon",
) -> DataFrame:
    """Attach tile_x / tile_y / tile_z columns."""
    if scheme == "linear":
        n = float(1 << zoom)
        nmax = (1 << zoom) - 1
        x = F.floor((F.col(lon_col) + F.lit(180.0)) / F.lit(360.0) * F.lit(n))
        y = F.floor((F.lit(90.0) - F.col(lat_col)) / F.lit(180.0) * F.lit(n))
        return (
            df.withColumn("tile_x", F.least(F.greatest(x, F.lit(0)), F.lit(nmax)).cast("long"))
            .withColumn("tile_y", F.least(F.greatest(y, F.lit(0)), F.lit(nmax)).cast("long"))
            .withColumn("tile_z", F.lit(zoom))
        )

    @F.pandas_udf(T.StructType([T.StructField("x", T.LongType()), T.StructField("y", T.LongType())]))
    def _tile(lat: pd.Series, lon: pd.Series) -> pd.DataFrame:
        x, y = TL.point_to_tile_mercator(lat.to_numpy(np.float64), lon.to_numpy(np.float64), zoom)
        return pd.DataFrame({"x": x, "y": y})

    return (
        df.withColumn("_t", _tile(F.col(lat_col), F.col(lon_col)))
        .withColumn("tile_x", F.col("_t.x"))
        .withColumn("tile_y", F.col("_t.y"))
        .withColumn("tile_z", F.lit(zoom))
        .drop("_t")
    )


def polygon_tile_cover(
    spark: SparkSession, polygons: list[Polygon], zoom: int
) -> DataFrame:
    """Vector -> raster: every (poly_id, tile) whose extents intersect."""
    rows = []
    for p in polygons:
        xy = TL.polygon_tile_cover_mercator(p.rings, zoom)
        rows.extend((p.poly_id, zoom, int(x), int(y)) for x, y in xy)
    return spark.createDataFrame(rows, "poly_id string, tile_z int, tile_x long, tile_y long")


def tile_stats(points_with_tiles: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Per-tile doc counts — the per-tile assignment output surface."""
    return points_with_tiles.groupBy("tile_z", "tile_x", "tile_y").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct(id_col).alias("n_distinct_docs"),
    )


def tile_pyramid_rollup(points_with_tiles: DataFrame, zoom: int, min_zoom: int = 0) -> DataFrame:
    """Roll tile counts up the pyramid: parent tile at z-1 is (x>>1, y>>1).

    Two shuffles total, independent of pyramid depth: aggregate once at
    leaf zoom (the only pass over the big input — map-side partial agg
    does most of the work), then explode each leaf tile into its
    ancestor chain (z, x>>d, y>>d) and aggregate once more. A
    level-by-level chain of groupBys would pay one shuffle per zoom
    level and serialize the pyramid; this form is a single wide
    aggregation over |leaf_tiles| * depth tiny rows.
    """
    leaf = points_with_tiles.groupBy("tile_z", "tile_x", "tile_y").agg(
        F.count(F.lit(1)).alias("n_docs")
    )
    depth = zoom - min_zoom
    if depth <= 0:
        return leaf
    return (
        leaf.withColumn("_d", F.explode(F.sequence(F.lit(0), F.lit(depth))))
        .select(
            (F.col("tile_z") - F.col("_d")).cast("int").alias("tile_z"),
            F.expr("shiftrightunsigned(tile_x, _d)").alias("tile_x"),
            F.expr("shiftrightunsigned(tile_y, _d)").alias("tile_y"),
            "n_docs",
        )
        .groupBy("tile_z", "tile_x", "tile_y")
        .agg(F.sum("n_docs").alias("n_docs"))
    )


def _line_tiles_scaled(
    df: DataFrame,
    zoom: int,
    scheme: str,
    lat0_col: str,
    lon0_col: str,
    lat1_col: str,
    lon1_col: str,
) -> DataFrame:
    """Shared supercover subplan: returns the (segment, tile_x, tile_y)
    rows STILL carrying the continuous tile-space endpoint columns
    _sx0/_sy0/_sx1/_sy1 (for the clip stage). See assign_line_tiles for
    the semantics and determinism contract.
    """
    n = float(1 << zoom)
    nmax = (1 << zoom) - 1
    if scheme == "linear":
        sx0 = (F.col(lon0_col) + F.lit(180.0)) / F.lit(360.0) * F.lit(n)
        sy0 = (F.lit(90.0) - F.col(lat0_col)) / F.lit(180.0) * F.lit(n)
        sx1 = (F.col(lon1_col) + F.lit(180.0)) / F.lit(360.0) * F.lit(n)
        sy1 = (F.lit(90.0) - F.col(lat1_col)) / F.lit(180.0) * F.lit(n)
        d = df.withColumns({"_sx0": sx0, "_sy0": sy0, "_sx1": sx1, "_sy1": sy1})
    elif scheme == "mercator":
        @F.pandas_udf("sx0 double, sy0 double, sx1 double, sy1 double")
        def _scale(la0: pd.Series, lo0: pd.Series, la1: pd.Series, lo1: pd.Series) -> pd.DataFrame:
            ax, ay = TL.scale_mercator(la0.to_numpy(np.float64), lo0.to_numpy(np.float64), zoom)
            bx, by = TL.scale_mercator(la1.to_numpy(np.float64), lo1.to_numpy(np.float64), zoom)
            return pd.DataFrame({"sx0": ax, "sy0": ay, "sx1": bx, "sy1": by})

        d = (
            df.withColumn("_s", _scale(F.col(lat0_col), F.col(lon0_col), F.col(lat1_col), F.col(lon1_col)))
            .withColumns({"_sx0": F.col("_s.sx0"), "_sy0": F.col("_s.sy0"),
                          "_sx1": F.col("_s.sx1"), "_sy1": F.col("_s.sy1")})
            .drop("_s")
        )
    else:
        raise ValueError(f"unknown scheme {scheme!r}")

    xa = F.least(F.col("_sx0"), F.col("_sx1"))
    xb = F.greatest(F.col("_sx0"), F.col("_sx1"))
    ix_lo = F.greatest(F.floor(xa), F.lit(0).cast("long"))
    ix_hi = F.least(F.floor(xb), F.lit(nmax).cast("long"))
    d = d.withColumns({"_xa": xa, "_xb": xb}).withColumn(
        "tile_x",
        F.explode(
            F.when(ix_lo <= ix_hi, F.sequence(ix_lo, ix_hi)).otherwise(
                F.array().cast("array<long>")
            )
        ),
    )
    # exact y-range of the segment within this x column (linear interp;
    # identical op order in the duckdb oracle)
    cl = F.greatest(F.col("tile_x").cast("double"), F.col("_xa"))
    cr = F.least(F.col("tile_x").cast("double") + F.lit(1.0), F.col("_xb"))
    dx = F.col("_sx1") - F.col("_sx0")
    dy = F.col("_sy1") - F.col("_sy0")
    y_l = F.col("_sy0") + (cl - F.col("_sx0")) / dx * dy
    y_r = F.col("_sy0") + (cr - F.col("_sx0")) / dx * dy
    vert = F.col("_sx1") == F.col("_sx0")
    ymin = F.when(vert, F.least(F.col("_sy0"), F.col("_sy1"))).otherwise(F.least(y_l, y_r))
    ymax = F.when(vert, F.greatest(F.col("_sy0"), F.col("_sy1"))).otherwise(F.greatest(y_l, y_r))
    iy_lo = F.greatest(F.floor(ymin), F.lit(0).cast("long"))
    iy_hi = F.least(F.floor(ymax), F.lit(nmax).cast("long"))
    return (
        d.withColumn(
            "tile_y",
            F.explode(
                F.when(iy_lo <= iy_hi, F.sequence(iy_lo, iy_hi)).otherwise(
                    F.array().cast("array<long>")
                )
            ),
        )
        .withColumn("tile_z", F.lit(zoom))
        .drop("_xa", "_xb")
    )


def assign_line_tiles(
    df: DataFrame,
    zoom: int,
    scheme: str = "linear",
    lat0_col: str = "lat0",
    lon0_col: str = "lon0",
    lat1_col: str = "lat1",
    lon1_col: str = "lon1",
) -> DataFrame:
    """Vector->raster for LINES: every tile a segment crosses (exact
    supercover, closed per-column intervals), as native expressions.

    Per segment: scale endpoints to continuous tile space, explode the
    x-columns the segment spans, derive the exact y-range within each
    column from the linear parameterization, explode the y tiles. No
    Python hop (linear scheme), no join, no shuffle — the whole plan is
    Generate + Project inside whole-stage codegen, so it scales as a
    map stage at any corpus size. Output tiles are unique per segment
    by construction (one emission per (column, row)); segments entirely
    outside the [0, 2^z)^2 grid paint NO tile (drop, never clamp).

    ``scheme="linear"`` matches the duckdb oracle bit-for-bit (floor
    arithmetic only); ``scheme="mercator"`` scales endpoints with the
    numpy transform in one pandas UDF (verified vs the pure-Python
    crossing oracle in pytest — libm parity, same as point tiles).
    """
    return _line_tiles_scaled(
        df, zoom, scheme, lat0_col, lon0_col, lat1_col, lon1_col
    ).drop("_sx0", "_sy0", "_sx1", "_sy1")


def clip_lines_to_tiles(
    df: DataFrame,
    zoom: int,
    scheme: str = "linear",
    lat0_col: str = "lat0",
    lon0_col: str = "lon0",
    lat1_col: str = "lat1",
    lon1_col: str = "lon1",
) -> DataFrame:
    """Supercover + Liang-Barsky clip: one row per (segment, tile) with
    the segment CLIPPED to that tile's square, in continuous tile-space
    coordinates — the vector-tile encode step after assignment.

    Same map-only native plan as ``assign_line_tiles`` (this reuses its
    subtree up to the tile_y explode, so a pipeline computing both
    shares the scan and the Generates), plus the closed-form clip: the
    parameter window of the tile's x-slab intersected with its y-slab,
    ``t0 = max(0, txa, tya)``, ``t1 = max(t0, min(1, txb, tyb))`` —
    pure +,-,*,/ and least/greatest, so the DuckDB oracle reproduces
    every bit. Boundary-degenerate tiles (kept by the closed-interval
    supercover convention) clip to a zero-length touch point
    (``t0 == t1``) rather than being dropped, preserving the exact
    assign_line_tiles tile set.

    Adds: tile_z, tile_x, tile_y, t0, t1, and the clipped endpoints
    cx0, cy0, cx1, cy1 (continuous tile space; subtract tile_x/tile_y
    for tile-local [0,1] coordinates).
    """
    keep = list(df.columns)
    tiled = _line_tiles_scaled(
        df, zoom, scheme, lat0_col, lon0_col, lat1_col, lon1_col
    )
    dx = F.col("_sx1") - F.col("_sx0")
    dy = F.col("_sy1") - F.col("_sy0")
    txf = (F.col("tile_x").cast("double") - F.col("_sx0")) / dx
    txc = (F.col("tile_x").cast("double") + F.lit(1.0) - F.col("_sx0")) / dx
    tyf = (F.col("tile_y").cast("double") - F.col("_sy0")) / dy
    tyc = (F.col("tile_y").cast("double") + F.lit(1.0) - F.col("_sy0")) / dy
    txa = F.when(dx != F.lit(0.0), F.least(txf, txc)).otherwise(F.lit(0.0))
    txb = F.when(dx != F.lit(0.0), F.greatest(txf, txc)).otherwise(F.lit(1.0))
    tya = F.when(dy != F.lit(0.0), F.least(tyf, tyc)).otherwise(F.lit(0.0))
    tyb = F.when(dy != F.lit(0.0), F.greatest(tyf, tyc)).otherwise(F.lit(1.0))
    t0 = F.greatest(F.lit(0.0), txa, tya)
    t1 = F.greatest(t0, F.least(F.lit(1.0), txb, tyb))  # guard fp underlap
    out = tiled.withColumns({"t0": t0, "t1": t1}).withColumns(
        {
            "cx0": F.col("_sx0") + dx * F.col("t0"),
            "cy0": F.col("_sy0") + dy * F.col("t0"),
            "cx1": F.col("_sx0") + dx * F.col("t1"),
            "cy1": F.col("_sy0") + dy * F.col("t1"),
        }
    )
    return out.select(
        *keep, "tile_z", "tile_x", "tile_y", "t0", "t1", "cx0", "cy0", "cx1", "cy1"
    )


def grid_smooth(
    pts: DataFrame,
    level: int,
    lat_col: str = "lat",
    lon_col: str = "lon",
) -> DataFrame:
    """3x3 box-filter over the point-count raster at ``level`` — the
    density-smoothing step of a heatmap pipeline (raster convolution as
    a scatter): count points per grid cell, scatter each cell's count
    to its 9-neighborhood, re-aggregate.

    Returns ``(x, y, n_box)`` for every cell whose 3x3 window holds at
    least one point — cells with zero own points still appear when a
    neighbor is occupied. Edge cells keep truncated kernels (no lon
    wrap), matching the plain SQL double-aggregate oracle.

    Scale: the first aggregate collapses points to occupied cells
    BEFORE the 9x explode, so the scatter is 9x |occupied cells|, not
    9x |points|; two narrow shuffles total, all whole-stage codegen.
    """
    from ..functions.cells import MAX_LEVEL, _quant_col

    if not 0 <= level <= MAX_LEVEL:
        raise ValueError(f"level must be in [0, {MAX_LEVEL}], got {level}")
    n = 1 << level
    q = pts.select(
        _quant_col(F.col(lon_col), 180.0, 360.0, level).alias("x"),
        _quant_col(F.col(lat_col), 90.0, 180.0, level).alias("y"),
    )
    counts = q.groupBy("x", "y").agg(F.count(F.lit(1)).alias("n"))
    window = F.array(
        *[
            F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"))
            for dy in (-1, 0, 1)
            for dx in (-1, 0, 1)
        ]
    )
    scattered = (
        counts.withColumn("_d", F.explode(window))
        .select(
            (F.col("x") + F.col("_d.dx")).alias("x"),
            (F.col("y") + F.col("_d.dy")).alias("y"),
            "n",
        )
        .where((F.col("x") >= 0) & (F.col("x") < n) & (F.col("y") >= 0) & (F.col("y") < n))
    )
    return scattered.groupBy("x", "y").agg(F.sum("n").alias("n_box"))


# ---------------- marching-squares contour extraction ----------------

# midpoint marching squares: per 2x2 block (corners bit0=(+0,+0),
# bit1=(+1,+0), bit2=(+1,+1), bit3=(+0,+1)), the iso-segments connect
# edge midpoints B=(1,0), R=(2,1), T=(1,2), L=(0,1) in DOUBLED block
# coordinates. Saddles (cases 5/10) are resolved as "center below
# threshold" (two separate blobs); segment endpoints are sorted by
# (x, y) so the output set is canonical.
_MS_SEGMENTS: dict[int, list[tuple[tuple[int, int], tuple[int, int]]]] = {
    1: [((0, 1), (1, 0))],
    2: [((1, 0), (2, 1))],
    3: [((0, 1), (2, 1))],
    4: [((1, 2), (2, 1))],
    5: [((0, 1), (1, 0)), ((1, 2), (2, 1))],
    6: [((1, 0), (1, 2))],
    7: [((0, 1), (1, 2))],
    8: [((0, 1), (1, 2))],
    9: [((1, 0), (1, 2))],
    10: [((1, 0), (2, 1)), ((0, 1), (1, 2))],
    11: [((1, 2), (2, 1))],
    12: [((0, 1), (2, 1))],
    13: [((1, 0), (2, 1))],
    14: [((0, 1), (1, 0))],
}


def contour_segments(
    grid: DataFrame,
    threshold: int,
    x_col: str = "x",
    y_col: str = "y",
    val_col: str = "n",
) -> DataFrame:
    """Raster -> vector isoline extraction (marching squares) over a
    cell-value grid — the inverse direction of the tile-assign /
    rasterize family: turn a density raster back into boundary
    polylines (heatmap contours, coverage outlines).

    A cell is ABOVE iff ``val_col >= threshold``; absent cells are
    below (callers whose grids omit zero cells get that for free —
    threshold must be > the implicit absent value). Input cells must
    be DISTINCT (x, y) rows — the case index sums corner bits, so a
    duplicated cell would double its bit (aggregate grids, the normal
    producers, satisfy this by construction). Per 2x2 corner
    block the standard midpoint case table emits 0-2 segments whose
    endpoints are edge midpoints, reported in DOUBLED grid coordinates
    (2x + 1 style) so everything stays exact int64 — no halves, no
    floats, gate-hashable. Saddle blocks (diagonal corners above)
    resolve as two separate blobs; each segment's endpoints are sorted
    by (x, y), making the output a canonical SET.

    Plan (all native codegen): filter to above-cells -> scatter each
    to its 4 corner blocks (one Generate) -> ONE bounded hash agg
    (sum of distinct corner bits = the case index) -> literal case-map
    lookup + explode. Scatter volume is 4x |above cells|, never 4x
    |points| — threshold pushes into the scan.

    Returns (bx, by, ms_case, x0, y0, x1, y1).
    """
    corners = F.array(
        *[
            F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"), F.lit(bit).alias("bit"))
            for dx, dy, bit in ((0, 0, 1), (1, 0, 2), (1, 1, 4), (0, 1, 8))
        ]
    )
    above = grid.where(F.col(val_col) >= F.lit(int(threshold)))
    blocks = (
        above.withColumn("_c", F.explode(corners))
        .select(
            (F.col(x_col) - F.col("_c.dx")).alias("bx"),
            (F.col(y_col) - F.col("_c.dy")).alias("by"),
            F.col("_c.bit").alias("_bit"),
        )
        .groupBy("bx", "by")
        # each corner contributes exactly one distinct bit per block,
        # so SUM == OR and stays partial-aggregatable
        .agg(F.sum("_bit").cast("int").alias("ms_case"))
    )
    entries = []
    for case, segs in sorted(_MS_SEGMENTS.items()):
        entries.append(F.lit(case))
        entries.append(
            F.array(
                *[
                    F.struct(
                        F.lit(a[0]).alias("x0o"), F.lit(a[1]).alias("y0o"),
                        F.lit(b[0]).alias("x1o"), F.lit(b[1]).alias("y1o"),
                    )
                    for a, b in segs
                ]
            )
        )
    ms_map = F.create_map(*entries)
    # element_at misses (case 15 = interior) -> NULL -> explode drops
    out = blocks.withColumn("_seg", F.explode(F.element_at(ms_map, F.col("ms_case"))))
    two = F.lit(2).cast("bigint")
    return out.select(
        F.col("bx").cast("bigint").alias("bx"),
        F.col("by").cast("bigint").alias("by"),
        "ms_case",
        (two * F.col("bx") + F.col("_seg.x0o")).alias("x0"),
        (two * F.col("by") + F.col("_seg.y0o")).alias("y0"),
        (two * F.col("bx") + F.col("_seg.x1o")).alias("x1"),
        (two * F.col("by") + F.col("_seg.y1o")).alias("y1"),
    )


# ---------------- adaptive quadtree cells ----------------


def adaptive_cells(
    pts: DataFrame,
    k: int,
    min_level: int,
    max_level: int,
    lat_col: str = "lat",
    lon_col: str = "lon",
) -> DataFrame:
    """Adaptive quadtree leaf assignment: each point gets the cell of
    the SHALLOWEST level in [min_level, max_level] whose population is
    <= ``k`` (capped at max_level) — exactly the leaf a quadtree built
    by "split while count > k" would place it in, because per-cell
    counts are monotone non-increasing with depth: every ancestor of a
    <=k cell above it holds > k points and therefore split. This is
    the data-adaptive tile pyramid — dense urban extents descend to
    fine cells, oceans stay one coarse cell — i.e. the variable-zoom
    layout a tile server or spatial index actually wants.

    Plan (all native): quantize ONCE at max_level (finest), collapse
    points to occupied finest cells, scatter each cell up its ancestor
    chain (one Generate bounded by the level span; coarser ids are
    parent BIT-SHIFTS of the finest — the r3 multi-level-cells lesson,
    exact), aggregate per-level counts, pick min qualifying level per
    finest cell, join back to points on the finest cell. Cell-table
    stages dwarf nothing: every shuffle after the first collapse is
    |occupied cells|-sized, only the final join is points-sized.

    Returns the input columns + (level:int, cx:bigint, cy:bigint).
    """
    from ..functions.cells import MAX_LEVEL, _quant_col

    if not 0 <= min_level <= max_level <= MAX_LEVEL:
        raise ValueError(
            f"need 0 <= min_level <= max_level <= {MAX_LEVEL}, "
            f"got {min_level}/{max_level}"
        )
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    q = pts.select(
        "*",
        _quant_col(F.col(lon_col), 180.0, 360.0, max_level).alias("_fx"),
        _quant_col(F.col(lat_col), 90.0, 180.0, max_level).alias("_fy"),
    )
    counts = q.groupBy("_fx", "_fy").agg(F.count(F.lit(1)).alias("_n"))
    lv = F.explode(F.sequence(F.lit(int(min_level)), F.lit(int(max_level)))).alias(
        "_lv"
    )
    anc = counts.select("_fx", "_fy", "_n", lv).select(
        "_fx",
        "_fy",
        "_n",
        "_lv",
        F.expr(f"shiftright(_fx, {int(max_level)} - _lv)").alias("_cx"),
        F.expr(f"shiftright(_fy, {int(max_level)} - _lv)").alias("_cy"),
    )
    per_level = anc.groupBy("_lv", "_cx", "_cy").agg(F.sum("_n").alias("_nl"))
    leaf = (
        anc.join(per_level, ["_lv", "_cx", "_cy"])
        .where(F.col("_nl") <= F.lit(int(k)))
        .groupBy("_fx", "_fy")
        .agg(F.min("_lv").alias("_leaf"))
    )
    assigned = counts.join(leaf, ["_fx", "_fy"], "left").select(
        "_fx",
        "_fy",
        F.coalesce(F.col("_leaf"), F.lit(int(max_level))).cast("int").alias("level"),
    )
    out = q.join(assigned, ["_fx", "_fy"])
    return out.select(
        *pts.columns,
        "level",
        F.expr(f"shiftright(_fx, {int(max_level)} - level)")
        .cast("bigint")
        .alias("cx"),
        F.expr(f"shiftright(_fy, {int(max_level)} - level)")
        .cast("bigint")
        .alias("cy"),
    )


# ---------------- raster morphology ----------------


def _disk_offsets(k: int) -> list[tuple[int, int]]:
    """Integer disk: all (dx, dy) with dx^2 + dy^2 <= k^2."""
    return [
        (dx, dy)
        for dx in range(-k, k + 1)
        for dy in range(-k, k + 1)
        if dx * dx + dy * dy <= k * k
    ]


def grid_dilate(
    grid: DataFrame, k: int, x_col: str = "x", y_col: str = "y"
) -> DataFrame:
    """Morphological DILATION of an occupied-cell set by the integer
    disk of radius ``k`` — every cell within the disk of an occupied
    cell becomes occupied (coverage buffering, gap bridging before
    contouring). One native Generate (|disk| rows per occupied cell)
    + one distinct aggregate; pure codegen, the scatter is
    |disk| x |occupied cells|, never x |points|.

    Returns distinct (x, y).
    """
    if k < 0:
        raise ValueError(f"k must be >= 0, got {k}")
    offs = F.array(
        *[
            F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"))
            for dx, dy in _disk_offsets(k)
        ]
    )
    return (
        grid.select(F.col(x_col).alias("x"), F.col(y_col).alias("y"))
        .withColumn("_d", F.explode(offs))
        .select(
            (F.col("x") + F.col("_d.dx")).alias("x"),
            (F.col("y") + F.col("_d.dy")).alias("y"),
        )
        .distinct()
    )


def grid_erode(
    grid: DataFrame, k: int, x_col: str = "x", y_col: str = "y"
) -> DataFrame:
    """Morphological EROSION by the integer disk of radius ``k`` — a
    cell survives iff its WHOLE disk neighborhood is occupied (noise
    stripping, core extraction). Implemented as a vote scatter: each
    occupied cell votes for every cell whose disk contains it; a cell
    survives iff it collects |disk| votes (occupied cells are distinct,
    so the count is exact — the center's own vote is included).
    erode(dilate(.)) is morphological CLOSING, dilate(erode(.)) is
    OPENING; both compose from these two one-shuffle primitives.

    Returns surviving (x, y).
    """
    if k < 0:
        raise ValueError(f"k must be >= 0, got {k}")
    disk = _disk_offsets(k)
    offs = F.array(
        *[
            F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"))
            for dx, dy in disk
        ]
    )
    votes = (
        grid.select(F.col(x_col).alias("x"), F.col(y_col).alias("y"))
        .distinct()
        .withColumn("_d", F.explode(offs))
        .select(
            (F.col("x") - F.col("_d.dx")).alias("x"),
            (F.col("y") - F.col("_d.dy")).alias("y"),
        )
    )
    return (
        votes.groupBy("x", "y")
        .agg(F.count(F.lit(1)).alias("_n"))
        .where(F.col("_n") == F.lit(len(disk)))
        .select("x", "y")
    )


# D8 neighbor offsets, direction codes 0..7 (E, SE, S, SW, W, NW, N, NE
# in +x-east / +y-north grid axes). Ties broken by SMALLEST code.
_D8_OFFS: list[tuple[int, int, int]] = [
    (0, 1, 0), (1, 1, -1), (2, 0, -1), (3, -1, -1),
    (4, -1, 0), (5, -1, 1), (6, 0, 1), (7, 1, 1),
]


def flow_direction(
    cells: DataFrame,
    x_col: str = "x",
    y_col: str = "y",
    z_col: str = "z",
) -> DataFrame:
    """D8 flow direction over an integer elevation raster — the first
    step of every hydrology / drainage pipeline (flow accumulation,
    watershed labeling build on it): each occupied cell flows to the
    8-neighbor with the LARGEST positive drop (z - z_neighbor), ties
    broken by smallest direction code; cells with no positive drop to
    an OCCUPIED neighbor (pits, flats, raster edge) get dir = -1.
    Simple-D8 variant: drops are NOT distance-weighted (the 1/sqrt(2)
    diagonal factor is irrational — the integer spec stays exact and
    engine-replayable; documented variant choice).

    Requires integer z (caller quantizes elevation — the module-wide
    contract). Returns (x, y, z, flow_dir:int, drop:bigint — 0 when
    flow_dir = -1).

    Plan: the grid-DBSCAN scatter shape — each cell scatters to the 8
    positions it neighbors (one native Generate, 8x|occupied|), one
    cell equi-join, one max(struct) argmax aggregate, one left join
    for the pit rows. All codegen, two narrow shuffles.
    """
    c = cells.select(
        F.col(x_col).cast("bigint").alias("x"),
        F.col(y_col).cast("bigint").alias("y"),
        F.col(z_col).cast("bigint").alias("z"),
    )
    offs = F.array(
        *[
            F.struct(
                F.lit(d).alias("dir"), F.lit(dx).alias("dx"), F.lit(dy).alias("dy")
            )
            for d, dx, dy in _D8_OFFS
        ]
    )
    # cell (x,y) is the dir-neighbor of center (x - dx, y - dy)
    nb = c.withColumn("_o", F.explode(offs)).select(
        (F.col("x") - F.col("_o.dx")).alias("x"),
        (F.col("y") - F.col("_o.dy")).alias("y"),
        F.col("_o.dir").alias("_dir"),
        F.col("z").alias("_zn"),
    )
    best = (
        c.join(nb, ["x", "y"])
        .where(F.col("z") > F.col("_zn"))
        .groupBy("x", "y")
        .agg(
            F.max(
                F.struct(
                    (F.col("z") - F.col("_zn")).alias("drop"),
                    (-F.col("_dir")).alias("negdir"),
                )
            ).alias("_b")
        )
        .select(
            "x", "y",
            (-F.col("_b.negdir")).cast("int").alias("_fd"),
            F.col("_b.drop").alias("_drop"),
        )
    )
    return c.join(best, ["x", "y"], "left").select(
        "x", "y", "z",
        F.coalesce(F.col("_fd"), F.lit(-1)).cast("int").alias("flow_dir"),
        F.coalesce(F.col("_drop"), F.lit(0).cast("bigint")).alias("drop"),
    )


# Horn-method gradient coefficients: the neighbor at relative offset
# (dx, dy) from a center contributes (cgx*z, cgy*z) to the center's
# (gx, gy) numerators. +x east, +y north; gx = eastward rise, gy =
# northward rise, both scaled by 8*cellsize (never divided — exact).
_HORN_COEFS: list[tuple[int, int, int, int]] = [
    # (dx, dy, cgx, cgy)
    (1, 0, 2, 0), (1, 1, 1, 1), (1, -1, 1, -1),
    (-1, 0, -2, 0), (-1, 1, -1, 1), (-1, -1, -1, -1),
    (0, 1, 0, 2), (0, -1, 0, -2),
]


def slope_aspect(
    cells: DataFrame,
    x_col: str = "x",
    y_col: str = "y",
    z_col: str = "z",
) -> DataFrame:
    """Horn (1981) 3x3 slope/aspect over an integer elevation raster —
    the terrain-analysis twin of ``flow_direction`` (slope maps,
    hillshade inputs, terrain-ruggedness features).

    Integer-exact variant (module-wide contract, caller quantizes z):

    - ``gx``/``gy`` are Horn's gradient NUMERATORS (scaled by
      8*cellsize, never divided): exact int64 sums of +-1/+-2 weighted
      neighbor elevations.
    - ``slope_q = floor(sqrt(gx^2 + gy^2) + 0.5)`` — the integer
      gradient magnitude under the points_along_lines sqrt idiom (one
      correctly-rounded IEEE sqrt of an exact int64; HALF-UP). Exact
      cross-engine while gx^2+gy^2 < 2^53, i.e. |z| < ~2^24 — the
      caller's quantization contract.
    - ``aspect8`` is the D8 direction code (tiling._D8_OFFS codes:
      E=0, SE=1, .., NE=7) of the steepest-DESCENT vector (-gx, -gy)
      under the MAX-metric 8-sector rule: |vx|>|vy| -> E/W,
      |vy|>|vx| -> N/S, |vx|=|vy| -> the diagonal; -1 when gx=gy=0
      (flat). Sign/abs comparisons only — exact and engine-replayable,
      where the conventional atan2 sectorization (tan 22.5 boundaries)
      is irrational. Documented variant choice, same spirit as
      flow_direction's unweighted-diagonal D8.

    Only cells with ALL 8 neighbors present are emitted (raster
    interior — Horn is undefined on edges; the count==8 guard makes
    the window explicit rather than zero-filling silently).

    Returns ``(x, y, z, gx, gy, slope_q, aspect8)``.

    Plan: the flow_direction scatter shape — one native Generate
    (8x|cells|), ONE hash aggregate summing coefficient-weighted z
    (map-side combinable), one equi-join back to the cells. All
    whole-stage codegen, two narrow shuffles, no Python.
    """
    c = cells.select(
        F.col(x_col).cast("bigint").alias("x"),
        F.col(y_col).cast("bigint").alias("y"),
        F.col(z_col).cast("bigint").alias("z"),
    )
    offs = F.array(
        *[
            F.struct(
                F.lit(dx).alias("dx"), F.lit(dy).alias("dy"),
                F.lit(cgx).alias("cgx"), F.lit(cgy).alias("cgy"),
            )
            for dx, dy, cgx, cgy in _HORN_COEFS
        ]
    )
    # the cell at (x, y) is the (dx, dy)-neighbor of center (x-dx, y-dy)
    contrib = c.withColumn("_o", F.explode(offs)).select(
        (F.col("x") - F.col("_o.dx")).alias("x"),
        (F.col("y") - F.col("_o.dy")).alias("y"),
        (F.col("_o.cgx") * F.col("z")).alias("_cx"),
        (F.col("_o.cgy") * F.col("z")).alias("_cy"),
    )
    grad = (
        contrib.groupBy("x", "y")
        .agg(
            F.sum("_cx").alias("gx"),
            F.sum("_cy").alias("gy"),
            F.count(F.lit(1)).alias("_n"),
        )
        .where(F.col("_n") == F.lit(8))
        .drop("_n")
    )
    vx, vy = -F.col("gx"), -F.col("gy")
    avx, avy = F.abs(vx), F.abs(vy)
    aspect = (
        F.when((F.col("gx") == 0) & (F.col("gy") == 0), F.lit(-1))
        .when(avx > avy, F.when(vx > 0, F.lit(0)).otherwise(F.lit(4)))
        .when(avy > avx, F.when(vy > 0, F.lit(6)).otherwise(F.lit(2)))
        # |vx| == |vy|, both nonzero -> diagonal
        .when((vx > 0) & (vy > 0), F.lit(7))
        .when((vx > 0) & (vy < 0), F.lit(1))
        .when((vx < 0) & (vy < 0), F.lit(3))
        .otherwise(F.lit(5))
    )
    return c.join(grad, ["x", "y"]).select(
        "x", "y", "z", "gx", "gy",
        F.floor(
            F.sqrt((F.col("gx") * F.col("gx") + F.col("gy") * F.col("gy")).cast("double"))
            + F.lit(0.5)
        ).cast("bigint").alias("slope_q"),
        aspect.cast("int").alias("aspect8"),
    )


def rasterize_polygons(
    spark: SparkSession,
    polygons: list[Polygon],
    res: float,
    lat0: float = -90.0,
    lon0: float = -180.0,
) -> DataFrame:
    """EXACT vector->raster fill (the inverse of contour_segments'
    raster->vector): every grid cell whose CENTER lies inside a polygon
    — burn-in for raster analytics (zonal masks, land-cover style
    layers, training label grids). Cell (gx, gy) spans
    ``[lon0 + gx*res, lon0 + (gx+1)*res) x [lat0 + gy*res, ...)`` and
    its center is tested with the same crossing-number kernel as
    pip_join, so rasterize(polys) agrees bit-for-bit with a PIP join of
    the center points.

    ``res`` must be DYADIC (0.5, 0.25, ...) so center coordinates are
    one exact IEEE chain in any engine (the measures/hex discipline);
    enforced here.

    Plan: per-polygon bbox ranges (driver arithmetic over the polygon
    list — already driver-resident like pip_join's cover), ONE
    sequence-explode Generate per axis producing only each polygon's
    OWN bbox cells (never the global grid), then one stateless
    vectorized refine batch — map-only, no shuffle, candidate volume =
    sum of bbox areas / res^2.
    """
    import math

    # frexp mantissa 0.5 <=> res is a power of two
    if res <= 0 or math.frexp(res)[0] != 0.5:
        raise ValueError(f"res must be a power of two (dyadic), got {res}")
    rows = []
    for p in polygons:
        outer = p.rings[0]
        la, lo = outer[:, 0], outer[:, 1]
        rows.append(
            (
                p.poly_id,
                int(math.floor((float(la.min()) - lat0) / res)),
                int(math.floor((float(la.max()) - lat0) / res)),
                int(math.floor((float(lo.min()) - lon0) / res)),
                int(math.floor((float(lo.max()) - lon0) / res)),
            )
        )
    bbox = spark.createDataFrame(
        rows, "poly_id string, gy0 long, gy1 long, gx0 long, gx1 long"
    )
    cells = bbox.select(
        "poly_id",
        F.explode(F.sequence("gy0", "gy1")).alias("gy"),
        "gx0",
        "gx1",
    ).select("poly_id", "gy", F.explode(F.sequence("gx0", "gx1")).alias("gx"))
    centers = cells.select(
        "poly_id",
        "gx",
        "gy",
        (
            (F.col("gy").cast("double") + F.lit(0.5)) * F.lit(float(res))
            + F.lit(float(lat0))
        ).alias("lat"),
        (
            (F.col("gx").cast("double") + F.lit(0.5)) * F.lit(float(res))
            + F.lit(float(lon0))
        ).alias("lon"),
    )
    return refine_in_polygons(centers, polygons).select("poly_id", "gx", "gy")


def kde_grid(
    pts: DataFrame,
    level: int,
    k: int,
    lat_col: str = "lat",
    lon_col: str = "lon",
) -> DataFrame:
    """Grid kernel density estimate — the heatmap raster: point counts
    per cell at ``level`` convolved with a SEPARABLE binomial kernel of
    radius ``k`` (1-D weights ``C(2k, k+d)`` for d in [-k, k] — the
    discrete Gaussian: the binomial approaches the normal kernel as k
    grows, and every weight is an exact integer, so the whole surface
    is EXACT int64 and gate-hashable where a float-Gaussian scatter
    would depend on summation order).

    Returns ``(x, y, w)`` for every cell within k of an occupied cell;
    ``w`` = sum over points of ``C(2k,k+dx) * C(2k,k+dy)`` at offset
    (dx, dy). An isolated interior point's window sums to ``2^(4k)``
    (separability — pinned by test); edge cells keep truncated kernels
    (out-of-grid scatter dropped), matching grid_smooth and the plain
    SQL double-aggregate oracle. ``kde_grid(level, 0)`` degenerates to
    the raw per-cell counts.

    Plan (the grid_smooth scatter discipline, applied twice): points
    collapse to occupied cells FIRST, then pass 1 scatters each cell
    (2k+1)x horizontally and re-aggregates, pass 2 scatters the partial
    rows vertically — 2*(2k+1)*|occupied| scattered rows total instead
    of the (2k+1)^2 a 2-D scatter ships, three narrow bounded shuffles,
    all whole-stage codegen, no Python. At 100 TB the cost is the
    occupied-cell count, never the point count.

    Overflow contract: ``k <= 12`` keeps each 1-D weight < 2^23, so
    w < n_pts_per_window * 2^46 — exact for any real corpus.
    """
    from math import comb

    from ..functions.cells import MAX_LEVEL, _quant_col

    if not 0 <= level <= MAX_LEVEL:
        raise ValueError(f"level must be in [0, {MAX_LEVEL}], got {level}")
    if not 0 <= k <= 12:
        raise ValueError(f"k must be in [0, 12], got {k}")
    n = 1 << level
    weights = [comb(2 * k, k + d) for d in range(-k, k + 1)]
    kern = F.array(
        *[
            F.struct(F.lit(d - k).alias("d"), F.lit(weights[d]).alias("c"))
            for d in range(2 * k + 1)
        ]
    )
    q = pts.select(
        _quant_col(F.col(lon_col), 180.0, 360.0, level).alias("x"),
        _quant_col(F.col(lat_col), 90.0, 180.0, level).alias("y"),
    )
    cells = q.groupBy("x", "y").agg(F.count(F.lit(1)).alias("w"))

    def _pass(df: DataFrame, axis: str) -> DataFrame:
        moved = (F.col(axis) + F.col("_k.d")).alias(axis)
        other = "y" if axis == "x" else "x"
        return (
            df.withColumn("_k", F.explode(kern))
            .select(moved, F.col(other), (F.col("w") * F.col("_k.c")).alias("w"))
            .where((F.col(axis) >= 0) & (F.col(axis) < n))
            .groupBy("x", "y")
            .agg(F.sum("w").alias("w"))
        )

    return _pass(_pass(cells, "x"), "y")


def raster_coarsen(
    cells: DataFrame,
    shift: int,
    x_col: str = "x",
    y_col: str = "y",
    val_col: str = "w",
    agg: str = "sum",
) -> DataFrame:
    """Raster pyramid aggregation: coarsen a grid raster by ``2^shift``
    per axis — every (2^shift x 2^shift) block of cells collapses to
    one parent cell — the map-algebra step behind overview levels,
    zoom pyramids and multi-resolution rollups (the raster twin of
    tile_pyramid_rollup's point path).

    Parent coords are integer BIT SHIFTS of child coords (exact — the
    same parent-derivation the multi-level cell explode uses), so
    engines agree trivially. ``agg`` picks the block statistic:
    'sum' (counts/masses — exact int64), 'min' / 'max' (elevation
    pyramids — exact), 'count' (occupancy).

    Returns ``(<x_col>, <y_col>, <val_col>)`` at the coarse
    resolution (input column names preserved; val_col must differ
    from the coordinate names).

    Plan: one map-side shift projection + ONE partial-aggregated hash
    agg — output bounded by the coarse grid, shuffle carries at most
    |parent cells| rows per task. Chain calls for a full pyramid; each
    level costs one bounded shuffle over the previous level's cells.
    """
    if shift < 1:
        raise ValueError(f"shift must be >= 1, got {shift}")
    fns = {"sum": F.sum, "min": F.min, "max": F.max, "count": lambda c: F.count(F.lit(1))}
    if agg not in fns:
        raise ValueError(f"agg must be one of {sorted(fns)}, got {agg!r}")
    if val_col in (x_col, y_col):
        raise ValueError("val_col must differ from the coordinate columns")
    parent = cells.select(
        F.shiftright(F.col(x_col).cast("bigint"), shift).alias(x_col),
        F.shiftright(F.col(y_col).cast("bigint"), shift).alias(y_col),
        F.col(val_col).alias("_v"),
    )
    return parent.groupBy(x_col, y_col).agg(fns[agg](F.col("_v")).alias(val_col))


def clip_polygons_to_tiles(
    spark: SparkSession,
    polygons: list[Polygon],
    zoom: int,
    extent: int = 4096,
) -> DataFrame:
    """Vector-tile POLYGON cut: each ring clipped to every tile square
    it touches (Sutherland–Hodgman against the four tile half-planes,
    linear scheme), vertices quantized to the MVT-style integer
    ``extent`` grid — the polygon counterpart of
    :func:`clip_lines_to_tiles` and the missing step between
    ``polygon_tile_cover`` and ``vectortile.encode_tiles``.

    Deterministic spec: ring coords scale via the EXACT
    ``scale_linear`` chain; each boundary intersection is ONE fixed
    IEEE chain ``t = (e − x_p)/(x_q − x_p); y = y_p + t·(y_q − y_p)``
    (the clip_lines_to_tiles discipline — the oracle's scalar replay
    reproduces every bit); tile-local quantization is
    ``floor((v − tile)·extent + 0.5)`` HALF-UP. Consecutive duplicate
    quantized vertices collapse (wraparound included); clips with < 3
    surviving vertices are DROPPED (degenerate touch — matches the
    closed half-plane convention). Candidate tiles come from the
    ring's tile-space bbox; the clip itself decides membership.

    Returns (poly_id, ring_idx, tile_z, tile_x, tile_y, n_pts,
    qx: array<int>, qy: array<int>).

    Plan: driver builds the (ring, tile) candidate rows (the pip_join
    list-of-Polygon convention — 10³-10⁵ polygons; use a rings
    DataFrame + per-polygon refine, the pip_join_rings pattern, beyond
    that), rings ride in the task closure (PySpark broadcasts a large
    command itself), ONE mapInPandas over candidates — embarrassingly
    parallel, no shuffle.
    """
    import math

    import pyarrow  # noqa: F401  (Arrow batching is the contract)

    n_side = 1 << zoom
    rows = []
    rings_scaled: dict[tuple[str, int], tuple] = {}
    for p in polygons:
        for ri, ring in enumerate(p.rings):
            lat = np.asarray(ring[:, 0], np.float64)
            lon = np.asarray(ring[:, 1], np.float64)
            sx, sy = TL.scale_linear(lat, lon, zoom)
            rings_scaled[(p.poly_id, ri)] = (sx, sy)
            x0 = max(int(math.floor(sx.min())), 0)
            x1 = min(int(math.floor(sx.max())), n_side - 1)
            y0 = max(int(math.floor(sy.min())), 0)
            y1 = min(int(math.floor(sy.max())), n_side - 1)
            for tx in range(x0, x1 + 1):
                for ty in range(y0, y1 + 1):
                    rows.append((p.poly_id, ri, tx, ty))
    cand = spark.createDataFrame(
        rows, "poly_id string, ring_idx int, tile_x long, tile_y long"
    )
    ext = int(extent)

    def _clip_half(xs, ys, axis, e, keep_ge):
        """One Sutherland–Hodgman pass; t/intersection vectorized,
        assembly in ring order."""
        if len(xs) == 0:
            return xs, ys
        import numpy as _np

        c = xs if axis == 0 else ys
        xp, yp = _np.roll(xs, 1), _np.roll(ys, 1)
        cp = _np.roll(c, 1)
        qin = (c >= e) if keep_ge else (c <= e)
        pin = (cp >= e) if keep_ge else (cp <= e)
        cross = pin != qin
        with _np.errstate(divide="ignore", invalid="ignore"):
            t = _np.where(cross, (e - cp) / (c - cp), 0.0)
        ix = xp + t * (xs - xp)
        iy = yp + t * (ys - yp)
        if axis == 0:
            ix = _np.where(cross, _np.full_like(ix, e), ix)
        else:
            iy = _np.where(cross, _np.full_like(iy, e), iy)
        ox, oy = [], []
        for i in range(len(xs)):
            if cross[i]:
                ox.append(ix[i])
                oy.append(iy[i])
            if qin[i]:
                ox.append(xs[i])
                oy.append(ys[i])
        return _np.asarray(ox, _np.float64), _np.asarray(oy, _np.float64)

    def _kernel(batches):
        import numpy as _np
        import pandas as _pd

        for pdf in batches:
            out = {
                "poly_id": [], "ring_idx": [], "tile_z": [], "tile_x": [],
                "tile_y": [], "n_pts": [], "qx": [], "qy": [],
            }
            for pid, ri, tx, ty in zip(
                pdf["poly_id"], pdf["ring_idx"], pdf["tile_x"], pdf["tile_y"]
            ):
                sx, sy = rings_scaled[(pid, int(ri))]
                xs, ys = sx, sy
                txf, tyf = float(tx), float(ty)
                xs, ys = _clip_half(xs, ys, 0, txf, True)
                xs, ys = _clip_half(xs, ys, 0, txf + 1.0, False)
                xs, ys = _clip_half(xs, ys, 1, tyf, True)
                xs, ys = _clip_half(xs, ys, 1, tyf + 1.0, False)
                if len(xs) < 3:
                    continue
                qx = _np.floor((xs - txf) * ext + 0.5).astype(_np.int64)
                qy = _np.floor((ys - tyf) * ext + 0.5).astype(_np.int64)
                keep = _np.ones(len(qx), bool)
                keep[1:] = (qx[1:] != qx[:-1]) | (qy[1:] != qy[:-1])
                qx, qy = qx[keep], qy[keep]
                if len(qx) > 1 and qx[0] == qx[-1] and qy[0] == qy[-1]:
                    qx, qy = qx[:-1], qy[:-1]
                if len(qx) < 3:
                    continue
                out["poly_id"].append(pid)
                out["ring_idx"].append(int(ri))
                out["tile_z"].append(zoom)
                out["tile_x"].append(int(tx))
                out["tile_y"].append(int(ty))
                out["n_pts"].append(len(qx))
                out["qx"].append([int(v) for v in qx])
                out["qy"].append([int(v) for v in qy])
            if out["poly_id"]:  # an all-float empty frame breaks the
                yield _pd.DataFrame(out)  # Arrow list<int> conversion

    schema = (
        "poly_id string, ring_idx int, tile_z int, tile_x long, "
        "tile_y long, n_pts int, qx array<int>, qy array<int>"
    )
    return cand.mapInPandas(_kernel, schema)


def hillshade(
    cells: DataFrame,
    cellsize: int = 1,
    azimuth_deg: float = 315.0,
    altitude_deg: float = 45.0,
    x_col: str = "x",
    y_col: str = "y",
    z_col: str = "z",
) -> DataFrame:
    """Analytical hillshade over an integer elevation raster (r4) —
    the GDAL-hillshade / cartographic relief-map operator, composing
    ``slope_aspect``'s exact Horn gradients (terrain visualization at
    raster-tile scale: one shade byte per interior cell).

    Spec (gate-exact by the fixed-IEEE-chain discipline): with Horn
    numerators (gx, gy) (exact int64, scale 8*cellsize) and the unit
    light vector L for (azimuth clockwise-from-north, altitude) in the
    module's +x-east/+y-north grid axes, the surface normal is
    N = (-gx, -gy, 8*cellsize) and

        num = (ax*gx + ay*gy) + az*s8        -- fixed left-assoc chain
        den = sqrt(gx^2 + gy^2 + s8^2)       -- exact int64 sum < 2^53
        shade = floor(255 * max(num, 0) / den + 0.5)  in [0, 255]

    where ax = -cos(alt)*sin(az), ay = -cos(alt)*cos(az) (the -gy
    normal component against a +y-north light), az = sin(alt) are
    Python-computed double literals (repr round-trip; the oracle
    replays them via VARCHAR->DOUBLE strtod). int64->double
    conversions are exact (|gx|,|gy| <= 4*2^24 under slope_aspect's
    |z| < 2^24 contract), every product/sum/div/sqrt is one correctly
    rounded IEEE op in a FIXED order, so every output bit is
    engine-reproducible. Light never negates den: num <= den by
    Cauchy-Schwarz, so shade <= 255 without clamping.

    Returns ``(x, y, z, gx, gy, shade)`` for interior cells only
    (slope_aspect's all-8-neighbors guard). Plan: slope_aspect's
    scatter-agg-join subtree + one codegen projection — no Python, no
    extra shuffle.
    """
    import math

    az_r = math.radians(azimuth_deg)
    alt_r = math.radians(altitude_deg)
    ax = -math.cos(alt_r) * math.sin(az_r)
    ay = -math.cos(alt_r) * math.cos(az_r)
    azc = math.sin(alt_r)
    s8 = 8 * int(cellsize)
    sa = slope_aspect(cells, x_col=x_col, y_col=y_col, z_col=z_col)
    gx = F.col("gx").cast("double")
    gy = F.col("gy").cast("double")
    num = (F.lit(ax) * gx + F.lit(ay) * gy) + F.lit(azc) * F.lit(float(s8))
    den = F.sqrt(
        (
            F.col("gx") * F.col("gx")
            + F.col("gy") * F.col("gy")
            + F.lit(s8 * s8)
        ).cast("double")
    )
    return sa.select(
        "x",
        "y",
        "z",
        "gx",
        "gy",
        F.floor(F.lit(255.0) * F.greatest(num, F.lit(0.0)) / den + F.lit(0.5))
        .cast("int")
        .alias("shade"),
    )


def focal_majority(
    cells: DataFrame,
    radius: int = 1,
    x_col: str = "x",
    y_col: str = "y",
    v_col: str = "v",
) -> DataFrame:
    """(2r+1)^2 focal MAJORITY (mode) filter over a categorical raster
    (r4) — the standard land-cover / classified-raster smoother
    (speckle removal after per-pixel classification), the categorical
    sibling of ``grid_smooth``'s additive box filter.

    Exact spec: for each cell with a COMPLETE (2r+1)^2 neighborhood,
    the output class is the most frequent class among the window's
    cells; count ties break toward the SMALLEST class value
    (deterministic, engine-replayable — no hash or arrival order).
    Border cells (incomplete windows) are dropped, the module's
    explicit-window convention (slope_aspect, grid_smooth).

    Plan: one native (2r+1)^2-offset Generate scatter, ONE hash
    aggregate on (x, y, class) (map-side combinable — the keyspace is
    |cells| x |window classes|), one argmax-by-(count desc, class asc)
    via min(struct) — all whole-stage codegen, no Python, bounded
    state. At 100 TB this is the grid_smooth shuffle shape: work
    linear in cells x window area, never a crossJoin.

    Returns ``(x, y, v_maj, n_maj)``.
    """
    r = int(radius)
    if r < 1:
        raise ValueError(f"radius must be >= 1, got {r}")
    side = 2 * r + 1
    c = cells.select(
        F.col(x_col).cast("bigint").alias("x"),
        F.col(y_col).cast("bigint").alias("y"),
        F.col(v_col).cast("bigint").alias("v"),
    )
    offs = F.array(
        *[
            F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"))
            for dx in range(-r, r + 1)
            for dy in range(-r, r + 1)
        ]
    )
    votes = c.withColumn("_o", F.explode(offs)).select(
        (F.col("x") - F.col("_o.dx")).alias("x"),
        (F.col("y") - F.col("_o.dy")).alias("y"),
        "v",
    )
    counted = votes.groupBy("x", "y", "v").agg(F.count(F.lit(1)).alias("_c"))
    # argmax by (count desc, class asc) == min(struct(-count, class));
    # the window-completeness guard sums the per-class counts back up
    return (
        counted.groupBy("x", "y")
        .agg(
            F.min(F.struct((-F.col("_c")).alias("_nc"), F.col("v").alias("v"))).alias(
                "_m"
            ),
            F.sum("_c").alias("_tot"),
        )
        .where(F.col("_tot") == F.lit(side * side))
        .select(
            "x",
            "y",
            F.col("_m.v").alias("v_maj"),
            (-F.col("_m._nc")).cast("bigint").alias("n_maj"),
        )
    )


def flow_accumulation(
    fd: DataFrame,
    max_rounds: int = 500,
) -> DataFrame:
    """D8 flow ACCUMULATION (r5) — the second hydrology stage over
    :func:`flow_direction`'s output (flow_dir) and beside the basin
    labeling: for every cell, how many cells drain THROUGH it
    (contributing count, self included) — the river-extraction /
    drainage-area primitive.

    Input: (x, y, flow_dir) rows (dir = -1 for pits/edges). The D8
    out-edges form a forest (strict positive drops cannot cycle), so
    accumulation is the subtree-size aggregation computed in
    TOPOLOGICAL WAVES: a cell resolves once every upstream neighbor
    has resolved; acc = 1 + sum(upstream accs). Rounds = longest
    drainage path; ``max_rounds`` raises loudly (a cycle would mean
    corrupted flow_dir input — impossible from flow_direction). At
    continental-DEM scale the wave count follows the longest river
    (thousands); the round body is two narrow shuffles over the
    SHRINKING unresolved set, and a pointer-doubling variant (the
    terminal_labels discipline) trades O(path) rounds for O(log path)
    at ~2x traffic — documented upgrade path.

    Returns (x, y, acc:bigint).
    """
    offs = {d: (dx, dy) for d, dx, dy in _D8_OFFS}
    c = fd.select(
        F.col("x").cast("bigint").alias("x"),
        F.col("y").cast("bigint").alias("y"),
        F.col("flow_dir").cast("int").alias("_d"),
    ).localCheckpoint(eager=True)
    dx_map = F.element_at(
        F.create_map(*[F.lit(v) for d, (dx, _) in offs.items() for v in (d, dx)]),
        F.col("_d"),
    )
    dy_map = F.element_at(
        F.create_map(*[F.lit(v) for d, (_, dy) in offs.items() for v in (d, dy)]),
        F.col("_d"),
    )
    # edge u -> v (downstream); only to OCCUPIED targets (flow_direction
    # already guarantees that, but an inner join keeps it an invariant)
    e = (
        c.where(F.col("_d") >= 0)
        .select(
            F.col("x").alias("ux"),
            F.col("y").alias("uy"),
            (F.col("x") + dx_map).alias("x"),
            (F.col("y") + dy_map).alias("y"),
        )
        .join(c.select("x", "y"), ["x", "y"], "inner")
        .select("ux", "uy", F.col("x").alias("vx"), F.col("y").alias("vy"))
        .localCheckpoint(eager=True)
    )
    n_up = e.groupBy(F.col("vx").alias("x"), F.col("vy").alias("y")).agg(
        F.count(F.lit(1)).alias("_nup")
    )
    pending = c.select("x", "y").join(n_up, ["x", "y"], "left").select(
        "x", "y", F.coalesce("_nup", F.lit(0)).alias("_nup")
    ).localCheckpoint(eager=True)
    resolved_parts = []
    # frontier: cells whose every upstream neighbor is resolved
    frontier = pending.where(F.col("_nup") == 0).select(
        "x", "y", F.lit(1).cast("bigint").alias("acc")
    ).localCheckpoint(eager=True)
    pending = pending.where(F.col("_nup") > 0).localCheckpoint(eager=True)
    acc_known = frontier
    for _ in range(max_rounds):
        resolved_parts.append(frontier)
        if pending.isEmpty():
            pending = None
            break
        # push the frontier's acc downstream; a pending cell resolves
        # when ALL its upstream contributions have arrived
        contrib = (
            e.join(
                acc_known.select(
                    F.col("x").alias("ux"), F.col("y").alias("uy"), "acc"
                ),
                ["ux", "uy"],
            )
            .groupBy(F.col("vx").alias("x"), F.col("vy").alias("y"))
            .agg(F.sum("acc").alias("_s"), F.count(F.lit(1)).alias("_k"))
        )
        nxt = (
            pending.join(contrib, ["x", "y"])
            .where(F.col("_k") == F.col("_nup"))
            .select("x", "y", (F.lit(1) + F.col("_s")).alias("acc"))
            .localCheckpoint(eager=True)
        )
        if nxt.isEmpty():
            raise ValueError(
                "flow_accumulation: no progress — cyclic flow_dir input"
            )
        pending = pending.join(
            nxt.select("x", "y"), ["x", "y"], "left_anti"
        ).localCheckpoint(eager=True)
        acc_known = acc_known.unionAll(nxt).localCheckpoint(eager=True)
        frontier = nxt
    if pending is not None and not pending.isEmpty():
        raise ValueError(
            f"flow_accumulation did not converge in {max_rounds} rounds; "
            "raise max_rounds for longer drainage paths"
        )
    out = resolved_parts[0]
    for p in resolved_parts[1:]:
        out = out.unionAll(p)
    return out
