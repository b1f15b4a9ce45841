"""Raster tile math (SURVEY.md §2.3 G6) — slippy-map z/x/y, vectorized.

The reference assigns decoded geometries to raster tiles via its r-tree
over the tile grid (BASELINE.json:6). Here tile assignment is pure
arithmetic: the public Web-Mercator "slippy map" formula for points,
and a grid cover for polygons.

A ``linear`` variant (equirectangular, floor-only, no transcendentals)
also exists so tile queries can be verified bit-exactly against a
duckdb SQL oracle (log/tan last-ulp behavior is engine-specific; the
true Mercator path is verified against the pure-Python oracle in
pytest instead).
"""

from __future__ import annotations

import numpy as np

MAX_MERCATOR_LAT = 85.05112878


def point_to_tile_mercator(lat: np.ndarray, lon: np.ndarray, z: int) -> tuple[np.ndarray, np.ndarray]:
    """Slippy-map (x, y) at zoom z. Lat clamped to the Mercator domain."""
    n = float(1 << z)
    latc = np.clip(np.asarray(lat, np.float64), -MAX_MERCATOR_LAT, MAX_MERCATOR_LAT)
    lonf = np.asarray(lon, np.float64)
    x = np.floor((lonf + 180.0) / 360.0 * n).astype(np.int64)
    lat_rad = np.radians(latc)
    y = np.floor((1.0 - np.log(np.tan(lat_rad) + 1.0 / np.cos(lat_rad)) / np.pi) / 2.0 * n).astype(
        np.int64
    )
    np.clip(x, 0, int(n) - 1, out=x)
    np.clip(y, 0, int(n) - 1, out=y)
    return x, y


def point_to_tile_linear(lat: np.ndarray, lon: np.ndarray, z: int) -> tuple[np.ndarray, np.ndarray]:
    """Equirectangular tile grid: floor-only math, engine-portable.

    x = floor((lon+180)/360 * 2^z), y = floor((90-lat)/180 * 2^z).
    The duckdb oracle uses the literal same expression.
    """
    n = float(1 << z)
    x = np.floor((np.asarray(lon, np.float64) + 180.0) / 360.0 * n).astype(np.int64)
    y = np.floor((90.0 - np.asarray(lat, np.float64)) / 180.0 * n).astype(np.int64)
    np.clip(x, 0, int(n) - 1, out=x)
    np.clip(y, 0, int(n) - 1, out=y)
    return x, y


def polygon_tile_cover_mercator(rings: list[np.ndarray], z: int) -> np.ndarray:
    """All (x, y) tiles at zoom z whose extent intersects the polygon.

    Scan the polygon bbox's tile range; a tile is kept if any of its
    corners/center is inside OR any polygon vertex falls in the tile.
    Exact for the fixture scales used here; the pure-Python oracle uses
    the identical rule (tests/oracle_geo.py) so assignments match 1:1.
    """
    from .geometry import point_in_polygon, ring_bbox

    lat_min, lat_max, lon_min, lon_max = ring_bbox(rings)
    x0, y1 = point_to_tile_mercator(np.array([lat_min]), np.array([lon_min]), z)
    x1, y0 = point_to_tile_mercator(np.array([lat_max]), np.array([lon_max]), z)
    xs = np.arange(int(x0[0]), int(x1[0]) + 1)
    ys = np.arange(int(y0[0]), int(y1[0]) + 1)
    if len(xs) == 0 or len(ys) == 0:
        return np.empty((0, 2), dtype=np.int64)
    gx, gy = np.meshgrid(xs, ys, indexing="ij")
    gx, gy = gx.ravel(), gy.ravel()
    n = float(1 << z)
    # tile corner lat/lon (inverse mercator)
    def tile_lat(yy):
        return np.degrees(np.arctan(np.sinh(np.pi * (1.0 - 2.0 * yy / n))))

    lon_w = gx / n * 360.0 - 180.0
    lon_e = (gx + 1) / n * 360.0 - 180.0
    lat_n = tile_lat(gy.astype(np.float64))
    lat_s = tile_lat((gy + 1).astype(np.float64))
    keep = np.zeros(len(gx), dtype=bool)
    # corners + center inside polygon
    for plat, plon in [
        (lat_n, lon_w), (lat_n, lon_e), (lat_s, lon_w), (lat_s, lon_e),
        ((lat_n + lat_s) / 2.0, (lon_w + lon_e) / 2.0),
    ]:
        keep |= point_in_polygon(plat, plon, rings)
    # polygon vertices inside tile
    for ring in rings:
        vx, vy = point_to_tile_mercator(ring[:, 0], ring[:, 1], z)
        keep |= np.isin(gx * (1 << 30) + gy, vx * (1 << 30) + vy)
    # polygon edges crossing tiles: sample edges densely (fixture-scale)
    for ring in rings:
        closed = np.vstack([ring, ring[:1]])
        for i in range(len(closed) - 1):
            t = np.linspace(0.0, 1.0, 33)
            slat = closed[i, 0] + (closed[i + 1, 0] - closed[i, 0]) * t
            slon = closed[i, 1] + (closed[i + 1, 1] - closed[i, 1]) * t
            sx, sy = point_to_tile_mercator(slat, slon, z)
            keep |= np.isin(gx * (1 << 30) + gy, sx * (1 << 30) + sy)
    return np.stack([gx[keep], gy[keep]], axis=1)


def scale_linear(lat: np.ndarray, lon: np.ndarray, z: int) -> tuple[np.ndarray, np.ndarray]:
    """Continuous (unfloored) tile-space coords for the linear scheme."""
    n = float(1 << z)
    sx = (np.asarray(lon, np.float64) + 180.0) / 360.0 * n
    sy = (90.0 - np.asarray(lat, np.float64)) / 180.0 * n
    return sx, sy


def scale_mercator(lat: np.ndarray, lon: np.ndarray, z: int) -> tuple[np.ndarray, np.ndarray]:
    """Continuous (unfloored) tile-space coords, Web-Mercator scheme."""
    n = float(1 << z)
    latc = np.clip(np.asarray(lat, np.float64), -MAX_MERCATOR_LAT, MAX_MERCATOR_LAT)
    sx = (np.asarray(lon, np.float64) + 180.0) / 360.0 * n
    lat_rad = np.radians(latc)
    sy = (1.0 - np.log(np.tan(lat_rad) + 1.0 / np.cos(lat_rad)) / np.pi) / 2.0 * n
    return sx, sy


def segment_tiles_crossing(
    sx0: float, sy0: float, sx1: float, sy1: float, z: int
) -> set[tuple[int, int]]:
    """INDEPENDENT scalar supercover oracle (tests only): split the
    segment at every grid-line crossing parameter and emit the cell of
    each piece's midpoint. Different algorithm from the per-column
    engine plan (operators.tiling.assign_line_tiles) on purpose — the
    pytest equivalence check is only meaningful if the two derivations
    share no code. Degenerate boundary touches (the engine's closed
    per-column interval keeps a tile the open midpoint rule misses)
    are added via the endpoint columns, matching the engine convention.
    Pieces outside the [0, 2^z)^2 grid are DROPPED, not clamped —
    an off-grid segment paints no tile (same convention as the engine's
    GREATEST/LEAST range intersection and the duckdb driver oracle).
    """
    nmax = (1 << z) - 1

    def cell(x: float, y: float) -> tuple[int, int] | None:
        ix, iy = int(np.floor(x)), int(np.floor(y))
        if 0 <= ix <= nmax and 0 <= iy <= nmax:
            return ix, iy
        return None

    ts = {0.0, 1.0}
    dx, dy = sx1 - sx0, sy1 - sy0
    for lo, d, a in ((sx0, dx, sx0), (sy0, dy, sy0)):
        if d != 0.0:
            for g in range(int(np.floor(min(a, a + d))), int(np.ceil(max(a, a + d))) + 1):
                t = (g - lo) / d
                if 0.0 < t < 1.0:
                    ts.add(t)
    ts = sorted(ts)
    out: set[tuple[int, int]] = set()
    for i in range(len(ts) - 1):
        tm = (ts[i] + ts[i + 1]) / 2.0
        c = cell(sx0 + dx * tm, sy0 + dy * tm)
        if c is not None:
            out.add(c)
    # engine convention: endpoints' own cells and boundary-degenerate
    # columns are included (closed intervals per column)
    for ex, ey in ((sx0, sy0), (sx1, sy1)):
        c = cell(ex, ey)
        if c is not None:
            out.add(c)
    return out


def quadkey_col(lat, lon, z: int):
    """Bing-maps quadkey string of the LINEAR z-level tile as a native
    Column expression (public quadkey scheme: digit i from the most
    significant bit is ``xbit + 2*ybit``). Linear (equirectangular)
    grid like ``point_to_tile_linear``, so the whole expression — floor,
    integer div/mod, concat — is engine-exact and whole-stage codegen;
    zero Python. Quadkeys of different zoom levels never collide (they
    differ in LENGTH — the prefix property is the point: tile b is an
    ancestor of tile a ⟺ quadkey(b) is a prefix of quadkey(a)), which
    makes pyramid rollups a plain ``substring`` groupBy.
    """
    from pyspark.sql import functions as F

    if not (1 <= z <= 25):
        raise ValueError("quadkey zoom must be in [1, 25]")
    n = 1 << z
    x = F.least(
        F.greatest(
            F.floor((lon + F.lit(180.0)) / F.lit(360.0) * F.lit(float(n))), F.lit(0)
        ),
        F.lit(n - 1),
    )
    y = F.least(
        F.greatest(
            F.floor((lat + F.lit(90.0)) / F.lit(180.0) * F.lit(float(n))), F.lit(0)
        ),
        F.lit(n - 1),
    )
    digits = []
    for i in range(1, z + 1):
        s = 1 << (z - i)
        d = ((x / F.lit(s)).cast("bigint") % 2) + ((y / F.lit(s)).cast("bigint") % 2) * 2
        digits.append(d.cast("string"))
    return F.concat(*digits)
