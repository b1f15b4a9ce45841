"""Exact geometry kernels: point-in-polygon + haversine (SURVEY.md §2.3).

These are the "exact refine" half of the two-stage spatial join that
replaces the reference's r-tree query (coarse MBR prune -> exact test,
BASELINE.json:6). All vectorized numpy, run inside Arrow-batched UDFs.

Boundary convention (documented per SURVEY.md §7): crossing-number
(even-odd) ray cast with the half-open edge rule
``(yi > y) != (yj > y)`` and strict ``x < x_intersection``. A point
exactly on a horizontal edge is OUTSIDE; on a left-ish vertical edge is
INSIDE following the half-open rule. The SAME formula, with the SAME
float64 operation order, is used in the pure-Python oracle
(tests/oracle_geo.py) so Spark and oracle agree bit-for-bit.
"""

from __future__ import annotations

import numpy as np

EARTH_RADIUS_M = 6371008.8  # IUGG mean Earth radius


def point_in_ring(lat: np.ndarray, lon: np.ndarray, ring: np.ndarray) -> np.ndarray:
    """Vectorized crossing-number test of n points vs one ring.

    ring: shape (m, 2) array of (lat, lon) vertices, closed or open
    (closure handled via wrap-around edge). Returns bool array (n,).
    """
    y = np.asarray(lat, dtype=np.float64)
    x = np.asarray(lon, dtype=np.float64)
    ry = ring[:, 0]
    rx = ring[:, 1]
    # drop an explicit closing vertex to avoid a degenerate edge
    if len(ry) > 1 and ry[0] == ry[-1] and rx[0] == rx[-1]:
        ry, rx = ry[:-1], rx[:-1]
    m = len(ry)
    inside = np.zeros(len(y), dtype=bool)
    j = m - 1
    with np.errstate(divide="ignore", invalid="ignore"):
        for i in range(m):
            yi, xi = ry[i], rx[i]
            yj, xj = ry[j], rx[j]
            cond = (yi > y) != (yj > y)
            # same operation order as the oracle: (xj-xi)*(y-yi)/(yj-yi)+xi
            xint = (xj - xi) * (y - yi) / (yj - yi) + xi
            crosses = cond & (x < xint)
            inside ^= crosses
            j = i
    return inside


def point_in_polygon(lat: np.ndarray, lon: np.ndarray, rings: list[np.ndarray]) -> np.ndarray:
    """Even-odd over multiple rings: outer ring + holes (each flips)."""
    inside = np.zeros(len(np.asarray(lat)), dtype=bool)
    for ring in rings:
        inside ^= point_in_ring(lat, lon, ring)
    return inside


def haversine_m(
    lat1: np.ndarray, lon1: np.ndarray, lat2: np.ndarray, lon2: np.ndarray
) -> np.ndarray:
    """Great-circle distance in meters, float64, fixed operation order."""
    p1 = np.radians(np.asarray(lat1, dtype=np.float64))
    p2 = np.radians(np.asarray(lat2, dtype=np.float64))
    dphi = p2 - p1
    dlmb = np.radians(np.asarray(lon2, dtype=np.float64)) - np.radians(
        np.asarray(lon1, dtype=np.float64)
    )
    a = np.sin(dphi / 2.0) ** 2 + np.cos(p1) * np.cos(p2) * np.sin(dlmb / 2.0) ** 2
    return 2.0 * EARTH_RADIUS_M * np.arcsin(np.sqrt(np.clip(a, 0.0, 1.0)))


def euclid2_deg(
    lat1: np.ndarray, lon1: np.ndarray, lat2: np.ndarray, lon2: np.ndarray
) -> np.ndarray:
    """Squared Euclidean distance in degree space.

    Used for the duckdb-oracle kNN queries because it is exactly
    reproducible across engines (only IEEE +,-,* — no libm calls whose
    last-ulp behavior could differ between the JVM, numpy and duckdb).
    """
    dlat = np.asarray(lat1, np.float64) - np.asarray(lat2, np.float64)
    dlon = np.asarray(lon1, np.float64) - np.asarray(lon2, np.float64)
    return dlat * dlat + dlon * dlon


def ring_bbox(rings: list[np.ndarray]) -> tuple[float, float, float, float]:
    """(lat_min, lat_max, lon_min, lon_max) over all rings."""
    lat_min = min(float(r[:, 0].min()) for r in rings)
    lat_max = max(float(r[:, 0].max()) for r in rings)
    lon_min = min(float(r[:, 1].min()) for r in rings)
    lon_max = max(float(r[:, 1].max()) for r in rings)
    return lat_min, lat_max, lon_min, lon_max
