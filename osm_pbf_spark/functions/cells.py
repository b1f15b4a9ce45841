"""H3/S2-style hierarchical cell index, hand-rolled (SURVEY.md §2.3 G1).

Replaces the reference's in-process r-tree keys (BASELINE.json:6) with a
deterministic, vectorizable, hierarchical cell id usable as a Spark join
key: a Morton (Z-order) interleave of quantized lat/lon — the public
"Bing quadkey" / Z-order-curve construction. No ``h3`` package exists in
this environment, and the north rule only requires "H3/S2-style"
(BASELINE.json:14): hierarchical, prefix-nested, neighbor-computable.

Layout of a cell id (fits a positive int64 for level <= 29):

    cell = (morton(lon_bits, lat_bits) << 5) | level

where ``lon`` occupies even bit positions and ``lat`` odd positions of
the 2*level-bit Morton code. Parent/child are bit shifts; neighbors are
de-interleave -> +-1 (lon wraps, lat clamps) -> re-interleave.

All kernels are numpy-vectorized (uint64 bit magic) so they run inside
Arrow-batched pandas UDFs with zero per-row Python.
"""

from __future__ import annotations

import numpy as np

MAX_LEVEL = 29  # 2*29 + 5 = 63 bits -> always a positive int64

_M1 = np.uint64(0x5555555555555555)
_M2 = np.uint64(0x3333333333333333)
_M4 = np.uint64(0x0F0F0F0F0F0F0F0F)
_M8 = np.uint64(0x00FF00FF00FF00FF)
_M16 = np.uint64(0x0000FFFF0000FFFF)
_M32 = np.uint64(0x00000000FFFFFFFF)


def _part1by1(x: np.ndarray) -> np.ndarray:
    """Spread the low 32 bits of each uint64 to even bit positions."""
    x = x & _M32
    x = (x | (x << np.uint64(16))) & _M16
    x = (x | (x << np.uint64(8))) & _M8
    x = (x | (x << np.uint64(4))) & _M4
    x = (x | (x << np.uint64(2))) & _M2
    x = (x | (x << np.uint64(1))) & _M1
    return x


def _compact1by1(x: np.ndarray) -> np.ndarray:
    """Inverse of _part1by1: gather even bit positions into low 32 bits."""
    x = x & _M1
    x = (x | (x >> np.uint64(1))) & _M2
    x = (x | (x >> np.uint64(2))) & _M4
    x = (x | (x >> np.uint64(4))) & _M8
    x = (x | (x >> np.uint64(8))) & _M16
    x = (x | (x >> np.uint64(16))) & _M32
    return x


def quantize(lat: np.ndarray, lon: np.ndarray, level: int) -> tuple[np.ndarray, np.ndarray]:
    """lat/lon degrees -> integer grid coords in [0, 2^level)."""
    n = np.int64(1) << np.int64(level)
    x = np.floor((np.asarray(lon, dtype=np.float64) + 180.0) / 360.0 * n).astype(np.int64)
    y = np.floor((np.asarray(lat, dtype=np.float64) + 90.0) / 180.0 * n).astype(np.int64)
    np.clip(x, 0, int(n) - 1, out=x)
    np.clip(y, 0, int(n) - 1, out=y)
    return x, y


def xy_to_cell(x: np.ndarray, y: np.ndarray, level: int) -> np.ndarray:
    if not 0 <= level <= MAX_LEVEL:
        raise ValueError(f"level must be in [0, {MAX_LEVEL}], got {level}")
    morton = _part1by1(np.asarray(x).astype(np.uint64)) | (
        _part1by1(np.asarray(y).astype(np.uint64)) << np.uint64(1)
    )
    return ((morton << np.uint64(5)) | np.uint64(level)).astype(np.int64)


def cell_id(lat: np.ndarray, lon: np.ndarray, level: int) -> np.ndarray:
    """Vectorized (lat, lon, level) -> int64 cell id."""
    x, y = quantize(lat, lon, level)
    return xy_to_cell(x, y, level)


def cell_level(cell: np.ndarray) -> np.ndarray:
    return (np.asarray(cell).astype(np.uint64) & np.uint64(0x1F)).astype(np.int64)


def cell_to_xy(cell: np.ndarray) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """cell id -> (x, y, level)."""
    c = np.asarray(cell).astype(np.uint64)
    level = (c & np.uint64(0x1F)).astype(np.int64)
    morton = c >> np.uint64(5)
    x = _compact1by1(morton).astype(np.int64)
    y = _compact1by1(morton >> np.uint64(1)).astype(np.int64)
    return x, y, level


def cell_bounds(cell: np.ndarray) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """cell -> (lat_min, lat_max, lon_min, lon_max) in degrees."""
    x, y, level = cell_to_xy(cell)
    n = (np.int64(1) << level).astype(np.float64)
    lon_min = x / n * 360.0 - 180.0
    lon_max = (x + 1) / n * 360.0 - 180.0
    lat_min = y / n * 180.0 - 90.0
    lat_max = (y + 1) / n * 180.0 - 90.0
    return lat_min, lat_max, lon_min, lon_max


def parent(cell: np.ndarray, parent_level: int) -> np.ndarray:
    """Ancestor cell at ``parent_level`` (<= each cell's own level)."""
    c = np.asarray(cell).astype(np.uint64)
    level = (c & np.uint64(0x1F)).astype(np.uint64)
    if np.any(level < np.uint64(parent_level)):
        raise ValueError("parent_level deeper than cell level")
    morton = c >> np.uint64(5)
    shift = (np.uint64(2) * (level - np.uint64(parent_level))).astype(np.uint64)
    return (((morton >> shift) << np.uint64(5)) | np.uint64(parent_level)).astype(np.int64)


def children(cell: int) -> list[int]:
    """The four child cells one level down (scalar helper for covers)."""
    c = np.uint64(cell)
    level = int(c & np.uint64(0x1F))
    if level >= MAX_LEVEL:
        raise ValueError("cannot descend below MAX_LEVEL")
    morton = int(c >> np.uint64(5))
    return [int((((morton << 2) | q) << 5) | (level + 1)) for q in range(4)]


def neighbors(cell: np.ndarray, ring: int = 1) -> np.ndarray:
    """All cells within a Chebyshev ring (incl. self) of each input cell,
    each ring at its own cell's level (input levels may be mixed).

    lon wraps around the antimeridian; lat clamps at the poles.
    Returns shape (n_cells, (2*ring+1)**2) int64; duplicate ids possible
    at lat clamps (callers dedupe via distinct()).
    """
    x, y, level = cell_to_xy(cell)
    n = np.int64(1) << level  # per-cell grid size
    offs = np.arange(-ring, ring + 1, dtype=np.int64)
    dx, dy = np.meshgrid(offs, offs, indexing="ij")
    dx = dx.ravel()[None, :]
    dy = dy.ravel()[None, :]
    nx = (x[:, None] + dx) % n[:, None]  # wrap lon
    ny = np.clip(y[:, None] + dy, 0, (n - 1)[:, None])  # clamp lat
    out = np.empty(nx.shape, dtype=np.int64)
    for lv in np.unique(level):
        rows = level == lv
        out[rows] = xy_to_cell(nx[rows], ny[rows], int(lv))
    return out


def _quant_col(col, offset: float, extent: float, level: int):
    """NATIVE quantize — same IEEE op order as :func:`quantize`."""
    from pyspark.sql import functions as F

    n = 1 << level
    nmax = F.lit(n - 1).cast("long")
    q = F.floor((col + F.lit(offset)) / F.lit(extent) * F.lit(float(n)))
    return F.least(F.greatest(q.cast("long"), F.lit(0).cast("long")), nmax)


def _spread_col(c):
    """NATIVE _part1by1: spread low 32 bits to even positions (signed
    int64 two's complement gives identical bit patterns to uint64 here —
    only left shifts, ORs and ANDs)."""
    from pyspark.sql import functions as F

    c = c.bitwiseAND(F.lit(0x00000000FFFFFFFF))
    c = c.bitwiseOR(F.shiftleft(c, 16)).bitwiseAND(F.lit(0x0000FFFF0000FFFF))
    c = c.bitwiseOR(F.shiftleft(c, 8)).bitwiseAND(F.lit(0x00FF00FF00FF00FF))
    c = c.bitwiseOR(F.shiftleft(c, 4)).bitwiseAND(F.lit(0x0F0F0F0F0F0F0F0F))
    c = c.bitwiseOR(F.shiftleft(c, 2)).bitwiseAND(F.lit(0x3333333333333333))
    c = c.bitwiseOR(F.shiftleft(c, 1)).bitwiseAND(F.lit(0x5555555555555555))
    return c


def xy_to_cell_col(x_col, y_col, level: int):
    """NATIVE :func:`xy_to_cell` from already-quantized x/y long columns."""
    from pyspark.sql import functions as F

    morton = _spread_col(x_col).bitwiseOR(F.shiftleft(_spread_col(y_col), 1))
    return F.shiftleft(morton, 5).bitwiseOR(F.lit(level)).cast("long")


def cell_id_col(lat_col, lon_col, level: int):
    """NATIVE Spark-column version of :func:`cell_id` — bit-identical.

    Quantization is IEEE float64 arithmetic in the same operation order
    as the numpy kernel (add, divide, multiply-by-power-of-two, floor),
    and the Morton spread is shifts/masks on int64 — all whole-stage
    codegen, no Python hop. tests/test_cells.py asserts equality with
    the numpy kernel across random and boundary coordinates.
    """
    if not 0 <= level <= MAX_LEVEL:
        raise ValueError(f"level must be in [0, {MAX_LEVEL}], got {level}")
    x = _quant_col(lon_col, 180.0, 360.0, level)
    y = _quant_col(lat_col, 90.0, 180.0, level)
    return xy_to_cell_col(x, y, level)


def parent_col(cell_col, cell_level: int, parent_level: int):
    """NATIVE ancestor cell: matches :func:`parent` for uniform-level input."""
    from pyspark.sql import functions as F

    if parent_level > cell_level:
        raise ValueError("parent_level deeper than cell level")
    shift = 2 * (cell_level - parent_level)
    morton = F.shiftrightunsigned(cell_col, 5)
    return F.shiftleft(F.shiftrightunsigned(morton, shift), 5).bitwiseOR(
        F.lit(parent_level)
    ).cast("long")


def cell_size_deg(level: int) -> tuple[float, float]:
    """(lat_extent, lon_extent) of one cell in degrees at ``level``."""
    n = float(1 << level)
    return 180.0 / n, 360.0 / n
