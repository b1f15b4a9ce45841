"""Two-stage point-in-polygon join (SURVEY.md §2.3 G2/G3/G4).

Replaces the reference's in-process r-tree query (BASELINE.json:6):
the r-tree's coarse MBR descent becomes a BROADCAST cell-cover equi-join
and its exact leaf test becomes one stateless Arrow refine
(refine_in_polygons, one mapInArrow).

    stage 1 (coarse): points.withColumn("cell", ...)
                      .join(broadcast(cover), "cell")
        -- a BroadcastHashJoin: no shuffle of the (huge) point side.
    stage 2 (exact):  candidates flagged `full` skip refinement (their
                      whole cell is inside the polygon — the r-tree
                      "interior node" shortcut); `partial` candidates go
                      through a vectorized crossing-number test.

At 10^12-doc scale stage 1 stays shuffle-free (cover is tiny:
#polygons x cells/polygon) and stage 2 is narrow. For polygon sets too
large to broadcast there is a `shuffle` strategy: the polygon list
becomes a rings frame and runs pip_join_rings' plan, which shuffles
the point side on cell — and THERE a dense urban cell is a hot key,
killed by operators.skew measured salting.
"""

from __future__ import annotations

from dataclasses import dataclass, field

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions import cells as C
from ..functions.geometry import point_in_polygon, ring_bbox


@dataclass
class Polygon:
    poly_id: str
    rings: list[np.ndarray]  # each (m, 2) of (lat, lon); ring 0 outer, rest holes
    tags: dict = field(default_factory=dict)


def _segments_cross_rect(p0: np.ndarray, p1: np.ndarray, rect: np.ndarray) -> np.ndarray:
    """Does segment p0->p1 intersect each rect? Liang-Barsky, vectorized
    over rects. p0/p1: (2,) lat,lon. rect: (k, 4) lat0,lat1,lon0,lon1."""
    d = p1 - p0
    t0 = np.zeros(len(rect))
    t1 = np.ones(len(rect))
    ok = np.ones(len(rect), dtype=bool)
    for dim, lo_i, hi_i in ((0, 0, 1), (1, 2, 3)):
        lo = rect[:, lo_i]
        hi = rect[:, hi_i]
        if d[dim] == 0.0:
            ok &= (p0[dim] >= lo) & (p0[dim] <= hi)
        else:
            ta = (lo - p0[dim]) / d[dim]
            tb = (hi - p0[dim]) / d[dim]
            tmin = np.minimum(ta, tb)
            tmax = np.maximum(ta, tb)
            t0 = np.maximum(t0, tmin)
            t1 = np.minimum(t1, tmax)
    return ok & (t0 <= t1)


def polygon_cell_cover(polygons: list[Polygon], level: int) -> pd.DataFrame:
    """Cover each polygon with cells at ``level`` -> rows (cell, poly_id, full).

    Classification per cell (sound, possibly conservative):
      - candidate set = all cells intersecting the polygon bbox;
      - indicators: any of the cell's 4 corners + center inside; any
        polygon vertex inside the (eps-expanded) cell; any polygon edge
        crossing the (eps-expanded) cell;
      - no indicator        -> cell cannot intersect polygon: dropped
        (a polygon overlapping a rect with no vertex inside and no edge
        crossing would have to contain the rect -> corners inside);
      - all 5 samples inside AND no vertex inside AND no edge crossing
        -> `full` (entire cell inside polygon; refine skipped);
      - otherwise -> `partial` (exact PIP refine decides).
    """
    rows = {"cell": [], "poly_id": [], "full": []}
    for poly in polygons:
        lat_min, lat_max, lon_min, lon_max = ring_bbox(poly.rings)
        x0, y0 = C.quantize(np.array([lat_min]), np.array([lon_min]), level)
        x1, y1 = C.quantize(np.array([lat_max]), np.array([lon_max]), level)
        xs = np.arange(int(x0[0]), int(x1[0]) + 1)
        ys = np.arange(int(y0[0]), int(y1[0]) + 1)
        gx, gy = np.meshgrid(xs, ys, indexing="ij")
        gx, gy = gx.ravel(), gy.ravel()
        cell_ids = C.xy_to_cell(gx, gy, level)
        c_lat0, c_lat1, c_lon0, c_lon1 = C.cell_bounds(cell_ids)

        # the 4 corners + center of every cell in ONE crossing-number pass
        samples = point_in_polygon(
            np.concatenate([c_lat0, c_lat0, c_lat1, c_lat1, (c_lat0 + c_lat1) / 2.0]),
            np.concatenate([c_lon0, c_lon1, c_lon0, c_lon1, (c_lon0 + c_lon1) / 2.0]),
            poly.rings,
        )
        inside_count = samples.reshape(5, len(cell_ids)).sum(axis=0)

        eps_lat = (c_lat1 - c_lat0) * 1e-9
        eps_lon = (c_lon1 - c_lon0) * 1e-9
        rect = np.stack(
            [c_lat0 - eps_lat, c_lat1 + eps_lat, c_lon0 - eps_lon, c_lon1 + eps_lon], axis=1
        )

        vertex_in = np.zeros(len(cell_ids), dtype=bool)
        edge_cross = np.zeros(len(cell_ids), dtype=bool)
        for ring in poly.rings:
            for v in ring:
                vertex_in |= (
                    (v[0] >= rect[:, 0]) & (v[0] <= rect[:, 1])
                    & (v[1] >= rect[:, 2]) & (v[1] <= rect[:, 3])
                )
            closed = np.vstack([ring, ring[:1]])
            for i in range(len(closed) - 1):
                edge_cross |= _segments_cross_rect(closed[i], closed[i + 1], rect)

        boundary = vertex_in | edge_cross
        full = (inside_count == 5) & ~boundary
        keep = (inside_count > 0) | boundary
        rows["cell"].extend(cell_ids[keep].tolist())
        rows["poly_id"].extend([poly.poly_id] * int(keep.sum()))
        rows["full"].extend(full[keep].tolist())
    return pd.DataFrame(rows)


def with_cell(df: DataFrame, level: int, lat_col: str = "lat", lon_col: str = "lon",
              out_col: str = "cell") -> DataFrame:
    """Attach the Morton cell id — NATIVE column expression (whole-stage
    codegen; bit-identical to the numpy kernel, see cells.cell_id_col).
    Keeping this JVM-side removes a full-table Python hop from every
    spatial join / kNN / tiling pipeline."""
    return df.withColumn(out_col, C.cell_id_col(F.col(lat_col), F.col(lon_col), level))


def _explode_multilevel_cells(
    points: DataFrame, levels: list[int], lat_col: str, lon_col: str
) -> DataFrame:
    """Point side of a multi-level cover join: one ``cell`` row per
    distinct cover level. The finest-level cell is computed ONCE with
    the (large) Morton encode expression and every coarser level is
    derived from it by parent bit-shifts — EXACT (scaling by a power of
    two is lossless in float64, floor nests, and the clamp commutes
    with the shift; pinned bit-identical by tests/test_cells_native) —
    because exploding an array of full encode trees drops the Generate
    out of whole-stage codegen (~20x slower, measured 3.7 s vs 0.16 s
    on a 200k x 3-level probe)."""
    if not levels:  # nothing to cover: a null cell joins no cover row
        return points.withColumn("cell", F.lit(None).cast("long"))
    fin = max(levels)
    fine = C.cell_id_col(F.col(lat_col), F.col(lon_col), fin)
    # withColumn, not a rename: a point frame read back from the
    # engine's own table already carries a ``cell`` column to replace
    if len(levels) == 1:
        return points.withColumn("cell", fine)
    return points.withColumn("_cell_fin", fine).withColumn(
        "cell",
        F.explode(F.array(*[
            F.col("_cell_fin") if lvl == fin else C.parent_col(F.col("_cell_fin"), fin, lvl)
            for lvl in levels
        ])),
    ).drop("_cell_fin")


def pick_cover_level(
    poly: Polygon, target_cells: int = 256, min_level: int = 2, max_level: int = 16
) -> int:
    """Cover-level normalization (the S2 ``max_cells`` idea): choose the
    level where the polygon's bbox spans ~``target_cells`` cells. Small
    polygons get FINE cells (thin boundary band -> most candidates take
    the full-cell JVM bypass); huge polygons get COARSE cells (bounded
    cover size to compute and broadcast). One fixed global level
    degrades one of the two."""
    lat_min, lat_max, lon_min, lon_max = ring_bbox(poly.rings[:1])
    side = float(max(lat_max - lat_min, (lon_max - lon_min) / 2.0, 1e-12))
    import math

    # cells-per-side ~ sqrt(target): level s.t. 180/2^level ~ side/sqrt(target)
    level = int(math.floor(math.log2(180.0 * math.sqrt(target_cells) / side)))
    return max(min_level, min(max_level, level))


def pip_join(
    spark: SparkSession,
    points: DataFrame,
    polygons: list[Polygon],
    level: int | str = "auto",
    lat_col: str = "lat",
    lon_col: str = "lon",
    strategy: str = "broadcast",
    target_cells: int = 256,
    salt_threshold: int = 2_000_000,
) -> DataFrame:
    """points x polygons containment join -> points columns + poly_id.

    EXACT semantics: a row (p, poly) is emitted iff the crossing-number
    test (functions.geometry convention) says p in poly — matching the
    brute-force oracle bit-for-bit. ``level="auto"`` covers each polygon
    at its own normalized level (see pick_cover_level) — bounded cover
    size AND thin refine bands for any polygon-size mix. All levels run
    in ONE plan: the point side explodes to one cell per distinct level
    (level-tagged cell ids cannot collide).

    ``strategy="broadcast"`` broadcasts the driver-built cover and
    refines the boundary rows with refine_in_polygons. The
    ``"shuffle"`` strategy, for polygon sets too large to broadcast,
    turns the list into a rings frame and runs pip_join_rings' salted
    shuffle join and refine on it, with the cover levels picked here on
    the driver (no persisted cover, no level collect).
    """
    if strategy == "shuffle":
        levels = sorted({
            level if level != "auto" else pick_cover_level(p, target_cells)
            for p in polygons
        })
        polys = _grouped_rings(rings_frame(spark, polygons))
        cover = _rings_cover_from_grouped(polys, level, target_cells)
        return _join_rings(
            spark, points, polys, cover, levels, lat_col, lon_col, salt_threshold
        )
    if strategy != "broadcast":
        raise ValueError(f"strategy must be 'broadcast' or 'shuffle', got {strategy!r}")
    # SINGLE-PLAN multi-level join: cell ids embed their level in the
    # low 5 bits (cells.cell_id_col), so covers at different levels
    # never collide — one broadcast join over the union of all
    # per-level covers, with the point side exploded to its cell at
    # each distinct level, then ONE refine stage
    by_level: dict[int, list[Polygon]] = {}
    for p in polygons:
        lvl = level if level != "auto" else pick_cover_level(p, target_cells)
        by_level.setdefault(lvl, []).append(p)
    covers = [polygon_cell_cover(group, lvl) for lvl, group in sorted(by_level.items())]
    cover = spark.createDataFrame(
        pd.concat(covers or [polygon_cell_cover([], 0)], ignore_index=True),
        "cell long, poly_id string, full boolean",
    )
    pts = _explode_multilevel_cells(points, sorted(by_level), lat_col, lon_col)
    cand = pts.join(F.broadcast(cover), "cell", "inner")
    # rows in `full`-covered cells are provably inside: they stay on the
    # JVM side untouched — only boundary-cell candidates pay the Python
    # refine hop (at deep cover levels that is a thin perimeter band)
    full_part = cand.filter(F.col("full")).drop("full", "cell")
    boundary = cand.filter(~F.col("full")).drop("full", "cell")
    return full_part.unionByName(refine_in_polygons(boundary, polygons, lat_col, lon_col))


def refine_in_polygons(
    df: DataFrame, polygons: list[Polygon], lat_col: str = "lat", lon_col: str = "lon"
) -> DataFrame:
    """Keep the rows of ``df`` whose (lat, lon) lies inside the polygon
    named by the row's ``poly_id`` — the exact stage of every PIP plan
    whose polygons are a driver list. One stateless mapInArrow (so it
    also runs on a streaming source in append mode): each batch's rows
    group by dictionary-encoded poly_id and take one crossing-number
    call per polygon. Coordinates are cast to float64 first, so the
    test is bit-exact for any numeric column type. The rings ride in
    the closure; PySpark broadcasts a large command itself."""
    rings_by_poly = {p.poly_id: [np.asarray(r, np.float64) for r in p.rings] for p in polygons}

    def _refine(batches):
        for b in batches:
            lat = pc.cast(b.column(lat_col), pa.float64()).to_numpy(zero_copy_only=False)
            lon = pc.cast(b.column(lon_col), pa.float64()).to_numpy(zero_copy_only=False)
            ids = pc.dictionary_encode(b.column("poly_id"))
            codes = ids.indices.to_numpy()
            pids = ids.dictionary.to_pylist()
            # row indexes per polygon: one stable sort, split at the counts
            order = np.argsort(codes, kind="stable")
            ends = np.cumsum(np.bincount(codes, minlength=len(pids)))[:-1]
            keep = np.zeros(b.num_rows, dtype=bool)
            for pid, idx in zip(pids, np.split(order, ends)):
                keep[idx] = point_in_polygon(lat[idx], lon[idx], rings_by_poly[pid])
            yield b.filter(pa.array(keep))

    return df.mapInArrow(_refine, df.schema)


RINGS_SCHEMA = (
    "poly_id string, ring_idx int, "
    "pts array<struct<lat: double, lon: double>>"
)


def rings_from_closed_ways(geoms_df: DataFrame) -> DataFrame:
    """Assembled closed ways -> rings DataFrame for pip_join_rings.

    (way/<id>, ring_idx=0, pts without the closing duplicate). The
    DataFrame-native sibling of sources.pbf_source.polygons_from_closed_
    ways — no driver collect, no polygon-count cap."""
    return geoms_df.filter("is_closed AND size(points) >= 4").select(
        F.concat(F.lit("way/"), F.col("way_id").cast("string")).alias("poly_id"),
        F.lit(0).alias("ring_idx"),
        F.slice("points", 1, F.size("points") - 1).alias("pts"),
    )


def rings_frame(spark: SparkSession, polygons: list[Polygon]) -> DataFrame:
    """Driver polygon list -> rings DataFrame (RINGS_SCHEMA), one row per
    ring with the ring's own vertices."""
    return spark.createDataFrame(
        [
            (p.poly_id, k, [(float(la), float(lo)) for la, lo in ring])
            for p in polygons
            for k, ring in enumerate(p.rings)
        ],
        RINGS_SCHEMA,
    )


def _grouped_rings(rings_df: DataFrame) -> DataFrame:
    """(poly_id, ring_idx, pts) -> one row per polygon with its rings
    sorted by ring_idx (ring 0 outer, rest holes). Rings without a
    poly_id are dropped here, the same filter Catalyst infers for the
    refine's poly_id join, so the cover and the refine share ONE rings
    aggregation (ReuseExchange) instead of running it twice."""
    return rings_df.filter(F.col("poly_id").isNotNull()).groupBy("poly_id").agg(
        F.sort_array(F.collect_list(F.struct("ring_idx", "pts"))).alias("_rings")
    )


def _struct_fields(arr: pa.StructArray) -> dict[str, pa.Array]:
    """Children of a struct array by name, aligned with its rows."""
    return dict(zip((f.name for f in arr.type), arr.flatten()))


def _arrow_rings(rings_col: pa.ListArray):
    """``_rings`` column (list<struct<ring_idx, pts list<struct<lat,
    lon>>>>) -> ``rings(i)`` giving row i's rings as (m, 2) float64
    arrays of (lat, lon), in list order, without a Python object per
    vertex."""
    ro = rings_col.offsets.to_numpy()
    pts = _struct_fields(rings_col.values)["pts"]
    po = pts.offsets.to_numpy()
    v = _struct_fields(pts.values)
    lat = v["lat"].to_numpy(zero_copy_only=False).astype(np.float64, copy=False)
    lon = v["lon"].to_numpy(zero_copy_only=False).astype(np.float64, copy=False)

    def rings(i: int) -> list[np.ndarray]:
        return [
            np.column_stack((lat[po[k] : po[k + 1]], lon[po[k] : po[k + 1]]))
            for k in range(ro[i], ro[i + 1])
        ]

    return rings


def _refine_rings_factory(names: list[str], lat_col: str, lon_col: str):
    """Exact refine over rows (poly_id, _cands, _rings): each row holds
    ONE polygon's boundary candidates (list of point structs) and its
    rings; emits the candidates inside, as rows of ``names`` (the point
    columns plus poly_id). One crossing-number call per polygon, Arrow
    batches of polygons per Python call."""

    def _refine(batches):
        for b in batches:
            cands = b.column("_cands")
            co = cands.offsets.to_numpy()
            pts = _struct_fields(cands.values)
            lat = pts[lat_col].to_numpy(zero_copy_only=False)
            lon = pts[lon_col].to_numpy(zero_copy_only=False)
            rings = _arrow_rings(b.column("_rings"))
            keep = np.zeros(len(lat), dtype=bool)
            for i in range(b.num_rows):
                a, z = co[i], co[i + 1]
                if a < z:
                    keep[a:z] = point_in_polygon(lat[a:z], lon[a:z], rings(i))
            lo, hi = co[0], co[-1]
            sel = keep[lo:hi]
            owner = np.repeat(np.arange(b.num_rows), np.diff(co))[sel]
            cols = {c: arr.slice(lo, hi - lo).filter(pa.array(sel)) for c, arr in pts.items()}
            cols["poly_id"] = b.column("poly_id").take(pa.array(owner))
            yield pa.RecordBatch.from_arrays([cols[c] for c in names], names=names)

    return _refine


def rings_cell_cover(
    rings_df: DataFrame, level: int | str, target_cells: int = 256
) -> DataFrame:
    """Distributed cell cover of a RINGS DataFrame -> (cell, poly_id,
    full, level) rows, computed entirely on executors (one mapInArrow
    over polygon rows; same classification as polygon_cell_cover).

    ``level="auto"`` normalizes per polygon (pick_cover_level): without
    it one oversized polygon (an admin boundary among 10^6 building
    footprints) meshgrids ~10^5+ cells and runs the per-edge loop
    against all of them inside a single task."""
    return _rings_cover_from_grouped(_grouped_rings(rings_df), level, target_cells)


def _rings_cover_from_grouped(
    polys: DataFrame, level: int | str, target_cells: int
) -> DataFrame:
    schema = pa.schema(
        [("cell", pa.int64()), ("poly_id", pa.string()),
         ("full", pa.bool_()), ("level", pa.int32())]
    )

    def _cover(batches):
        for b in batches:
            rings = _arrow_rings(b.column("_rings"))
            by_level: dict[int, list[Polygon]] = {}
            for i, pid in enumerate(b.column("poly_id").to_pylist()):
                p = Polygon(pid, rings(i))
                lvl = level if level != "auto" else pick_cover_level(p, target_cells)
                by_level.setdefault(lvl, []).append(p)
            for lvl, group in sorted(by_level.items()):
                out = polygon_cell_cover(group, lvl)
                out["level"] = np.int32(lvl)
                yield pa.RecordBatch.from_pandas(out, schema=schema, preserve_index=False)

    return polys.mapInArrow(
        _cover, "cell long, poly_id string, full boolean, level int"
    )


def pip_join_rings(
    spark: SparkSession,
    points: DataFrame,
    rings_df: DataFrame,
    level: int | str = "auto",
    lat_col: str = "lat",
    lon_col: str = "lon",
    target_cells: int = 256,
    salt_threshold: int = 2_000_000,
) -> DataFrame:
    """PIP join against a DataFrame polygon side — the 10^6+-polygon
    regime (all building footprints) where ``pip_join``'s broadcast
    list and 100k driver collect don't fit (SURVEY §2.3 G2/G3).

    Same exact crossing-number semantics as ``pip_join``; nothing about
    the polygons ever lands on the driver (the only driver action, for
    ``level="auto"``, is the distinct cover-LEVEL list — at most 15 ints):

      1. cover: one distributed pass over polygon rows
         (rings_cell_cover), per-polygon level normalization when
         ``level="auto"`` (same pick_cover_level rule as pip_join —
         bounded cover work for huge polygons, thin refine bands for
         small ones). The levels come from a light Python pass over the
         outer rings' bboxes, so the cover itself runs once, inside the
         join plan, and nothing is cached;
      2. coarse: ONE shuffle join for all cover levels — the point
         side explodes to its cell at each distinct level (level-tagged
         cell ids cannot collide), so the heavy-hitter count pass and
         the salted join each run once, not once per level; hot cells
         killed by measured salting (operators.skew) with AQE as
         backstop;
      3. refine: `full`-cell candidates bypass Python (provably inside);
         boundary candidates collapse to ONE row per polygon (a list of
         candidate rows) that joins its polygon's rings on poly_id —
         the ring payload is shuffled once per polygon, not duplicated
         per candidate row — and one mapInArrow kernel refines Arrow
         batches of polygons, one crossing-number call per polygon (a
         per-group pandas UDF paid ~1-4 ms of Python per polygon). The
         join is pinned to shuffle_hash, so the polygon side is never
         broadcast through the driver.

    ``rings_df`` schema: RINGS_SCHEMA (ring 0 outer, rest holes; no
    closing duplicate vertex).
    """
    polys = _grouped_rings(rings_df)
    levels = [level] if level != "auto" else _cover_levels(polys, target_cells)
    cover = _rings_cover_from_grouped(polys, level, target_cells)
    return _join_rings(
        spark, points, polys, cover, levels, lat_col, lon_col, salt_threshold
    )


def _cover_levels(polys: DataFrame, target_cells: int) -> list[int]:
    """Distinct pick_cover_level over a grouped-rings frame."""

    def _levels(batches):
        for b in batches:
            rings = _arrow_rings(b.column("_rings"))
            lvls = [
                pick_cover_level(Polygon("", rings(i)), target_cells)
                for i in range(b.num_rows)
            ]
            yield pa.record_batch({"level": pa.array(lvls, pa.int32())})

    rows = polys.mapInArrow(_levels, "level int").distinct().collect()
    return sorted(r["level"] for r in rows)


def _join_rings(
    spark: SparkSession,
    points: DataFrame,
    polys: DataFrame,
    cover: DataFrame,
    levels: list[int],
    lat_col: str,
    lon_col: str,
    salt_threshold: int,
) -> DataFrame:
    """Salted shuffle join of ``points`` against ``cover`` (cover rows
    at the given levels) and the exact refine against the grouped rings
    ``polys`` — steps 2 and 3 of pip_join_rings."""
    from .skew import heavy_hitters, replicate_for_salt, with_salt

    if levels:
        pts = _explode_multilevel_cells(points, levels, lat_col, lon_col)
        heavy = heavy_hitters(pts, "cell", salt_threshold)
        pts_s = with_salt(pts, "cell", heavy, [lat_col, lon_col], "_salt")
        # the cover joins as ONE row per cell listing its (poly_id, full)
        # hits, inlined after the join: the full/boundary split below
        # then filters Generate output, which Catalyst cannot push into
        # the cover side, so both branches share one cover exchange
        # (ReuseExchange) and the Python cover runs once
        by_cell = cover.groupBy("cell").agg(
            F.collect_list(F.struct("poly_id", "full")).alias("_hits")
        )
        cov_s = replicate_for_salt(by_cell, "cell", heavy, "_salt")
        cand = pts_s.join(cov_s, ["cell", "_salt"], "inner").select(
            *[c for c in pts_s.columns if c not in ("cell", "_salt")], F.inline("_hits")
        )
    else:  # empty polygon side: empty result, points+poly_id schema
        empty = spark.createDataFrame([], "cell long, poly_id string, full boolean")
        cand = with_cell(points, 12, lat_col, lon_col).join(empty, "cell").drop("cell")

    out_schema = cand.drop("full").schema
    full_part = cand.filter(F.col("full")).drop("full")
    boundary = cand.filter(~F.col("full")).drop("full")

    pt_cols = [c for c in out_schema.names if c != "poly_id"]
    per_poly = boundary.groupBy("poly_id").agg(
        F.collect_list(F.struct(*pt_cols)).alias("_cands")
    )
    refined = per_poly.join(polys.hint("shuffle_hash"), "poly_id").mapInArrow(
        _refine_rings_factory(out_schema.names, lat_col, lon_col), out_schema
    )
    return full_part.unionByName(refined)


def sample_points_in_polygons(
    rings_df: DataFrame,
    k: int,
    seed: int = 0,
    oversample: int = 8,
) -> DataFrame:
    """Deterministic spatial sampling: up to ``k`` seeded pseudo-
    uniform points INSIDE each polygon — synthetic sensor placement,
    per-zone Monte-Carlo rollups, training-label point generation.
    Replayable in any engine/partitioning (rand() gives a different
    sample every run and engine).

    Input is the pip_join_rings ring shape ``(poly_id, ring_idx,
    pts array<struct<lat,lon>>)``; holes flip containment (even-odd,
    the shared point_in_polygon kernel).

    Spec: candidate j (1-based, up to ``k * oversample``) maps two
    40-bit md5 draws into the polygon's bbox —

        u = md5_40(seed:poly:j:u) / 2^40     (exact: 2^-40 is dyadic)
        lat = lat_min + u * (lat_max - lat_min)   (fixed IEEE chain)

    — candidates are tested inside-ness in j order and the FIRST k
    inside are kept (``rank`` = 1..k by j). Thin polygons may yield
    fewer than k (acceptance = area/bbox; size ``oversample``
    accordingly — documented, not silent: n per polygon is the
    caller's signal).

    Returns ``(poly_id, rank, j, lat, lon)``.

    Plan: one per-polygon ring aggregate (bbox + ring payload), a
    native sequence-explode Generate of the candidates, one poly-keyed
    join, ONE applyInPandas per polygon (vectorized crossing-number
    over the candidate batch + j-order head) — the pip refine class;
    polygons parallelize, no driver collect, no cap.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if oversample < 1:
        raise ValueError(f"oversample must be >= 1, got {oversample}")
    import pandas as pd

    from ..functions.geometry import point_in_polygon

    m = int(k) * int(oversample)
    polys = rings_df.groupBy("poly_id").agg(
        F.collect_list(F.struct("ring_idx", "pts")).alias("_rings"),
        F.min(F.expr("array_min(transform(pts, p -> p.lat))")).alias("_lat0"),
        F.max(F.expr("array_max(transform(pts, p -> p.lat))")).alias("_lat1"),
        F.min(F.expr("array_min(transform(pts, p -> p.lon))")).alias("_lon0"),
        F.max(F.expr("array_max(transform(pts, p -> p.lon))")).alias("_lon1"),
    )
    h40 = lambda tag: (  # noqa: E731
        F.conv(
            F.substring(
                F.md5(
                    F.concat_ws(
                        ":",
                        F.lit(str(seed)),
                        F.col("poly_id").cast("string"),
                        F.col("j").cast("string"),
                        F.lit(tag),
                    )
                ),
                1,
                10,
            ),
            16,
            10,
        ).cast("bigint")
    )
    two40 = float(1 << 40)
    cand = polys.select(
        "poly_id",
        "_rings",
        F.explode(F.sequence(F.lit(1), F.lit(m))).alias("j"),
        "_lat0",
        "_lat1",
        "_lon0",
        "_lon1",
    ).select(
        "poly_id",
        "_rings",
        "j",
        (
            F.col("_lat0")
            + (h40("u").cast("double") / F.lit(two40))
            * (F.col("_lat1") - F.col("_lat0"))
        ).alias("lat"),
        (
            F.col("_lon0")
            + (h40("v").cast("double") / F.lit(two40))
            * (F.col("_lon1") - F.col("_lon0"))
        ).alias("lon"),
    )

    def _refine(pdf: "pd.DataFrame") -> "pd.DataFrame":
        out = []
        for pid, grp in pdf.groupby("poly_id", sort=False):
            rings = [
                np.array([[p["lat"], p["lon"]] for p in r["pts"]])
                for r in sorted(grp.iloc[0]["_rings"], key=lambda r: r["ring_idx"])
            ]
            g = grp.sort_values("j")
            keep = point_in_polygon(
                g["lat"].to_numpy(), g["lon"].to_numpy(), rings
            )
            sel = g[keep].head(k)
            for rank, (_, row) in enumerate(sel.iterrows(), start=1):
                out.append((pid, rank, int(row["j"]), row["lat"], row["lon"]))
        return pd.DataFrame(
            out, columns=["poly_id", "rank", "j", "lat", "lon"]
        )

    schema = "poly_id string, rank int, j long, lat double, lon double"
    return cand.groupBy("poly_id").applyInPandas(_refine, schema)
