"""Geometry measures over line segments — native expressions only.

SURVEY.md §2.3 extension (r3): length / shoelace-area / centroid for
polylines assembled from way geometry (G8) or any (lat0,lon0,lat1,lon1)
segment table. Everything here is a plain `pyspark.sql.functions`
expression — whole-stage codegen, no Python hop, no shuffle beyond the
caller's own per-line aggregate — so it scales as a map stage.

Engine-independence contract (what makes these DuckDB-gateable):

- Per-segment values are rounded to INTEGER units (millimeters for
  haversine length, 1e-8 deg^2 units for the shoelace cross term) and
  aggregated with bigint SUM. Integer addition is order-free, so the
  per-line totals are exact regardless of partitioning, engine, or
  aggregation order — float SUM would not be (ULP drift per order).
- `radians` is written as an explicit multiply by the closest double to
  pi/180 (0.017453292519943295) instead of calling radians(): JVM
  Math.toRadians computes x/180*pi while DuckDB computes x*(pi/180) —
  different op order, different bits. A literal multiply is IEEE-exact
  in both.
- sin/cos/asin/sqrt go through libm (DuckDB) vs java.lang.Math (Spark),
  which may differ by ~1 ulp. The mm rounding absorbs that: a 1-ulp
  relative error (~2e-16) on a <1e7 m segment moves the mm value by
  <1e-5, so the probability a round() flips is ~1e-5 per segment —
  and the shoelace/centroid terms use only +,-,* which ARE bit-exact.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

__all__ = [
    "segment_measures",
    "spherical_ring_area",
    "normalize_ring_orientation",
    "cross_track_mm",
    "along_track_mm",
    "line_measures",
    "points_along_lines",
    "DEG2RAD",
    "EARTH_RADIUS_M",
    "PAL_SNAP_SCALE",
    "initial_bearing_mdeg",
    "destination_point",
    "ring_centroid",
    "densify_route",
]

DEG2RAD = 0.017453292519943295  # closest float64 to pi/180 — keep literal
EARTH_RADIUS_M = 6371008.8
# densify_route refuses legs longer than pi/2 with sin(d) below this:
# the haversine d loses half its digits near pi, and the slerp error on
# the 1e-7-degree output grid passes one unit near sin(d) ~ 2e-4
ANTIPODAL_SIN_EPS = 1e-3


def _hav_m(lat0, lon0, lat1, lon1):
    """Haversine meters between two points, spelled so the DuckDB oracle
    can mirror the exact op order (see module docstring). s*s instead of
    pow(s,2): pow may not be exact for integer exponents in either
    engine."""
    sdlat = F.sin((lat1 - lat0) * F.lit(DEG2RAD) / F.lit(2.0))
    sdlon = F.sin((lon1 - lon0) * F.lit(DEG2RAD) / F.lit(2.0))
    a = sdlat * sdlat + F.cos(lat0 * F.lit(DEG2RAD)) * F.cos(lat1 * F.lit(DEG2RAD)) * (
        sdlon * sdlon
    )
    a = F.least(F.greatest(a, F.lit(0.0)), F.lit(1.0))
    return F.lit(2.0 * EARTH_RADIUS_M) * F.asin(F.sqrt(a))


def segment_measures(
    segs: DataFrame,
    lat0_col: str = "lat0",
    lon0_col: str = "lon0",
    lat1_col: str = "lat1",
    lon1_col: str = "lon1",
) -> DataFrame:
    """Attach per-segment measure columns (all native expressions):

    - ``len_mm``       bigint — round(haversine_m * 1000)
    - ``cross2_u``     bigint — round((lon0*lat1 - lon1*lat0) * 1e8):
      the shoelace cross term in 1e-8 deg^2 units; summed around a
      closed ring and divided by 2e8 it gives the signed planar area
      in deg^2 (positive = counter-clockwise in lon/lat axes).
    - ``mid_lat_u``/``mid_lon_u`` bigint — round(midpoint * 1e7):
      length-naive centroid accumulators in 1e-7 deg units.
    """
    la0, lo0 = F.col(lat0_col), F.col(lon0_col)
    la1, lo1 = F.col(lat1_col), F.col(lon1_col)
    return segs.withColumns(
        {
            "len_mm": F.round(_hav_m(la0, lo0, la1, lo1) * F.lit(1000.0)).cast("long"),
            "cross2_u": F.round((lo0 * la1 - lo1 * la0) * F.lit(1e8)).cast("long"),
            "mid_lat_u": F.round((la0 + la1) / F.lit(2.0) * F.lit(1e7)).cast("long"),
            "mid_lon_u": F.round((lo0 + lo1) / F.lit(2.0) * F.lit(1e7)).cast("long"),
        }
    )


def line_measures(segs: DataFrame, line_id_col: str = "line_id") -> DataFrame:
    """Per-line totals over ``segment_measures`` output: one narrow
    bigint-keyed hash aggregate (partial map-side combine applies), the
    only shuffle in the measures pipeline.

    Returns (line_id, n_segs, len_mm, cross2_u, mid_lat_u, mid_lon_u)
    — all exact bigints; callers derive meters / deg^2 / centroid
    degrees by the documented unit divisions.
    """
    m = segment_measures(segs) if "len_mm" not in segs.columns else segs
    return m.groupBy(F.col(line_id_col)).agg(
        F.count(F.lit(1)).alias("n_segs"),
        F.sum("len_mm").alias("len_mm"),
        F.sum("cross2_u").alias("cross2_u"),
        F.sum("mid_lat_u").alias("mid_lat_u"),
        F.sum("mid_lon_u").alias("mid_lon_u"),
    )


# ---------------- linear referencing: points along lines ----------------

PAL_SNAP_SCALE = 1_000_000.0  # micro-degree grid, same as segjoin's


def points_along_lines(
    verts: DataFrame,
    spacing: int,
    line_col: str = "line_id",
    seq_col: str = "seq",
    lat_col: str = "lat",
    lon_col: str = "lon",
) -> DataFrame:
    """Linear referencing / densify: emit a point every ``spacing``
    integer length-units along each polyline (chainage 0 = first
    vertex; the final endpoint is included iff the total length is a
    multiple of ``spacing``). The resample-along-geometry primitive —
    map rendering at fixed vertex budgets, ML point sampling along
    roads, km-posts.

    Input is an ordered VERTEX TABLE (line_col, seq_col, lat, lon) —
    deliberately not an array column: windows stream it, nothing ever
    materializes a whole line in one value, so a 10^8-vertex coastline
    costs the same per-row work as a 10-vertex alley. ``seq_col`` must
    be UNIQUE within a line (it is the tie-break that makes the window
    order, and therefore the chainage, deterministic).

    Engine-exactness: coords snap to the micro-degree integer grid
    (floor(x*1e6+0.5) — segjoin's convention); each segment's length is
    floor(sqrt(double(dx^2+dy^2)) + 0.5) in grid units — CAST and sqrt
    are correctly-rounded IEEE ops, so every engine gets the same
    integer. Chainage arithmetic (running sums, ceil-DIV sample
    indexes) is all int64. The interpolation t = (k*spacing - cum) /
    len and the output coords ax + t*(bx-ax) are ONE fixed chain of
    IEEE ops on exact ints — bit-identical cross-engine, gate-hashable.

    Plan: one key-shuffle window (running length + total share the
    Exchange) + one native Generate; zero Python. Returns
    (line_col, sample_k:bigint, chain:bigint, px:double, py:double)
    with px/py in GRID UNITS (divide by PAL_SNAP_SCALE for degrees).

    Zero-length segments own no samples (empty ceil-DIV range); the
    endpoint sample of a spacing-multiple line is emitted by the LAST
    segment only (seq = max), with t guarded to 0 when that segment
    has zero length. Lines with a single vertex emit nothing.
    """
    if spacing < 1:
        raise ValueError(f"spacing must be >= 1, got {spacing}")
    from pyspark.sql import Window

    sp = int(spacing)
    snap = lambda c: F.floor(c * F.lit(PAL_SNAP_SCALE) + F.lit(0.5)).cast("long")  # noqa: E731
    w = Window.partitionBy(line_col).orderBy(seq_col)
    v = verts.select(
        line_col,
        seq_col,
        snap(F.col(lon_col)).alias("_x"),
        snap(F.col(lat_col)).alias("_y"),
    )
    segs = v.select(
        line_col,
        seq_col,
        F.lag("_x").over(w).alias("_ax"),
        F.lag("_y").over(w).alias("_ay"),
        F.col("_x").alias("_bx"),
        F.col("_y").alias("_by"),
    ).where(F.col("_ax").isNotNull())
    dx, dy = F.col("_bx") - F.col("_ax"), F.col("_by") - F.col("_ay")
    segs = segs.withColumn(
        "_len",
        F.floor(F.sqrt((dx * dx + dy * dy).cast("double")) + F.lit(0.5)).cast(
            "long"
        ),
    )
    # running-sum + total + last-seq share ONE window Exchange
    wcum = (
        Window.partitionBy(line_col)
        .orderBy(seq_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    wall = Window.partitionBy(line_col)
    segs = (
        segs.withColumn("_cum", F.coalesce(F.sum("_len").over(wcum), F.lit(0)))
        .withColumn("_total", F.sum("_len").over(wall))
        .withColumn("_last", F.col(seq_col) == F.max(seq_col).over(wall))
    )
    cum_end = F.col("_cum") + F.col("_len")
    k_lo = F.expr(f"(_cum + {sp} - 1) DIV {sp}")
    k_hi = F.expr(f"(_cum + _len + {sp} - 1) DIV {sp} - 1") + F.when(
        F.col("_last") & (F.expr(f"_total % {sp}") == 0),
        F.lit(1),
    ).otherwise(F.lit(0))
    out = segs.select(
        line_col,
        "_ax",
        "_ay",
        "_bx",
        "_by",
        "_cum",
        "_len",
        F.explode(
            F.when(k_hi >= k_lo, F.sequence(k_lo, k_hi)).otherwise(
                F.array().cast("array<long>")
            )
        ).alias("sample_k"),
    )
    t = F.when(
        F.col("_len") > 0,
        (F.col("sample_k") * F.lit(sp) - F.col("_cum")).cast("double")
        / F.col("_len").cast("double"),
    ).otherwise(F.lit(0.0))
    return out.select(
        line_col,
        F.col("sample_k").cast("bigint").alias("sample_k"),
        (F.col("sample_k") * F.lit(sp)).cast("bigint").alias("chain"),
        (F.col("_ax").cast("double") + t * (F.col("_bx") - F.col("_ax")).cast("double")).alias("px"),
        (F.col("_ay").cast("double") + t * (F.col("_by") - F.col("_ay")).cast("double")).alias("py"),
    )


def spherical_ring_area(
    segs: DataFrame,
    line_id_col: str = "line_id",
    lat0_col: str = "lat0",
    lon0_col: str = "lon0",
    lat1_col: str = "lat1",
    lon1_col: str = "lon1",
) -> DataFrame:
    """GEODESIC (sphere-exact) polygon area per closed ring (r4) — the
    planar shoelace (``cross2_u``) is fine for tile-local work but
    overstates high-latitude areas badly; this is the real-units
    answer for "how many km² is this admin polygon / land-cover
    footprint".

    Spec — the spherical shoelace (L'Huilier/Girard family, the
    formula GDAL/turf use): for each directed ring segment,

        term = (λ1 − λ0)·rad · (2 + sin(φ0·rad) + sin(φ1·rad))

    and signed area = R²·Σterm/2. Per the module contract each term is
    quantized HALF-UP to int64 units of 1e-12 rad² (``sph_u`` =
    floor(term·1e12 + 0.5)) and bigint-SUMmed — order-free exact
    totals; the ~1-ulp sin() engine drift moves a term by <1e-15·|dλ|,
    absorbed by the quantization except with ~1e-3 flip probability
    per segment at the unit boundary (same absorption argument as
    ``len_mm``). Signed area sign: positive = counter-clockwise in
    +lon-east axes, matching cross2_u. Final ``area_m2`` is the fixed
    chain R²·|sum|/(2·1e12) — two multiplies and one divide of
    exact-int-derived doubles in pinned order.

    Caller contract: segments form CLOSED rings (last vertex back to
    first — assemble via the way-geometry ``is_closed`` path) and no
    segment crosses the antimeridian (OSM ways split there; a |dλ| >
    180° segment raises in the WHERE).

    Returns (line_id, n_segs, sph_u, area_m2). Plan: pure codegen
    projection + ONE bigint hash aggregate — the line_measures shape.
    """
    la0, lo0 = F.col(lat0_col).cast("double"), F.col(lon0_col).cast("double")
    la1, lo1 = F.col(lat1_col).cast("double"), F.col(lon1_col).cast("double")
    dlon = lo1 - lo0
    guarded = segs.where(
        F.when(F.abs(dlon) <= F.lit(180.0), F.lit(True)).otherwise(
            F.raise_error(
                F.concat(
                    F.lit("spherical_ring_area: segment crosses the "
                          "antimeridian (|dlon| > 180) in ring "),
                    F.col(line_id_col).cast("string"),
                )
            )
        )
    )
    term = (dlon * F.lit(DEG2RAD)) * (
        F.lit(2.0) + F.sin(la0 * F.lit(DEG2RAD)) + F.sin(la1 * F.lit(DEG2RAD))
    )
    u = F.floor(term * F.lit(1e12) + F.lit(0.5)).cast("long")
    per = guarded.select(F.col(line_id_col).alias("line_id"), u.alias("_u"))
    tot = per.groupBy("line_id").agg(
        F.count(F.lit(1)).alias("n_segs"), F.sum("_u").alias("sph_u")
    )
    return tot.select(
        "line_id",
        "n_segs",
        "sph_u",
        (
            F.lit(EARTH_RADIUS_M * EARTH_RADIUS_M)
            * F.abs(F.col("sph_u").cast("double"))
            / F.lit(2e12)
        ).alias("area_m2"),
    )


def normalize_ring_orientation(
    verts: DataFrame,
    ring_col: str = "line_id",
    pos_col: str = "pos",
    lat_col: str = "lat",
    lon_col: str = "lon",
) -> DataFrame:
    """OGC winding-order normalization (r4): outer rings must wind
    counter-clockwise for downstream shoelace/clip/PIP kernels that
    assume a sign convention — this flips every CLOCKWISE ring by
    reversing its vertex order (the geometry-hygiene step after
    assembling rings from arbitrary way directions).

    Spec: orientation = sign of the exact shoelace sum over the ring's
    closing segment sequence, computed in the module's 1e-8 deg^2
    integer units (``cross2_u`` — bigint sum, order-free exact; the
    module convention: positive = CCW in lon/lat axes). Zero-area
    (degenerate) rings are left untouched and flagged. Positions must
    be 0..n-1 per ring (row_number'd upstream); reversed rings get
    ``pos' = n-1-pos``.

    Plan: one lead() window per ring for the segment pairing (the
    closing segment wraps via first_value), ONE ring-keyed aggregate,
    one join back + native conditional projection — two narrow
    shuffles, all codegen, no Python.

    Returns the input columns with ``pos`` rewritten +
    ``(ring_ccw, was_reversed)``.
    """
    w = Window.partitionBy(ring_col).orderBy(pos_col)
    la, lo = F.col(lat_col), F.col(lon_col)
    nla = F.coalesce(F.lead(lat_col).over(w), F.first(lat_col).over(w))
    nlo = F.coalesce(F.lead(lon_col).over(w), F.first(lon_col).over(w))
    seg = verts.select(
        "*",
        F.round((lo * nla - nlo * la) * F.lit(1e8)).cast("long").alias("_c2u"),
    )
    per = seg.groupBy(F.col(ring_col).alias("_rid")).agg(
        F.sum("_c2u").alias("_area2u"),
        F.count(F.lit(1)).alias("_n"),
    )
    out = seg.join(per, seg[ring_col] == per["_rid"]).drop("_rid", "_c2u")
    rev = F.col("_area2u") < 0
    return out.select(
        *[
            c for c in verts.columns if c != pos_col
        ],
        F.when(rev, F.col("_n") - 1 - F.col(pos_col))
        .otherwise(F.col(pos_col))
        .cast("long")
        .alias(pos_col),
        (F.col("_area2u") > 0).alias("ring_ccw"),
        rev.alias("was_reversed"),
    )


def cross_track_mm(
    lat, lon, lat1, lon1, lat2, lon2
) -> "F.Column":
    """SIGNED spherical cross-track distance (r4) in millimeters from
    point (lat, lon) to the great circle through route leg
    (lat1,lon1) -> (lat2,lon2) — the corridor test behind "which fixes
    are within 50 m of the planned route" (aviation/marine XTD; the
    spherical sibling of snap_to_segments' planar distance).

    Standard formula (Williams' Aviation Formulary):
        xtd = asin( sin(d13) * sin(brg13 - brg12) ) * R
    with d13 the angular start->point distance (haversine chain, the
    module's _hav_m spelled to radians) and brg the initial great-
    circle bearings (atan2 chain). Sign: positive = LEFT of the
    course. Per the module contract the result is rounded to INTEGER
    millimeters — the ~1-ulp cross-engine atan2/asin drift moves the
    mm value by <1e-5 relative, the len_mm absorption argument.
    Positive = port side; callers filter on abs().

    Pure codegen expression — compose into any select/filter.
    """
    d13 = _hav_m(lat1, lon1, lat, lon) / F.lit(EARTH_RADIUS_M)

    def brg(la0, lo0, la1_, lo1_):
        dlon = (lo1_ - lo0) * F.lit(DEG2RAD)
        y = F.sin(dlon) * F.cos(la1_ * F.lit(DEG2RAD))
        x = F.cos(la0 * F.lit(DEG2RAD)) * F.sin(la1_ * F.lit(DEG2RAD)) - F.sin(
            la0 * F.lit(DEG2RAD)
        ) * F.cos(la1_ * F.lit(DEG2RAD)) * F.cos(dlon)
        return F.atan2(y, x)

    t13 = brg(lat1, lon1, lat, lon)
    t12 = brg(lat1, lon1, lat2, lon2)
    xtd = F.asin(
        F.least(
            F.greatest(F.sin(d13) * F.sin(t13 - t12), F.lit(-1.0)),
            F.lit(1.0),
        )
    ) * F.lit(EARTH_RADIUS_M)
    return F.round(xtd * F.lit(1000.0)).cast("long")


def along_track_mm(
    lat, lon, lat1, lon1, lat2, lon2
) -> "F.Column":
    """Spherical ALONG-track distance (r4) in millimeters: how far
    along the (lat1,lon1)->(lat2,lon2) great circle the foot of the
    point's perpendicular lies — linear referencing on the sphere
    (``points_along_lines`` is the planar inverse). Formulary:
        atd = atan2( sqrt(max(0, sin(d13)^2 - sin(xtd)^2)),
                     cos(d13) ) * R   (sign of cos(brg13-brg12))
    — the atan2 form, stable where the naive acos(cos d13 / cos xtd)
    loses bits near zero. mm-rounded like cross_track_mm; negative =
    the foot lies BEHIND the leg start.
    """
    d13 = _hav_m(lat1, lon1, lat, lon) / F.lit(EARTH_RADIUS_M)

    def brg(la0, lo0, la1_, lo1_):
        dlon = (lo1_ - lo0) * F.lit(DEG2RAD)
        y = F.sin(dlon) * F.cos(la1_ * F.lit(DEG2RAD))
        x = F.cos(la0 * F.lit(DEG2RAD)) * F.sin(la1_ * F.lit(DEG2RAD)) - F.sin(
            la0 * F.lit(DEG2RAD)
        ) * F.cos(la1_ * F.lit(DEG2RAD)) * F.cos(dlon)
        return F.atan2(y, x)

    dbrg = brg(lat1, lon1, lat, lon) - brg(lat1, lon1, lat2, lon2)
    sx = F.sin(d13) * F.sin(dbrg)  # sin(xtd angle)
    s2 = F.sin(d13) * F.sin(d13) - sx * sx
    atd = F.atan2(
        F.sqrt(F.greatest(s2, F.lit(0.0))), F.cos(d13)
    ) * F.lit(EARTH_RADIUS_M)
    signed = F.when(F.cos(dbrg) < 0, -atd).otherwise(atd)
    return F.round(signed * F.lit(1000.0)).cast("long")


def initial_bearing_mdeg(lat1, lon1, lat2, lon2) -> "F.Column":
    """Initial great-circle BEARING (r5) from point 1 to point 2, in
    integer MILLIDEGREES clockwise from true north in [0, 360000) —
    the navigation third of the geodesy family (cross_track = offset,
    along_track = progress, bearing = heading). Standard atan2 chain
    (Williams); per the module contract the result is rounded to an
    integer unit where ~1-ulp cross-engine trig drift cannot flip the
    value (the len_mm absorption argument).

    Pure codegen expression — compose into any select/filter.
    """
    dlon = (lon2 - lon1) * F.lit(DEG2RAD)
    y = F.sin(dlon) * F.cos(lat2 * F.lit(DEG2RAD))
    x = F.cos(lat1 * F.lit(DEG2RAD)) * F.sin(lat2 * F.lit(DEG2RAD)) - F.sin(
        lat1 * F.lit(DEG2RAD)
    ) * F.cos(lat2 * F.lit(DEG2RAD)) * F.cos(dlon)
    deg = F.atan2(y, x) * F.lit(1.0 / DEG2RAD)
    return F.pmod(F.round(deg * F.lit(1000.0)).cast("long"), F.lit(360_000))


def destination_point(lat, lon, bearing_deg, dist_m) -> "F.Column":
    """Spherical DESTINATION point (r5): start at (lat, lon), travel
    ``dist_m`` meters on initial bearing ``bearing_deg`` — the
    direct-geodesy inverse of initial_bearing (waypoint projection,
    corridor construction, radar plot dead reckoning). Williams'
    formulary on the sphere (EARTH_RADIUS_M):

        lat2 = asin(sin lat cos δ + cos lat sin δ cos θ)
        lon2 = lon + atan2(sin θ sin δ cos lat, cos δ − sin lat sin lat2)

    Returns a struct (lat_e7, lon_e7): integer 1e-7-degree units
    (~11 mm — below that, cross-engine trig drift is absorbed by the
    rounding, the module contract); lon normalized to [-180, 180).

    Pure codegen expression — compose into any select/filter.
    """
    la = lat * F.lit(DEG2RAD)
    th = bearing_deg * F.lit(DEG2RAD)
    dl = dist_m / F.lit(EARTH_RADIUS_M)
    sin_la2 = F.sin(la) * F.cos(dl) + F.cos(la) * F.sin(dl) * F.cos(th)
    sin_la2 = F.least(F.greatest(sin_la2, F.lit(-1.0)), F.lit(1.0))
    la2 = F.asin(sin_la2)
    lo2 = lon * F.lit(DEG2RAD) + F.atan2(
        F.sin(th) * F.sin(dl) * F.cos(la),
        F.cos(dl) - F.sin(la) * sin_la2,
    )
    lat_deg = la2 * F.lit(1.0 / DEG2RAD)
    lon_deg = F.pmod(lo2 * F.lit(1.0 / DEG2RAD) + F.lit(180.0), F.lit(360.0)) - F.lit(
        180.0
    )
    return F.struct(
        F.round(lat_deg * F.lit(1e7)).cast("long").alias("lat_e7"),
        F.round(lon_deg * F.lit(1e7)).cast("long").alias("lon_e7"),
    )


def ring_centroid(
    rings_df: DataFrame,
    scale: int = 1_000_000,
) -> DataFrame:
    """Exact-integer polygon CENTROID with holes (r5) over the
    RINGS_SCHEMA shape (poly_id, ring_idx, pts; ring 0 outer, rest
    holes) — the label-placement / representative-point primitive the
    measures family lacked (area and perimeter exist; "where do I put
    the name" did not).

    EXACT spec: coords quantize to 1/``scale`` degrees (floor(x*scale
    + 0.5), int64) and TRANSLATE to the ring's OWN first vertex
    (shoelace terms are translation-invariant — keeps the cubic cross
    products small); per ring the planar shoelace gives (2A, 6A·Cx,
    6A·Cy) in exact int64; holes subtract via |2A| sign flips (ring
    orientation is irrelevant — magnitudes are used, ring_idx decides
    the sign). Ring bases re-enter RELATIVE to the polygon's ring-0
    base (a window first_value on the same key as the final agg —
    no extra Exchange): the area-weighted base-delta products stay
    within int64 because deltas are polygon-local, and the one global
    coordinate (the ring-0 base) is re-added OUTSIDE the weighted
    sums. The ONLY floats are the final divisions.
    The (x+x')*cross fold is CUBIC in the ring's local span, so a
    loud guard raises when span^2*max_span*n could overflow int64 —
    at the default 1e-6-degree scale that admits rings up to ~0.2
    degrees across at 1000 vertices (buildings, parks, districts);
    pass a coarser ``scale`` for continent-size rings (the
    quantization error is 1/scale degrees).

    Plan: ONE zero-copy mapInArrow kernel for the per-ring
    shoelace — the RINGS batch's list<struct> column exposes flat
    lat/lon child arrays + offsets, so quantization, translation,
    cross products and the three per-ring sums are vectorized
    np.int64 segmented reductions (reduceat) with NO per-vertex
    Python and NO interpreted Catalyst lambdas (the r5 scaling leg
    measured the transform/aggregate HOF formulation alloc-bound and
    core-insensitive); then one (poly_id) window + hash agg. Returns
    (poly_id, area2_q, c_lat, c_lon) where area2_q = sum of signed 2A
    (quantized units²).
    """
    import numpy as np
    import pyarrow as pa

    s = int(scale)

    def _shoelace_batches(batches):
        for batch in batches:
            cols = {name: batch.column(i) for i, name in enumerate(batch.schema.names)}
            pts = cols["pts"]
            if isinstance(pts, pa.ChunkedArray):
                pts = pts.combine_chunks()
            offs = pts.offsets.to_numpy(zero_copy_only=False).astype(np.int64)
            flat = pts.values
            lat = flat.field("lat").to_numpy(zero_copy_only=False)
            lon = flat.field("lon").to_numpy(zero_copy_only=False)
            qx = np.floor(lon * float(s) + 0.5).astype(np.int64)
            qy = np.floor(lat * float(s) + 0.5).astype(np.int64)
            n_per = offs[1:] - offs[:-1]
            keep = n_per >= 3
            n_rings = len(n_per)
            if not keep.any():
                continue
            # wraparound successor index over the FLAT arrays
            nxt = np.arange(1, len(qx) + 1, dtype=np.int64)
            ends = offs[1:] - 1
            valid_ends = ends[n_per > 0]
            nxt[valid_ends] = offs[:-1][n_per > 0]
            # translate to each ring's own first vertex
            starts = offs[:-1].copy()
            starts[n_per == 0] = 0
            bx = qx[np.minimum(starts, len(qx) - 1)] if len(qx) else starts
            by = qy[np.minimum(starts, len(qy) - 1)] if len(qy) else starts
            bx_r = np.repeat(bx, n_per)
            by_r = np.repeat(by, n_per)
            x = qx - bx_r
            y = qy - by_r
            # overflow guards (double magnitudes; int64 would wrap)
            if len(x):
                seg_max = np.maximum.reduceat(np.abs(x), np.minimum(starts, len(x) - 1))
                seg_may = np.maximum.reduceat(np.abs(y), np.minimum(starts, len(y) - 1))
            else:
                seg_max = seg_may = np.zeros(n_rings)
            spn = np.maximum(seg_max, seg_may).astype(np.float64)
            bad = keep & (
                spn * spn * spn * n_per.astype(np.float64) >= float(1 << 61)
            )
            if bad.any():
                pid = cols["poly_id"].to_pylist()[int(np.nonzero(bad)[0][0])]
                raise ValueError(
                    f"ring_centroid: span^3*n overflow risk for {pid} "
                    "— use a coarser scale"
                )
            xn = x[nxt % max(len(x), 1)] if len(x) else x
            yn = y[nxt % max(len(y), 1)] if len(y) else y
            cr = x * yn - xn * y
            tx = (x + xn) * cr
            ty = (y + yn) * cr
            red = np.minimum(starts, max(len(cr) - 1, 0))
            if len(cr):
                a2 = np.add.reduceat(cr, red)
                cx6 = np.add.reduceat(tx, red)
                cy6 = np.add.reduceat(ty, red)
                a2[n_per == 0] = 0
                cx6[n_per == 0] = 0
                cy6[n_per == 0] = 0
            else:
                a2 = cx6 = cy6 = np.zeros(n_rings, dtype=np.int64)
            k = np.nonzero(keep)[0]
            yield pa.record_batch(
                {
                    "poly_id": cols["poly_id"].take(pa.array(k)),
                    "ring_idx": cols["ring_idx"].take(pa.array(k)),
                    "_bx": pa.array(bx[k], pa.int64()),
                    "_by": pa.array(by[k], pa.int64()),
                    "_a2": pa.array(a2[k], pa.int64()),
                    "_cx6": pa.array(cx6[k], pa.int64()),
                    "_cy6": pa.array(cy6[k], pa.int64()),
                }
            )

    id_t = rings_df.schema["poly_id"].dataType.simpleString()
    per_ring = rings_df.select("poly_id", "ring_idx", "pts").mapInArrow(
        _shoelace_batches,
        f"poly_id {id_t}, ring_idx int, _bx long, _by long, "
        "_a2 long, _cx6 long, _cy6 long",
    )

    # ring bases relative to the polygon's ring-0 base (same shuffle
    # key as the final agg — the window Exchange is reused)
    wp = Window.partitionBy("poly_id").orderBy("ring_idx")
    per_ring = (
        per_ring.withColumn("_bx0", F.first("_bx").over(wp))
        .withColumn("_by0", F.first("_by").over(wp))
        .withColumn("_dx", F.col("_bx") - F.col("_bx0"))
        .withColumn("_dy", F.col("_by") - F.col("_by0"))
    )
    base_guard = F.abs(F.col("_a2").cast("double")) * F.greatest(
        F.abs(F.col("_dx").cast("double")), F.abs(F.col("_dy").cast("double"))
    )
    per_ring = per_ring.where(
        F.when(base_guard < F.lit(float(1 << 60)), F.lit(True)).otherwise(
            F.raise_error(
                F.concat(
                    F.lit("ring_centroid: area*base-delta overflow risk for "),
                    F.col("poly_id"),
                    F.lit(" — use a coarser scale"),
                )
            )
        )
    )
    # orient every ring's magnitude positive, sign by outer/hole role;
    # 6A·C flips with A, so normalize both by the ring's own sign
    sgn = F.when(F.col("_a2") < 0, F.lit(-1)).otherwise(F.lit(1))
    role = F.when(F.col("ring_idx") == 0, F.lit(1)).otherwise(F.lit(-1))
    canon = per_ring.select(
        "poly_id",
        "_bx0",
        "_by0",
        (role * sgn * F.col("_a2")).alias("_w2"),
        (role * sgn * F.col("_cx6")).alias("_wx6"),
        (role * sgn * F.col("_cy6")).alias("_wy6"),
        (role * sgn * F.col("_a2") * F.col("_dx")).alias("_dx2"),
        (role * sgn * F.col("_a2") * F.col("_dy")).alias("_dy2"),
    )
    agg = canon.groupBy("poly_id").agg(
        F.sum("_w2").alias("area2_q"),
        F.sum("_wx6").alias("_sx6"),
        F.sum("_wy6").alias("_sy6"),
        F.sum("_dx2").alias("_sdx"),
        F.sum("_dy2").alias("_sdy"),
        F.min("_bx0").alias("_bx0"),
        F.min("_by0").alias("_by0"),
    )
    # C = (b0 + Σ2A·δ/Σ2A + Σ6A·C_local/(3·Σ2A)) / scale — additions
    # left-to-right, replayed verbatim by the oracle
    den = F.col("area2_q").cast("double")
    c_lon = (
        F.col("_bx0").cast("double")
        + F.col("_sdx").cast("double") / den
        + F.col("_sx6").cast("double") / (F.lit(3.0) * den)
    ) / F.lit(float(s))
    c_lat = (
        F.col("_by0").cast("double")
        + F.col("_sdy").cast("double") / den
        + F.col("_sy6").cast("double") / (F.lit(3.0) * den)
    ) / F.lit(float(s))
    return agg.where(F.col("area2_q") != 0).select(
        "poly_id",
        "area2_q",
        F.round(c_lat, 9).alias("c_lat"),
        F.round(c_lon, 9).alias("c_lon"),
    )


def densify_route(
    legs: DataFrame,
    n_points: int = 8,
    lat1: str = "lat1",
    lon1: str = "lon1",
    lat2: str = "lat2",
    lon2: str = "lon2",
) -> DataFrame:
    """Great-circle route DENSIFICATION (r5): insert ``n_points``
    evenly-spaced intermediate vertices along each leg's great circle
    (slerp on the sphere) — what corridor rendering, XTD sampling and
    long-leg map display need (a straight lat/lon segment diverges
    from the great circle by many km at length).

    Spherical linear interpolation (Williams): with d the angular leg
    distance, point at fraction f is
        A·sin((1-f)d)/sin(d) + B·sin(f·d)/sin(d)
    in 3-vector space, converted back via atan2. Fractions are exact
    rationals i/(n_points+1); outputs are integer 1e-7-degree units
    (the destination_point rounding contract — cross-engine trig
    drift absorbed). Zero-length legs (d below 1e-12 rad) emit the
    start point at every fraction (slerp is 0/0 there). Near-antipodal
    legs (d above pi/2 with sin(d) below ``ANTIPODAL_SIN_EPS``, i.e.
    ends within ~6 km of antipodes) RAISE: the great circle through
    near-antipodes is ill-conditioned and the haversine d loses half
    its digits near pi, so slerp there returns wrong points or NaN.

    Plan: one native Generate (sequence explode) + a pure-codegen trig
    chain — map-only. Returns legs.* + (seq, lat_e7, lon_e7), seq
    1..n_points in leg order.
    """
    if n_points < 1:
        raise ValueError("n_points must be >= 1")
    la1 = F.col(lat1) * F.lit(DEG2RAD)
    lo1 = F.col(lon1) * F.lit(DEG2RAD)
    la2 = F.col(lat2) * F.lit(DEG2RAD)
    lo2 = F.col(lon2) * F.lit(DEG2RAD)
    # angular distance via the haversine chain
    sd2 = F.sin((la2 - la1) / 2)
    sl2 = F.sin((lo2 - lo1) / 2)
    h = sd2 * sd2 + F.cos(la1) * F.cos(la2) * sl2 * sl2
    dd = F.lit(2.0) * F.asin(
        F.least(F.sqrt(F.greatest(h, F.lit(0.0))), F.lit(1.0))
    )
    out = legs.withColumn(
        "seq", F.explode(F.sequence(F.lit(1), F.lit(int(n_points))))
    )
    f = F.col("seq").cast("double") / F.lit(float(n_points + 1))
    a = F.sin((F.lit(1.0) - f) * dd) / F.sin(dd)
    b = F.sin(f * dd) / F.sin(dd)
    x = a * F.cos(la1) * F.cos(lo1) + b * F.cos(la2) * F.cos(lo2)
    y = a * F.cos(la1) * F.sin(lo1) + b * F.cos(la2) * F.sin(lo2)
    z = a * F.sin(la1) + b * F.sin(la2)
    plat = F.atan2(z, F.sqrt(x * x + y * y)) * F.lit(1.0 / DEG2RAD)
    plon = F.atan2(y, x) * F.lit(1.0 / DEG2RAD)
    degenerate = dd < F.lit(1e-12)
    antipodal = (dd > F.lit(math.pi / 2)) & (F.sin(dd) < F.lit(ANTIPODAL_SIN_EPS))
    fail = F.raise_error(
        F.format_string(
            "densify_route: near-antipodal leg (%s, %s) -> (%s, %s) has no "
            "well-defined great circle",
            F.col(lat1), F.col(lon1), F.col(lat2), F.col(lon2),
        )
    )
    return out.select(
        *legs.columns,
        "seq",
        F.round(
            F.when(antipodal, fail).when(degenerate, F.col(lat1)).otherwise(plat)
            * F.lit(1e7)
        ).cast("long").alias("lat_e7"),
        F.round(
            F.when(antipodal, fail).when(degenerate, F.col(lon1)).otherwise(plon)
            * F.lit(1e7)
        ).cast("long").alias("lon_e7"),
    )
