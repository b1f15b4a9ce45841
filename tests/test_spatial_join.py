"""PIP join: Spark two-stage join vs brute-force oracle — EXACT match."""

from __future__ import annotations

import numpy as np
import pytest

from osm_pbf_spark.operators.spatial_join import Polygon, pip_join, polygon_cell_cover
from tests import oracle_geo


def make_polygons() -> list[Polygon]:
    square = np.array([[10.0, 10.0], [10.0, 20.0], [20.0, 20.0], [20.0, 10.0]])
    concave = np.array(
        [[0.0, -30.0], [8.0, -30.0], [8.0, -26.0], [2.0, -26.0], [2.0, -22.0],
         [8.0, -22.0], [8.0, -18.0], [0.0, -18.0]]
    )
    outer = np.array([[40.0, 40.0], [40.0, 50.0], [50.0, 50.0], [50.0, 40.0]])
    hole = np.array([[43.0, 43.0], [43.0, 47.0], [47.0, 47.0], [47.0, 43.0]])
    sliver = np.array([[-5.0, 60.0], [-4.999, 70.0], [-5.001, 70.0]])
    tiny = np.array([[0.001, 0.001], [0.001, 0.002], [0.002, 0.002], [0.002, 0.001]])
    big = np.array([[-80.0, -170.0], [-80.0, -100.0], [-40.0, -100.0], [-40.0, -170.0]])
    return [
        Polygon("square", [square]),
        Polygon("concave", [concave]),
        Polygon("holed", [outer, hole]),
        Polygon("sliver", [sliver]),
        Polygon("tiny", [tiny]),
        Polygon("big", [big]),
    ]


def make_points(n=3000, seed=7):
    rng = np.random.default_rng(seed)
    lat = rng.uniform(-85, 85, n)
    lon = rng.uniform(-179, 179, n)
    # cluster points near/inside each polygon so matches actually occur
    extra = []
    for base_lat, base_lon in [(15, 15), (4, -24), (45, 45), (-5, 65), (0.0015, 0.0015), (-60, -135)]:
        extra.append(np.stack([
            rng.uniform(base_lat - 6, base_lat + 6, 400),
            rng.uniform(base_lon - 6, base_lon + 6, 400),
        ], axis=1))
    # hot cell: >50% of all docs in one small area (skew fixture, FIXTURES.md §2)
    extra.append(np.stack([
        rng.uniform(14.9, 15.1, 6000), rng.uniform(14.9, 15.1, 6000)
    ], axis=1))
    pts = np.concatenate([np.stack([lat, lon], axis=1)] + extra)
    ids = [f"p{i}" for i in range(len(pts))]
    return ids, pts


@pytest.mark.parametrize("level", [6, 10])
def test_pip_join_matches_bruteforce(spark, level):
    polys = make_polygons()
    ids, pts = make_points()
    df = spark.createDataFrame(
        [(i, float(a), float(b)) for i, (a, b) in zip(ids, pts)],
        "doc_id string, lat double, lon double",
    )
    got = {
        (r["doc_id"], r["poly_id"])
        for r in pip_join(spark, df, polys, level=level).collect()
    }
    want = set()
    rings_by_poly = {p.poly_id: [[(float(v[0]), float(v[1])) for v in r] for r in p.rings]
                     for p in polys}
    for i, (la, lo) in zip(ids, pts):
        for pid, rings in rings_by_poly.items():
            if oracle_geo.point_in_polygon(float(la), float(lo), rings):
                want.add((i, pid))
    assert got == want
    assert len(want) > 1000  # sanity: the fixture produces real matches


def test_cover_full_cells_exist(spark):
    polys = make_polygons()
    cover = polygon_cell_cover(polys, 8)
    sq = cover[cover.poly_id == "big"]
    assert sq["full"].sum() > 0  # big polygon must produce interior full cells
    assert (~sq["full"]).sum() > 0  # and boundary partial cells


@pytest.mark.parametrize("level", [8, "auto"])
def test_pip_join_shuffle_strategy_same_result(spark, level):
    polys = make_polygons()[:3]
    ids, pts = make_points(500, seed=11)
    df = spark.createDataFrame(
        [(i, float(a), float(b)) for i, (a, b) in zip(ids, pts)],
        "doc_id string, lat double, lon double",
    )
    a = {(r["doc_id"], r["poly_id"]) for r in pip_join(spark, df, polys, level).collect()}
    b = {
        (r["doc_id"], r["poly_id"])
        for r in pip_join(spark, df, polys, level, strategy="shuffle").collect()
    }
    assert a == b and len(a) > 0


@pytest.mark.parametrize("strategy", ["broadcast", "shuffle"])
@pytest.mark.parametrize("level", [8, "auto"])
def test_pip_join_empty_polygon_list(spark, strategy, level):
    """No polygons (polygons_from_closed_ways can return []): an empty
    result with the points-plus-poly_id schema, on every route."""
    df = spark.createDataFrame(
        [("a", 1.0, 2.0), ("b", -3.0, 4.0)], "doc_id string, lat double, lon double"
    )
    out = pip_join(spark, df, [], level=level, strategy=strategy)
    assert out.schema.simpleString() == (
        "struct<doc_id:string,lat:double,lon:double,poly_id:string>"
    )
    assert out.collect() == []


def test_pip_join_float_coordinates_refine_exactly(spark):
    """float32 lat/lon columns keep their type and give the rows of the
    same points as doubles: the refine widens to float64 exactly."""
    from pyspark.sql import functions as F

    polys = make_polygons()
    ids, pts = make_points(2000, seed=13)
    dbl = spark.createDataFrame(
        [(i, float(np.float32(a)), float(np.float32(b))) for i, (a, b) in zip(ids, pts)],
        "doc_id string, lat double, lon double",
    )
    flt = dbl.select("doc_id", F.col("lat").cast("float"), F.col("lon").cast("float"))
    for level in (8, "auto"):
        out = pip_join(spark, flt, polys, level=level)
        assert out.schema["lat"].dataType.simpleString() == "float"
        got = sorted((r["doc_id"], r["poly_id"]) for r in out.collect())
        want = sorted(
            (r["doc_id"], r["poly_id"]) for r in pip_join(spark, dbl, polys, level=level).collect()
        )
        assert got == want and len(got) > 0


def test_pip_join_points_with_cell_column(spark):
    """A point frame read back from the engine's own table carries a
    ``cell`` column; every join route replaces it instead of adding a
    second one, and returns the broadcast level=8 rows."""
    from pyspark.sql import functions as F

    from osm_pbf_spark.operators.spatial_join import pip_join_rings, rings_frame

    polys = make_polygons()[:1]
    ids, pts = make_points(300, seed=5)
    plain = spark.createDataFrame(
        [(i, float(a), float(b)) for i, (a, b) in zip(ids, pts)],
        "doc_id string, lat double, lon double",
    )
    df = plain.withColumn("cell", F.lit(-1).cast("long"))
    want = sorted(pip_join(spark, plain, polys, level=8).collect())
    assert len(want) > 0
    for out in (
        pip_join(spark, df, polys, level=8),
        pip_join(spark, df, polys, level="auto"),
        pip_join(spark, df, polys, level="auto", strategy="shuffle"),
        pip_join_rings(spark, df, rings_frame(spark, polys), level="auto"),
    ):
        assert sorted(out.collect()) == want


def test_pip_join_shuffle_caches_nothing(spark):
    """The shuffle route and pip_join_rings leave no persisted RDD
    behind: the cover runs inside the join plan, not from a cache."""
    from osm_pbf_spark.operators.spatial_join import pip_join_rings, rings_frame

    polys = make_polygons()
    ids, pts = make_points(300, seed=3)
    df = spark.createDataFrame(
        [(i, float(a), float(b)) for i, (a, b) in zip(ids, pts)],
        "doc_id string, lat double, lon double",
    )
    jsc = spark.sparkContext._jsc
    before = jsc.getPersistentRDDs().size()
    pip_join(spark, df, polys, level="auto", strategy="shuffle").collect()
    pip_join_rings(spark, df, rings_frame(spark, polys), level="auto").collect()
    assert jsc.getPersistentRDDs().size() == before


def test_pip_join_plan_is_broadcast(spark):
    polys = make_polygons()[:1]
    df = spark.createDataFrame([("a", 15.0, 15.0)], "doc_id string, lat double, lon double")
    plan = pip_join(spark, df, polys, 8)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_pip_join_auto_level_matches_bruteforce(spark):
    """level="auto" (per-polygon normalized cover levels) must keep the
    exact-oracle guarantee across a size mix from sliver/tiny to big."""
    polys = make_polygons()
    ids, pts = make_points()
    df = spark.createDataFrame(
        [(i, float(a), float(b)) for i, (a, b) in zip(ids, pts)],
        "doc_id string, lat double, lon double",
    )
    got = {
        (r["doc_id"], r["poly_id"])
        for r in pip_join(spark, df, polys, level="auto").collect()
    }
    want = set()
    rings_by_poly = {p.poly_id: [[(float(v[0]), float(v[1])) for v in r] for r in p.rings]
                     for p in polys}
    for i, (la, lo) in zip(ids, pts):
        for pid, rings in rings_by_poly.items():
            if oracle_geo.point_in_polygon(float(la), float(lo), rings):
                want.add((i, pid))
    assert got == want


def test_pick_cover_level_monotone():
    from osm_pbf_spark.operators.spatial_join import pick_cover_level

    polys = {p.poly_id: p for p in make_polygons()}
    lvl_tiny = pick_cover_level(polys["tiny"])
    lvl_big = pick_cover_level(polys["big"])
    assert lvl_tiny > lvl_big  # smaller polygon -> finer cover
    assert 2 <= lvl_big <= 16 and 2 <= lvl_tiny <= 16


def test_distributed_cover_matches_driver_cover(spark):
    """rings_cell_cover over a polygon list's rings frame must emit
    exactly the driver-side cover rows, and the shuffle-strategy
    pip_join over a >2000-polygon set must match per-polygon brute PIP."""
    import numpy as np
    import pandas as pd

    from osm_pbf_spark.operators.spatial_join import (
        pip_join,
        polygon_cell_cover,
        rings_cell_cover,
        rings_frame,
        Polygon,
    )
    from tests.oracle_geo import point_in_polygon

    rng = np.random.default_rng(11)
    polys = []
    for i in range(2100):
        la = float(rng.uniform(-60, 60))
        lo = float(rng.uniform(-170, 170))
        s = float(rng.uniform(0.05, 0.4))
        polys.append(Polygon(f"p{i}", [np.array([
            [la, lo], [la, lo + s], [la + s, lo + s], [la + s, lo]
        ])]))

    level = 7
    want = polygon_cell_cover(polys, level)
    got = rings_cell_cover(rings_frame(spark, polys), level).toPandas()
    key = ["cell", "poly_id", "full"]
    assert (
        sorted(map(tuple, got[key].itertuples(index=False)))
        == sorted(map(tuple, want[key].itertuples(index=False)))
    )

    pts = spark.createDataFrame(pd.DataFrame({
        "doc_id": np.arange(300),
        "lat": rng.uniform(-60, 61, 300),
        "lon": rng.uniform(-170, 171, 300),
    }))
    out = sorted(
        (r.doc_id, r.poly_id)
        for r in pip_join(spark, pts, polys, level=level, strategy="shuffle").collect()
    )
    rows = pts.collect()
    want_pairs = sorted(
        (r.doc_id, p.poly_id)
        for r in rows
        for p in polys
        if point_in_polygon(r.lat, r.lon, [list(map(tuple, p.rings[0]))])
    )
    assert out == want_pairs
