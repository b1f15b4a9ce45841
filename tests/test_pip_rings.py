"""pip_join_rings: the DataFrame-native polygon side (no driver
collect, no polygon cap) must match pip_join / the scalar oracle
exactly, and hold up at a 10^5-polygon scale the broadcast-list path
was never meant for (override RINGS_PIP_N_POLYS=1000000 for the full
10^6 study — recorded in BENCH/BASELINE.md)."""

from __future__ import annotations

import os

import numpy as np
from pyspark.sql import functions as F

from osm_pbf_spark.operators.spatial_join import (
    Polygon,
    pip_join,
    pip_join_rings,
    rings_frame,
    rings_from_closed_ways,
)


def test_rings_matches_broadcast_pip(spark):
    """Same polygons, both paths, exact row equality (incl. a holed
    polygon where the hole's candidates must survive refine)."""
    outer = np.array([[0.0005, 0.0005], [0.0005, 20.0005], [20.0005, 20.0005], [20.0005, 0.0005]])
    hole = np.array([[5.0005, 5.0005], [5.0005, 10.0005], [10.0005, 10.0005], [10.0005, 5.0005]])
    tri = np.array([[-30.0001, -100.0003], [-5.0007, -60.0001], [-45.0002, -50.0009]])
    polys = [Polygon("holed", [outer, hole]), Polygon("tri", [tri])]

    rng = np.random.default_rng(7)
    lat = rng.uniform(-50.0, 25.0, 4000)
    lon = rng.uniform(-110.0, 25.0, 4000)
    pts = spark.createDataFrame(
        [(i, float(a), float(b)) for i, (a, b) in enumerate(zip(lat, lon))],
        "doc_id long, lat double, lon double",
    )
    want = {
        (r["doc_id"], r["poly_id"])
        for r in pip_join(spark, pts, polys, level=8).collect()
    }
    got = {
        (r["doc_id"], r["poly_id"])
        for r in pip_join_rings(spark, pts, rings_frame(spark, polys), level=8).collect()
    }
    assert got == want and len(got) > 0


def test_rings_from_closed_ways_roundtrip(spark, tmp_path):
    """decode -> assembly -> rings DF -> pip_join_rings == the driver
    q_way_pip path built from collected Polygon objects."""
    from osm_pbf_spark.sources import pbf_source as src
    from tests.pbf_fixtures import build_way_pip

    pbf = build_way_pip(str(tmp_path))
    entities, _ = src.read_pbf(spark, pbf)
    nodes = src.nodes(entities)
    geoms = src.assemble_way_geometries(src.ways(entities), nodes)
    pts = nodes.selectExpr("cast(id as string) as doc_id", "lat", "lon")

    polys = src.polygons_from_closed_ways(geoms)
    want = {
        (r["doc_id"], r["poly_id"])
        for r in pip_join(spark, pts, polys, level=10).collect()
    }
    got = {
        (r["doc_id"], r["poly_id"])
        for r in pip_join_rings(spark, pts, rings_from_closed_ways(geoms), level=10).collect()
    }
    assert got == want and len(got) > 0


def test_rings_pip_at_volume(spark):
    """A polygon GRID big enough that the broadcast-list path's cap is
    the wrong tool: n_polys small rects, one lattice point planted at
    each rect's center plus decoys on the gaps. Expected pairs are
    arithmetic (points avoid boundaries by construction), so the oracle
    is exact with no scalar PIP loop."""
    n_polys = int(os.environ.get("RINGS_PIP_N_POLYS", "100000"))
    side = int(np.sqrt(n_polys))
    n_polys = side * side
    # rect (i, j): lat in [i*d + m, (i+1)*d - m], lon likewise; d chosen
    # so the grid spans +-60 degrees
    d = 120.0 / side
    m = 0.2 * d

    ij = np.arange(side)
    # build rings DF distributed (the polygon side never sits on the
    # driver as objects — exactly the regime this operator exists for)
    grid = (
        spark.range(n_polys)
        .select(
            F.col("id").alias("pid"),
            (F.col("id") % side).alias("i"),
            F.floor(F.col("id") / side).alias("j"),
        )
        .select(
            F.concat(F.lit("r"), "pid").alias("poly_id"),
            F.lit(0).alias("ring_idx"),
            F.expr(
                f"array("
                f"struct(i * {d} - 60.0 + {m} as lat, j * {d} - 60.0 + {m} as lon),"
                f"struct(i * {d} - 60.0 + {m} as lat, (j+1) * {d} - 60.0 - {m} as lon),"
                f"struct((i+1) * {d} - 60.0 - {m} as lat, (j+1) * {d} - 60.0 - {m} as lon),"
                f"struct((i+1) * {d} - 60.0 - {m} as lat, j * {d} - 60.0 + {m} as lon))"
            ).alias("pts"),
        )
    )
    # one point at each rect center (inside r<pid>) + one on each grid
    # corner lattice (inside nothing — sits in the margin gap)
    centers = spark.range(n_polys).select(
        F.col("id").alias("doc_id"),
        ((F.col("id") % side) * d - 60.0 + d / 2).alias("lat"),
        (F.floor(F.col("id") / side) * d - 60.0 + d / 2).alias("lon"),
    )
    decoys = spark.range(n_polys).select(
        (F.col("id") + n_polys).alias("doc_id"),
        ((F.col("id") % side) * d - 60.0).alias("lat"),
        (F.floor(F.col("id") / side) * d - 60.0).alias("lon"),
    )
    pts = centers.unionByName(decoys)

    level = int(np.floor(np.log2(180.0 / d))) + 1
    out = pip_join_rings(spark, pts, grid, level=level)
    hits = out.select("doc_id", "poly_id").collect()
    assert len(hits) == n_polys
    for r in hits[:: max(1, len(hits) // 500)]:  # sampled exact check
        assert r["poly_id"] == f"r{r['doc_id']}"
    assert {r["doc_id"] for r in hits} == set(range(n_polys))


def test_rings_auto_level_mixed_sizes(spark):
    """level="auto" per-polygon normalization: a huge polygon among
    small ones must (a) keep its cover bounded (no 10^5-cell meshgrid
    in one task) and (b) still produce exactly pip_join's rows."""
    from osm_pbf_spark.operators.spatial_join import rings_cell_cover

    huge = np.array([[10.0001, -20.0001], [10.0001, 15.0003], [45.0007, 15.0003], [45.0007, -20.0001]])
    small = [
        Polygon(f"s{i}", [np.array([
            [la + 0.0001, lo + 0.0001], [la + 0.0001, lo + 0.2001],
            [la + 0.2001, lo + 0.2001], [la + 0.2001, lo + 0.0001],
        ])])
        for i, (la, lo) in enumerate([(-30.0, -60.0), (-12.0, 40.0), (55.0, 100.0)])
    ]
    polys = [Polygon("huge", [huge])] + small
    rings = rings_frame(spark, polys)

    cover = rings_cell_cover(rings, "auto").collect()
    by_poly: dict[str, int] = {}
    levels: dict[str, set] = {}
    for r in cover:
        by_poly[r["poly_id"]] = by_poly.get(r["poly_id"], 0) + 1
        levels.setdefault(r["poly_id"], set()).add(r["level"])
    # bounded cover for the huge polygon; finer level for the small ones
    assert by_poly["huge"] < 2000
    assert max(levels["huge"]) < min(levels["s0"])

    rng = np.random.default_rng(11)
    n = 3000
    lat = rng.uniform(-60.0, 70.0, n)
    lon = rng.uniform(-80.0, 120.0, n)
    pts = spark.createDataFrame(
        [(i, float(a), float(b)) for i, (a, b) in enumerate(zip(lat, lon))],
        "doc_id long, lat double, lon double",
    )
    want = {
        (r["doc_id"], r["poly_id"])
        for r in pip_join(spark, pts, polys, level="auto").collect()
    }
    got = {
        (r["doc_id"], r["poly_id"])
        for r in pip_join_rings(spark, pts, rings_frame(spark, polys), level="auto").collect()
    }
    assert got == want and len(got) > 0
