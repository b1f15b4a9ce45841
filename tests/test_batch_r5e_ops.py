"""Batch r5-E: tree_betweenness, densify_route."""

from __future__ import annotations

import hashlib
import math

from pyspark.sql import functions as F


def _tree_betweenness_replay(edges, n_landmarks):
    und = {(min(a, b), max(a, b)) for a, b in edges if a != b}
    nbrs: dict = {}
    for a, b in und:
        nbrs.setdefault(a, set()).add(b)
        nbrs.setdefault(b, set()).add(a)
    nodes = sorted(nbrs)
    pri = lambda v: (int(hashlib.md5(str(v).encode()).hexdigest()[:10], 16), v)
    landmarks = sorted(nodes, key=pri)[:n_landmarks]
    score = {v: 0 for v in nodes}
    for s in landmarks:
        # canonical BFS tree: parent = min-id predecessor at depth-1
        dist = {s: 0}
        parent = {}
        frontier = [s]
        d = 0
        while frontier:
            d += 1
            nxt = {}
            for u in frontier:
                for w in nbrs[u]:
                    if w not in dist:
                        if w not in nxt or u < nxt[w]:
                            nxt[w] = u
            for w, p in nxt.items():
                dist[w] = d
                parent[w] = p
            frontier = sorted(nxt)
        # descendant counts
        size = {v: 1 for v in dist}
        for v in sorted(dist, key=lambda x: -dist[x]):
            if v in parent:
                size[parent[v]] += size[v]
        for v in dist:
            if v != s:
                score[v] += size[v] - 1
    return score


def test_tree_betweenness_matches_replay_and_finds_bridge(spark):
    from osm_pbf_spark.operators.graph import tree_betweenness

    # two cliques joined by a bridge vertex 100
    edges = []
    for grp in (range(0, 6), range(10, 16)):
        g = list(grp)
        edges += [(g[i], g[j]) for i in range(len(g)) for j in range(i + 1, len(g))]
    edges += [(0, 100), (100, 10)]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r.node: r.score for r in tree_betweenness(df, n_landmarks=4).collect()}
    want = _tree_betweenness_replay(edges, 4)
    assert got == want
    # the bridge outranks every clique-internal vertex except its ports
    inner = [v for v in got if v not in (0, 10, 100)]
    assert all(got[100] >= got[v] for v in inner)


def test_tree_betweenness_synthetic_graph(spark):
    from osm_pbf_spark.operators.graph import tree_betweenness

    edges = [((i * 7) % 50, (i * 11 + 3) % 50) for i in range(120)]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r.node: r.score for r in tree_betweenness(df, n_landmarks=6).collect()}
    assert got == _tree_betweenness_replay(edges, 6)


# ------------------------------------------------------------- densify
def test_densify_route_midpoint_and_degenerate(spark):
    from osm_pbf_spark.operators.measures import densify_route

    legs = spark.createDataFrame(
        [(1, 0.0, 0.0, 0.0, 90.0), (2, 45.0, 7.0, 45.0, 7.0)],
        "leg long, lat1 double, lon1 double, lat2 double, lon2 double",
    )
    got = {(r.leg, r.seq): (r.lat_e7, r.lon_e7)
           for r in densify_route(legs, n_points=3).collect()}
    # equator leg: intermediate points stay on the equator at 22.5/45/67.5 E
    assert got[(1, 1)] == (0, 225_000_000)
    assert got[(1, 2)] == (0, 450_000_000)
    assert got[(1, 3)] == (0, 675_000_000)
    # degenerate zero-length leg emits the start point
    for s in (1, 2, 3):
        assert got[(2, s)] == (450_000_000, 70_000_000)


def test_densify_route_great_circle_bulge(spark):
    """A long east-west leg at 60N: the great-circle midpoint sits
    NORTH of the parallel (the rendering bug this operator fixes)."""
    from osm_pbf_spark.operators.measures import densify_route

    legs = spark.createDataFrame(
        [(1, 60.0, -30.0, 60.0, 30.0)],
        "leg long, lat1 double, lon1 double, lat2 double, lon2 double",
    )
    got = {r.seq: (r.lat_e7 / 1e7, r.lon_e7 / 1e7)
           for r in densify_route(legs, n_points=3).collect()}
    assert abs(got[2][1]) < 1e-6          # midpoint on the central meridian
    assert got[2][0] > 61.5               # bulges well above 60N (~62.8)
    assert abs(got[1][0] - got[3][0]) < 1e-6  # symmetric


def _slerp_vec(la1, lo1, la2, lo2, f):
    """Reference slerp in 3-vector form, d = atan2(|AxB|, A.B) — well
    conditioned near antipodes, unlike the engine's haversine d."""
    def vec(la, lo):
        la, lo = math.radians(la), math.radians(lo)
        return (math.cos(la) * math.cos(lo), math.cos(la) * math.sin(lo), math.sin(la))

    a, b = vec(la1, lo1), vec(la2, lo2)
    cr = (a[1] * b[2] - a[2] * b[1], a[2] * b[0] - a[0] * b[2], a[0] * b[1] - a[1] * b[0])
    d = math.atan2(math.sqrt(sum(c * c for c in cr)), sum(p * q for p, q in zip(a, b)))
    wa, wb = math.sin((1 - f) * d) / math.sin(d), math.sin(f * d) / math.sin(d)
    x, y, z = (wa * p + wb * q for p, q in zip(a, b))
    return math.degrees(math.atan2(z, math.hypot(x, y))), math.degrees(math.atan2(y, x))


def test_densify_route_near_antipodal_raises(spark):
    """Legs whose ends are (nearly) antipodal have no well-defined great
    circle: slerp divided by sin(d) ~ 0 and returned NaN, which the long
    cast turned into silent (0, 0) points. They now fail loudly, while a
    long leg just outside the guard still densifies accurately."""
    import pytest
    from pyspark.errors import PySparkException
    from py4j.protocol import Py4JJavaError

    from osm_pbf_spark.operators.measures import densify_route

    schema = "leg long, lat1 double, lon1 double, lat2 double, lon2 double"
    for leg in [(1, 10.0, 20.0, -10.0, -160.0), (2, 10.0, 20.0, -9.9999, -160.0)]:
        legs = spark.createDataFrame([leg], schema)
        with pytest.raises((PySparkException, Py4JJavaError), match="near-antipodal"):
            densify_route(legs, n_points=3).collect()

    leg = (3, 10.0, 20.0, -9.5, -160.0)
    got = {r.seq: (r.lat_e7, r.lon_e7)
           for r in densify_route(spark.createDataFrame([leg], schema), n_points=3).collect()}
    for seq in (1, 2, 3):
        want_lat, want_lon = _slerp_vec(*leg[1:], seq / 4)
        assert abs(got[seq][0] - want_lat * 1e7) <= 1
        assert abs(got[seq][1] - want_lon * 1e7) <= 1
