"""Batch r5-A: luby_mis, topo_layers, adamic_adar, scc."""

from __future__ import annotations

import hashlib
import math

import pytest
from pyspark.sql import functions as F


# ------------------------------------------------------------ luby MIS
def _greedy_mis(edges):
    nbrs: dict = {}
    nodes = set()
    for a, b in edges:
        if a == b:
            continue
        nodes |= {a, b}
        nbrs.setdefault(a, set()).add(b)
        nbrs.setdefault(b, set()).add(a)
    pri = lambda v: (int(hashlib.md5(str(v).encode()).hexdigest()[:10], 16), v)
    taken: set = set()
    blocked: set = set()
    for v in sorted(nodes, key=pri):
        if v in blocked:
            continue
        taken.add(v)
        blocked |= nbrs.get(v, set())
    return taken


def test_luby_mis_equals_sequential_greedy(spark):
    from osm_pbf_spark.operators.graph import luby_mis

    edges = [((i * 7) % 60, (i * 13 + 3) % 60) for i in range(200)]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r.node for r in luby_mis(df).collect()}
    assert got == _greedy_mis(edges)


def test_luby_mis_independent_and_maximal(spark):
    from osm_pbf_spark.operators.graph import luby_mis

    edges = [((i * 3) % 31, (i * 11 + 1) % 31) for i in range(90)]
    df = spark.createDataFrame(edges, "src long, dst long")
    mis = {r.node for r in luby_mis(df).collect()}
    und = {(min(a, b), max(a, b)) for a, b in edges if a != b}
    for a, b in und:
        assert not (a in mis and b in mis)          # independent
    nodes = {x for e in und for x in e}
    for v in nodes - mis:                            # maximal
        assert any((min(v, w), max(v, w)) in und and w in mis
                   for w in nodes if w != v)


# ---------------------------------------------------------- topo layers
def test_topo_layers_longest_path_and_cycle(spark):
    from osm_pbf_spark.operators.graph import topo_layers

    # diamond + tail: 0->1->3->4, 0->2->3; longest to 4 is 3
    df = spark.createDataFrame(
        [(0, 1), (0, 2), (1, 3), (2, 3), (3, 4)], "src long, dst long"
    )
    got = {r.node: r.layer for r in topo_layers(df).collect()}
    assert got == {0: 0, 1: 1, 2: 1, 3: 2, 4: 3}
    cyc = spark.createDataFrame([(1, 2), (2, 3), (3, 1)], "src long, dst long")
    with pytest.raises(ValueError, match="cycle"):
        topo_layers(cyc, max_rounds=20)


# ---------------------------------------------------------- adamic-adar
def test_adamic_adar_matches_scalar(spark):
    from osm_pbf_spark.operators.graph import adamic_adar

    edges = [((i * 5) % 40, (i * 7 + 2) % 40) for i in range(45)]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {(r.u, r.v): (r.n_common, r.aa_score) for r in adamic_adar(df).collect()}

    und = {(min(a, b), max(a, b)) for a, b in edges if a != b}
    nbrs: dict = {}
    for a, b in und:
        nbrs.setdefault(a, set()).add(b)
        nbrs.setdefault(b, set()).add(a)
    want = {}
    nodes = sorted(nbrs)
    for i, u in enumerate(nodes):
        for v in nodes[i + 1:]:
            if (u, v) in und:
                continue
            com = nbrs[u] & nbrs[v]
            if com:
                s = round(sum(1.0 / math.log(len(nbrs[w])) for w in com), 6)
                want[(u, v)] = (len(com), s)
    assert got == want and len(want) > 5


# ----------------------------------------------------------------- SCC
def _tarjan(edges):
    adj: dict = {}
    nodes = set()
    for a, b in edges:
        if a == b:
            continue
        nodes |= {a, b}
        adj.setdefault(a, []).append(b)
    idx, low, onstk, stk = {}, {}, set(), []
    comp = {}
    counter = [0]
    import sys
    sys.setrecursionlimit(100000)

    def strong(v):
        idx[v] = low[v] = counter[0]
        counter[0] += 1
        stk.append(v)
        onstk.add(v)
        for w in adj.get(v, []):
            if w not in idx:
                strong(w)
                low[v] = min(low[v], low[w])
            elif w in onstk:
                low[v] = min(low[v], idx[w])
        if low[v] == idx[v]:
            grp = []
            while True:
                w = stk.pop()
                onstk.discard(w)
                grp.append(w)
                if w == v:
                    break
            m = min(grp)
            for w in grp:
                comp[w] = m

    for v in sorted(nodes):
        if v not in idx:
            strong(v)
    return comp


def test_scc_matches_tarjan(spark):
    from osm_pbf_spark.operators.graph import scc

    # two 3-cycles bridged one-way, plus a DAG tail and a 2-cycle
    edges = [(1, 2), (2, 3), (3, 1), (3, 4), (4, 5), (5, 6), (6, 4),
             (6, 7), (7, 8), (10, 11), (11, 10)]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r.node: r.comp for r in scc(df).collect()}
    assert got == _tarjan(edges)
    assert got[1] == got[2] == got[3] == 1
    assert got[4] == got[5] == got[6] == 4
    assert got[7] == 7 and got[8] == 8
    assert got[10] == got[11] == 10


def test_scc_chain_into_min_id_is_singletons(spark):
    """3->2->1: every node reaches the min id 1 (one forward color), but
    1 reaches nothing, so the SCCs are three singletons."""
    from osm_pbf_spark.operators.graph import scc

    edges = [(3, 2), (2, 1)]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r.node: r.comp for r in scc(df).collect()}
    assert got == _tarjan(edges) == {1: 1, 2: 2, 3: 3}


def test_scc_synthetic_mixed(spark):
    from osm_pbf_spark.operators.graph import scc

    edges = [((i * 7) % 30, (i * 11 + 1) % 30) for i in range(80)]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r.node: r.comp for r in scc(df).collect()}
    assert got == _tarjan(edges)
