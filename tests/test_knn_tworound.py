"""Exactness tests for the two-round (large-query-set) kNN join.

Contract: identical output to the brute-force oracle — same pairs, same
ranks, same (dist, neighbor_id) tie-breaks — with a FIXED number of
shuffles and zero driver pacing.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from osm_pbf_spark.operators.knn import knn_join, knn_two_round
from tests.oracle_geo import knn_bruteforce


def _mkdf(spark, ids, lat, lon):
    return spark.createDataFrame(
        pd.DataFrame({"doc_id": ids, "lat": lat, "lon": lon})
    )


@pytest.fixture(scope="module")
def corpus(spark):
    rng = np.random.default_rng(42)
    n = 4000
    # mixed density: one hot blob + uniform background
    lat = np.concatenate([
        40.7 + rng.uniform(-0.02, 0.02, n // 2),
        rng.uniform(-75, 75, n // 2),
    ])
    lon = np.concatenate([
        -74.0 + rng.uniform(-0.02, 0.02, n // 2),
        rng.uniform(-178, 178, n // 2),
    ])
    return _mkdf(spark, np.arange(n), lat, lon).cache()


@pytest.mark.parametrize("metric", ["euclid2_deg", "haversine"])
def test_two_round_matches_bruteforce_oracle(spark, corpus, metric):
    cand_rows = [(r.doc_id, r.lat, r.lon) for r in corpus.collect()]
    queries = corpus.filter(F.col("doc_id") % 7 == 0)  # ~570 queries
    q_rows = [(r.doc_id, r.lat, r.lon) for r in queries.collect()]
    got = sorted(
        (r.query_id, r.neighbor_id, r.rank)
        for r in knn_two_round(spark, queries, corpus, k=5, level=7, metric=metric).collect()
    )
    want = sorted(knn_bruteforce(q_rows, cand_rows, k=5, metric=metric))
    assert got == want


def test_two_round_sparse_tail_still_exact(spark):
    """Fewer than k candidates in every 3x3 window -> the lazy brute
    tail must produce the exact answer (and fewer than k rows when the
    corpus itself is smaller than k)."""
    rng = np.random.default_rng(3)
    cand = _mkdf(spark, np.arange(8), rng.uniform(-80, 80, 8), rng.uniform(-170, 170, 8))
    out = sorted(
        (r.query_id, r.neighbor_id, r.rank)
        for r in knn_two_round(spark, cand, cand, k=5, level=12).collect()
    )
    rows = [(r.doc_id, r.lat, r.lon) for r in cand.collect()]
    assert out == sorted(knn_bruteforce(rows, rows, k=5))


def test_auto_routes_large_query_sets_through_two_round(spark, corpus):
    """level='auto' with the brute gate forced off must still be exact
    (this is the >10k-query production path, scaled down)."""
    queries = corpus.filter(F.col("doc_id") % 5 == 0)
    got = sorted(
        (r.query_id, r.neighbor_id, r.rank)
        for r in knn_join(
            spark, queries, corpus, k=3, level="auto", metric="euclid2_deg",
            brute_max_queries=0,
        ).collect()
    )
    cand_rows = [(r.doc_id, r.lat, r.lon) for r in corpus.collect()]
    q_rows = [(r.doc_id, r.lat, r.lon) for r in queries.collect()]
    assert got == sorted(knn_bruteforce(q_rows, cand_rows, k=3, metric="euclid2_deg"))


def test_two_round_window_overflow_falls_back(spark, corpus):
    """A tiny max_window_cells forces the overflow path for dense-ball
    queries; output must stay exact."""
    queries = corpus.filter(F.col("doc_id") % 101 == 0)
    got = sorted(
        (r.query_id, r.neighbor_id, r.rank)
        for r in knn_two_round(
            spark, queries, corpus, k=4, level=7, metric="euclid2_deg",
            max_window_cells=4,
        ).collect()
    )
    cand_rows = [(r.doc_id, r.lat, r.lon) for r in corpus.collect()]
    q_rows = [(r.doc_id, r.lat, r.lon) for r in queries.collect()]
    assert got == sorted(knn_bruteforce(q_rows, cand_rows, k=4, metric="euclid2_deg"))


def _assigned_levels(monkeypatch) -> list:
    """Record the query frames (one ``_lvl`` per query) that
    knn_join(level='auto') hands to the two-round body."""
    from osm_pbf_spark.operators import knn

    seen = []
    body = knn._two_round
    monkeypatch.setattr(knn, "_two_round", lambda q, *a: seen.append(q) or body(q, *a))
    return seen


@pytest.mark.parametrize("metric", ["euclid2_deg", "haversine"])
def test_auto_one_plan_over_mixed_levels_exact_under_ties(spark, monkeypatch, metric):
    """ONE two-round plan over queries at several cell levels: a dense
    blob (fine level) and a sparse background (coarse level, mostly the
    brute tail), each with stacks of identical points, so the k-th slot
    is a (dist, neighbor_id) tie on both sides of the level split."""
    rng = np.random.default_rng(29)
    pts = []
    for s in range(10):  # stacks: 5 in the blob, 5 in the background
        if s < 5:
            la, lo = 40.7 + rng.uniform(-0.02, 0.02), -74.0 + rng.uniform(-0.02, 0.02)
        else:
            la, lo = rng.uniform(-60, 60), rng.uniform(-170, 170)
        pts += [(f"s{s}_{j}", float(la), float(lo)) for j in range(6)]
    for i in range(240):
        pts.append((f"b{i:03d}", 40.7 + float(rng.uniform(-0.02, 0.02)),
                    -74.0 + float(rng.uniform(-0.02, 0.02))))
    for i in range(200):
        pts.append((f"r{i:03d}", float(rng.uniform(-60, 60)), float(rng.uniform(-170, 170))))
    df = spark.createDataFrame(pts, "doc_id string, lat double, lon double")
    seen = _assigned_levels(monkeypatch)
    got = sorted(
        (r.query_id, r.neighbor_id, r.rank)
        for r in knn_join(
            spark, df, df, k=5, level="auto", metric=metric, auto_levels=(6, 12),
            brute_max_queries=0,
        ).collect()
    )
    assert len(seen) == 1
    assert seen[0].select("_lvl").distinct().count() >= 2
    assert got == sorted(knn_bruteforce(pts, pts, k=5, metric=metric))
