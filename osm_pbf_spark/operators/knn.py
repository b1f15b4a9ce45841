"""Distributed exact kNN (SURVEY.md §2.3 G5).

Replaces the reference r-tree's nearest-neighbor descent with TWO exact
paths, neither paced round by round from the driver:

  - broadcast-brute (small query sets): the query rows, fetched by the
    limited collect that picks this route, ride in the task closure;
    one mapInPandas BLAS pass over the candidates keeps a running
    per-query top-k, then a window reduce;
  - two-round cell-window plan (large query sets): round A upper-bounds
    each query's k-th distance from its 3x3 cell window, round B joins
    exactly the cells intersecting that ball — ~5 shuffles, exact, ONE
    plan for all per-query levels. Only ``level="auto"`` runs a driver
    action first: it checkpoints the per-query level assignment.

(The original driver-paced ring-expansion loop — grow the window until
a per-query outside-window lower bound proves resolution — was deleted
in round 3: it was exact but serialized dozens of jobs through the
driver, the plan you would NOT want at 100x. Its role as an
independent check is covered by the pure-Python O(n^2) oracle in
tests/oracle_geo.py, which every path is tested against.)

Determinism: ties broken by (distance, candidate_id). Distances for
`haversine` are computed in the SAME numpy kernel as the pure-Python
oracle; `euclid2_deg` uses native Spark arithmetic (exact IEEE ops).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions import cells as C
from ..functions.geometry import EARTH_RADIUS_M, haversine_m


@F.pandas_udf(T.ArrayType(T.LongType()))
def _ring_cells(cell: pd.Series) -> pd.Series:
    """3x3 cell window of each cell, at the cell's own level."""
    cells_arr = cell.to_numpy(np.int64)
    if len(cells_arr) == 0:
        return pd.Series([], dtype=object)
    grid = C.neighbors(cells_arr, ring=1)
    return pd.Series([np.unique(row).tolist() for row in grid])


@F.pandas_udf(T.DoubleType())
def _haversine_udf(qlat: pd.Series, qlon: pd.Series, clat: pd.Series, clon: pd.Series) -> pd.Series:
    return pd.Series(
        haversine_m(
            qlat.to_numpy(np.float64), qlon.to_numpy(np.float64),
            clat.to_numpy(np.float64), clon.to_numpy(np.float64),
        )
    )


def _knn_broadcast_brute(
    spark: SparkSession,
    queries: DataFrame,
    q_rows: list,
    candidates: DataFrame,
    k: int,
    metric: str,
    query_id: str,
    cand_id: str,
    exclude_self: bool,
) -> DataFrame:
    """Exact kNN for SMALL query sets: the collected (query_id, lat,
    lon) ``q_rows`` ride in the task closure as numpy arrays, candidate
    batches stream through ONE mapInPandas pass that maintains a
    running per-query top-k per partition, then a window reduces the
    tiny per-partition winners — the ring expansion's driver-paced
    rounds (dozens of jobs) lose to this below ~10^4 queries."""
    ids = np.array([r[0] for r in q_rows], dtype=object)
    qla = np.array([r[1] for r in q_rows], dtype=np.float64)
    qlo = np.array([r[2] for r in q_rows], dtype=np.float64)
    # self-exclusion is exact IN the local pass: each candidate id gets
    # one hash lookup against the query-id map (O(n_cands) total, never
    # an (nq x chunk) id matrix) and its distance to its own query row
    # is masked to +inf before top-k selection — duplicate candidate
    # ids at distance 0 can no longer crowd true neighbors out of the
    # slot budget
    qrow = {qid: i for i, qid in enumerate(ids)} if exclude_self else None
    nq = len(ids)
    kk = k

    def _local_topk(batches):
        # haversine surrogate: rank by NEGATIVE unit-vector dot product
        # (chord distance is monotone in great-circle distance), so the
        # whole pairwise phase is one BLAS matrix multiply per chunk —
        # per-POINT trig only. The EXACT distance (same kernel as the
        # oracle) is recomputed just for the ~nq*kk survivors. A
        # relative-epsilon slack on the local cut guards the
        # (measure-zero) case where distinct surrogates round to equal
        # final distances across the boundary.
        qp = np.radians(qla)
        ql = np.radians(qlo)
        # negation folded into Q: d = (-Q) @ C.T directly yields the
        # "smaller = closer" surrogate without a full-matrix negate copy
        Q = -np.stack(
            [np.cos(qp) * np.cos(ql), np.cos(qp) * np.sin(ql), np.sin(qp)], axis=1
        )
        best_d = np.full((nq, 0), np.inf)
        best_pos = np.full((nq, 0), -1, dtype=np.int64)
        # accumulate the partition's candidate arrays once; the running
        # top-k tracks int64 POSITIONS into them (C-fast gathers) and
        # the id/coord lookup happens a single time at the end — object
        # arrays never enter the per-chunk loop
        acc_id, acc_la, acc_lo = [], [], []
        base = 0
        # keep the per-chunk distance block SMALL (~nq x 512 = ~8 MB at
        # 2000 queries): with every core running this kernel the blocks
        # all stream through the SHARED L3, and a 32 MB block measured
        # 66x slower per-multiply than an 8 MB one under 32-way
        # parallelism (pure cache thrash — the flops are trivial)
        chunk = max(64, min(512, 4_000_000 // max(nq, 1)))
        for pdf in batches:
            p_lat = pdf["lat"].to_numpy(np.float64)
            p_lon = pdf["lon"].to_numpy(np.float64)
            acc_id.append(pdf[cand_id].to_numpy())
            acc_la.append(p_lat)
            acc_lo.append(p_lon)
            self_rows = self_cols = None
            if qrow is not None:
                codes = pdf[cand_id].map(qrow)
                sel = codes.notna().to_numpy()
                if sel.any():
                    self_cols = np.nonzero(sel)[0]
                    self_rows = codes.to_numpy(np.float64)[sel].astype(np.int64)
            for s in range(0, len(pdf), chunk):
                cla = p_lat[s : s + chunk]
                clo = p_lon[s : s + chunk]
                if len(cla) == 0:
                    continue
                if metric == "euclid2_deg":
                    d = (qla[:, None] - cla[None, :]) ** 2 + (qlo[:, None] - clo[None, :]) ** 2
                else:
                    cp = np.radians(cla)
                    cl = np.radians(clo)
                    Cc = np.stack(
                        [np.cos(cp) * np.cos(cl), np.cos(cp) * np.sin(cl), np.sin(cp)],
                        axis=1,
                    )
                    d = Q @ Cc.T  # smaller = closer (Q carries the minus)
                if self_cols is not None:
                    in_chunk = (self_cols >= s) & (self_cols < s + len(cla))
                    if in_chunk.any():
                        d[self_rows[in_chunk], self_cols[in_chunk] - s] = np.inf
                pos = np.broadcast_to(
                    np.arange(base + s, base + s + len(cla), dtype=np.int64),
                    (nq, len(cla)),
                )
                all_d = np.concatenate([best_d, d], axis=1)
                all_p = np.concatenate([best_pos, pos], axis=1)
                if all_d.shape[1] > kk:
                    # keep top-m with m covering every entry tied (or
                    # epsilon-close) at the kk-th value: the FINAL
                    # window breaks ties by (dist, neighbor_id) —
                    # dropping a boundary tie could drop the true winner
                    kth = np.partition(all_d, kk - 1, axis=1)[:, kk - 1]
                    cut = kth + np.abs(kth) * 1e-12 + 1e-300
                    with np.errstate(invalid="ignore"):
                        counts = (all_d <= cut[:, None]).sum(axis=1)
                    m = min(int(max(kk, counts.max())), all_d.shape[1])
                    part = np.argpartition(all_d, m - 1, axis=1)[:, :m]
                    best_d = np.take_along_axis(all_d, part, axis=1)
                    best_pos = np.take_along_axis(all_p, part, axis=1)
                else:
                    best_d, best_pos = all_d, all_p
            base += len(pdf)
        finite = np.isfinite(best_d) & (best_pos >= 0)
        rq, rc = np.nonzero(finite)
        if not len(rq):
            yield pd.DataFrame({"query_id": [], "neighbor_id": [], "dist": []})
            return
        cat_id = np.concatenate(acc_id)
        flat_pos = best_pos[rq, rc]
        if metric == "euclid2_deg":
            out_d = best_d[rq, rc]
        else:
            cat_la = np.concatenate(acc_la)
            cat_lo = np.concatenate(acc_lo)
            out_d = haversine_m(qla[rq], qlo[rq], cat_la[flat_pos], cat_lo[flat_pos])
        yield pd.DataFrame(
            {
                "query_id": ids[rq],
                "neighbor_id": cat_id[flat_pos],
                "dist": out_d,
            }
        )

    q_type = dict(queries.dtypes)[query_id]
    c_type = dict(candidates.dtypes)[cand_id]
    cand_slim = candidates.select(cand_id, "lat", "lon")
    par = spark.sparkContext.defaultParallelism
    if cand_slim.rdd.getNumPartitions() < par:
        # the scan parallelism bounds the brute pass — a slim-row
        # repartition is far cheaper than idling most cores
        cand_slim = cand_slim.repartition(par)
    local = cand_slim.mapInPandas(
        _local_topk, f"query_id {q_type}, neighbor_id {c_type}, dist double"
    )
    if exclude_self:
        local = local.filter(F.col("query_id") != F.col("neighbor_id"))
    w = Window.partitionBy("query_id").orderBy("dist", "neighbor_id")
    return (
        local.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "dist")
    )


def _dist_col(metric: str):
    if metric == "euclid2_deg":
        return (F.col("q_lat") - F.col("c_lat")) * (F.col("q_lat") - F.col("c_lat")) + (
            F.col("q_lon") - F.col("c_lon")
        ) * (F.col("q_lon") - F.col("c_lon"))
    return _haversine_udf(F.col("q_lat"), F.col("q_lon"), F.col("c_lat"), F.col("c_lon"))


def _window_cells_udf(metric: str, max_window_cells: int):
    """(q_lat, q_lon, ub, q_cell) -> all cells, at the level of the
    query's own cell, intersecting the closed ball of radius ub around
    the query (None when the window would exceed
    ``max_window_cells`` — those queries take the brute tail). The
    radius->degree-span conversion is the exact inverse of the ring
    path's _guarantee_udf lower bound. Float slop is absorbed by a
    RELATIVE inflation of the spans (not a whole-cell margin: in dense
    areas the ball is far smaller than a cell, and a +-1-cell margin
    would multiply round B's join input ~9x). A candidate exactly ON
    the closed-ball boundary quantizes into a covered cell because
    floor() of the inflated extreme is monotone past it."""

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def _w(lat: pd.Series, lon: pd.Series, ub: pd.Series, cell: pd.Series) -> pd.Series:
        la = lat.to_numpy(np.float64)
        lo = lon.to_numpy(np.float64)
        u = ub.to_numpy(np.float64)
        level = C.cell_level(cell.to_numpy(np.int64))
        n = np.int64(1) << level
        slop = 1.0 + 1e-9
        if metric == "euclid2_deg":
            r = np.sqrt(np.maximum(u, 0.0)) * slop + 1e-300
            dlat = r
            dlon = r
            wrap = False
        else:
            dlat = np.degrees(u / EARTH_RADIUS_M) * slop + 1e-300
            phi_max = np.minimum(np.abs(la) + dlat, 90.0)
            s = np.sin(u / (2.0 * EARTH_RADIUS_M)) / np.maximum(
                np.cos(np.radians(phi_max)), 1e-12
            )
            dlon = np.where(
                s >= 1.0, 360.0, 2.0 * np.degrees(np.arcsin(np.minimum(s, 1.0))) * slop + 1e-300
            )
            wrap = True
        y0 = np.floor((la - dlat + 90.0) / 180.0 * n).astype(np.int64)
        y1 = np.floor((la + dlat + 90.0) / 180.0 * n).astype(np.int64)
        np.clip(y0, 0, n - 1, out=y0)
        np.clip(y1, 0, n - 1, out=y1)
        x0 = np.floor((lo - dlon + 180.0) / 360.0 * n).astype(np.int64)
        x1 = np.floor((lo + dlon + 180.0) / 360.0 * n).astype(np.int64)
        out = []
        for i in range(len(la)):
            xs = np.arange(x0[i], x1[i] + 1, dtype=np.int64)
            if len(xs) >= n[i]:
                xs = np.arange(n[i], dtype=np.int64)
            elif wrap:
                xs = xs % n[i]
            else:
                xs = xs[(xs >= 0) & (xs < n[i])]
            ys = np.arange(y0[i], y1[i] + 1, dtype=np.int64)
            if len(xs) * len(ys) > max_window_cells:
                out.append(None)
                continue
            gx, gy = np.meshgrid(xs, ys, indexing="ij")
            out.append(np.unique(C.xy_to_cell(gx.ravel(), gy.ravel(), int(level[i]))).tolist())
        return pd.Series(out, dtype=object)

    return _w


def knn_two_round(
    spark: SparkSession,
    queries: DataFrame,
    candidates: DataFrame,
    k: int,
    level: int,
    metric: str = "haversine",
    query_id: str = "doc_id",
    cand_id: str = "doc_id",
    exclude_self: bool = True,
    max_window_cells: int = 4096,
) -> DataFrame:
    """Exact kNN via a FIXED two-round plan with no driver pacing
    (SURVEY §2.3 G5 — the deleted ring-expansion loop serialized dozens
    of driver-synchronized jobs with eager checkpoints; at 10^7+
    queries the driver becomes the scheduler bottleneck).

      round A: every query joins candidates in its 3x3 cell window
               (one shuffle on cell) -> per-query k-th distance = a
               provable UPPER BOUND on the true k-th distance;
      round B: each query explodes exactly the cells intersecting the
               closed ball of that radius (data-dependent but bounded)
               -> join -> rank. ball(q, ub) contains the true top-k,
               so round B is exact, same (dist, neighbor_id) ties.

    Queries with <k candidates in their 3x3 window, or whose ball
    window would exceed ``max_window_cells``, fall back to a brute
    scan — choose ``level`` so occupancy makes both rare (the auto
    router assigns per-query levels with >=max(4k,16) candidates in
    the window and runs this same plan over them).

    Everything is one lazy plan: ~5 shuffles total, zero driver-side
    actions, so it composes with downstream operators and scales with
    the cluster rather than the driver.

    Every join is PINNED to a shuffled-hash strategy (late r3):
    queries/candidates are routinely decode-derived DataFrames whose
    size Catalyst estimates from the kilobyte blob manifest they grow
    out of, so the optimizer would otherwise broadcast whichever side
    "looks" smaller — including a 10^7-row query table or the full
    candidate table. This operator is by construction the LARGE-query
    path (the auto router sends <=10^4-query sets to broadcast-brute),
    so a shuffle join is never the wrong call here; build sides are
    the slim unique-keyed tables (per-cell counts, per-query bounds,
    thinned/slim candidate rows), with per-partition build memory
    governed by spark.sql.shuffle.partitions exactly as in the
    way-assembly join.
    """
    return _two_round(
        queries.withColumn("_lvl", F.lit(level)), candidates, k, [level], metric,
        query_id, cand_id, exclude_self, max_window_cells,
    )


def _two_round(
    queries: DataFrame,
    candidates: DataFrame,
    k: int,
    levels: list[int],
    metric: str,
    query_id: str,
    cand_id: str,
    exclude_self: bool,
    max_window_cells: int,
) -> DataFrame:
    """The :func:`knn_two_round` plan, each query at the cell level in
    its ``_lvl`` column, one of ``levels``. Cell ids carry their level,
    so ONE plan serves every level: a query's windows hold cells of its
    own level only, and they join the candidate rows of that level."""
    from .spatial_join import _explode_multilevel_cells

    # the query cell is encoded ONCE at the finest level in use; a
    # coarser query level is its parent (exact bit truncation)
    fin = max(levels)
    q_cell = F.col("q_cell")
    for lvl in sorted(set(levels))[:-1]:
        parent = C.parent_col(F.col("q_cell"), fin, lvl)
        q_cell = F.when(F.col("_lvl") == lvl, parent).otherwise(q_cell)
    q = queries.select(
        F.col(query_id).alias("query_id"),
        F.col("lat").alias("q_lat"),
        F.col("lon").alias("q_lon"),
        "_lvl",
    )
    q = q.withColumn("q_cell", C.cell_id_col(F.col("q_lat"), F.col("q_lon"), fin))
    q = q.withColumn("q_cell", q_cell).drop("_lvl")
    cand = candidates.select(
        F.col(cand_id).alias("neighbor_id"),
        F.col("lat").alias("c_lat"),
        F.col("lon").alias("c_lon"),
    )
    # one candidate row per level in use (a single level: one row each)
    cand_x = _explode_multilevel_cells(cand, levels, "c_lat", "c_lon")

    # ROUND-A SAMPLE CAP: the k-th distance of ANY >=k-subset of the
    # window is a valid upper bound on the true k-th distance, so round
    # A may thin dense cells by a deterministic hash filter — a query
    # NEXT TO a hot cell (dense urban blob) then samples ~cap rows of
    # it instead of joining all 10^5+. Round B is NEVER capped, so the
    # output stays exact; a (astronomically unlikely) undersampled
    # query just falls into the correct brute tail.
    cap = max(4 * k, 32)
    cand_a = cand_x.join(
        cand_x.groupBy("cell").agg(F.count(F.lit(1)).alias("_cnt")).hint("shuffle_hash"),
        "cell",
    ).filter(
        F.pmod(F.hash("neighbor_id"), F.greatest(F.floor(F.col("_cnt") / cap), F.lit(1)))
        == 0
    ).drop("_cnt")

    w = Window.partitionBy("query_id").orderBy("dist", "neighbor_id")

    def top_k(pairs: DataFrame) -> DataFrame:
        """The k nearest of each query's (query, candidate) pairs."""
        if exclude_self:
            pairs = pairs.filter(F.col("query_id") != F.col("neighbor_id"))
        return (
            pairs.withColumn("dist", _dist_col(metric))
            .withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
        )

    ja = (
        q.withColumn("cell", F.explode(_ring_cells(F.col("q_cell"))))
        .join(cand_a.hint("shuffle_hash"), "cell", "inner")
        .drop("cell")
    )
    ub = top_k(ja).groupBy("query_id").agg(
        F.max("dist").alias("_ub"), F.count(F.lit(1)).alias("_n")
    )

    resolved = q.join(
        ub.filter(F.col("_n") >= k).select("query_id", "_ub").hint("shuffle_hash"),
        "query_id",
    )
    win_udf = _window_cells_udf(metric, max_window_cells)
    resolved = resolved.withColumn(
        "_cells", win_udf(F.col("q_lat"), F.col("q_lon"), F.col("_ub"), F.col("q_cell"))
    )
    overflow = resolved.filter(F.col("_cells").isNull()).select("query_id")
    jb = (
        resolved.filter(F.col("_cells").isNotNull())
        .withColumn("cell", F.explode("_cells"))
        .drop("_cells", "_ub", "q_cell")
        .join(cand_x.hint("shuffle_hash"), "cell", "inner")
        .drop("cell")
    )
    main = top_k(jb).select("query_id", "neighbor_id", "rank", "dist")

    # brute tail: queries with <k in-window candidates (sparse region /
    # tiny corpus) or an oversized ball window — all lazily empty when
    # the level is chosen sanely; no driver action decides this
    tail_ids = (
        q.select("query_id")
        .join(
            ub.filter(F.col("_n") >= k).select("query_id").hint("shuffle_hash"),
            "query_id",
            "left_anti",
        )
        .unionByName(overflow)
    )
    tail_q = q.join(tail_ids.hint("shuffle_hash"), "query_id", "left_semi")
    # shuffle_replicate_nl: an unhinted crossJoin plans a BROADCAST
    # nested-loop that materializes the full candidate table on every
    # executor (and the driver) even when the tail is EMPTY — the
    # normal case. The shuffled cartesian is bounded (worst case one
    # extra candidate shuffle), and AQE's empty-relation propagation
    # short-circuits it entirely once the tail side materializes as 0
    # rows.
    tj = tail_q.select("query_id", "q_lat", "q_lon").crossJoin(
        cand.hint("shuffle_replicate_nl")
    )
    tail = top_k(tj).select("query_id", "neighbor_id", "rank", "dist")
    return main.unionByName(tail)


def knn_join(
    spark: SparkSession,
    queries: DataFrame,
    candidates: DataFrame,
    k: int,
    level: int | str = 8,
    metric: str = "haversine",
    query_id: str = "doc_id",
    cand_id: str = "doc_id",
    exclude_self: bool = True,
    auto_levels: tuple[int, int] = (6, 15),
    brute_max_queries: int = 10_000,
) -> DataFrame:
    """Exact k nearest candidates per query.

    Returns (query_id, neighbor_id, rank, dist) — rank 1-based by
    (dist, neighbor_id).

    ``level="auto"`` routes between the two exact paths:
      - <= brute_max_queries (and <= 4e9 query x candidate pairs) ->
        broadcast-brute BLAS pass;
      - larger query sets -> per-query LEVEL assignment (below), then
        ONE two-round plan (the knn_two_round body) in which every
        query runs at its assigned level.
    An explicit int level skips the assignment and runs the two-round
    plan at that level directly (its brute tail covers queries whose
    window is too sparse at the chosen level, so the result is exact
    at ANY level — a bad level only costs performance).

    The level assignment handles skewed corpora (a dense city holding
    half the docs — BASELINE.json:6): queries whose fine-level 3x3
    window already holds >= 4k candidates run at the FINE level (small
    windows, cheap); sparse-area queries run at the COARSE level. A
    single global level degrades one of the two: hot queries would
    join against the whole hot cell (10^5+ pairs each), or sparse
    queries would see empty windows.
    """
    from .spatial_join import with_cell

    if level != "auto":
        # explicit level: the same fixed two-round plan, no driver pacing
        return knn_two_round(
            spark, queries, candidates, k, int(level), metric,
            query_id, cand_id, exclude_self,
        )
    if brute_max_queries:
        # small query sets: exact broadcast-brute, bounded by a
        # pair-count budget so huge candidate sides still take the
        # two-round cell plan. ONE limited collect both decides the
        # route and supplies the brute pass its query rows.
        q_rows = queries.select(query_id, "lat", "lon").limit(brute_max_queries + 1).collect()
        if len(q_rows) <= brute_max_queries and len(q_rows) * candidates.count() <= 4_000_000_000:
            return _knn_broadcast_brute(
                spark, queries, q_rows, candidates, k, metric, query_id, cand_id,
                exclude_self,
            )
    coarse, fine = auto_levels
    levels = list(range(fine, coarse - 1, -3))  # fine -> coarse, step 3
    if levels[-1] != coarse:
        levels.append(coarse)
    # per-cell candidate counts at the finest level, rolled up to the
    # coarser levels NATIVELY (parent = Morton bit truncation)
    counts = {
        fine: with_cell(candidates.select("lat", "lon"), fine, out_col="cell")
        .groupBy("cell")
        .agg(F.count(F.lit(1)).alias("cnt"))
    }
    for lvl in levels[1:]:
        counts[lvl] = counts[fine].groupBy(
            C.parent_col(F.col("cell"), fine, lvl).alias("cell")
        ).agg(F.sum("cnt").alias("cnt"))

    # assign each query the DEEPEST level whose 3x3 window already
    # holds >= 4k candidates (cheap windows), else the coarsest: the
    # qualifying (query, level) pairs of all levels in one union, the
    # max level per query. localCheckpoint(eager=True) materializes the
    # assignment here, once (under AQE even a lazy checkpoint runs most
    # of its plan at the call): the two-round plan reads it at every
    # query-side reference, which would otherwise recompute it each
    # time, and its blocks go when the plan does.
    qpts = queries.select(F.col(query_id).alias("query_id"), "lat", "lon")
    picked = None
    min_cands = max(4 * k, 16)
    for lvl in levels:
        win = (
            with_cell(qpts, lvl, out_col="cell")
            .withColumn("cell", F.explode(_ring_cells(F.col("cell"))))
            .join(counts[lvl], "cell", "left")
            .groupBy("query_id")
            .agg(F.sum(F.coalesce(F.col("cnt"), F.lit(0))).alias("_wc"))
            .withColumn("_lvl", F.lit(lvl))
        )
        ok = win.filter(F.col("_wc") >= min_cands).select("query_id", "_lvl")
        picked = ok if picked is None else picked.unionByName(ok)
    assign = (
        qpts.join(picked.groupBy("query_id").agg(F.max("_lvl").alias("_lvl")),
                  "query_id", "left")
        .fillna({"_lvl": levels[-1]})
        .localCheckpoint(eager=True)
    )
    return _two_round(
        assign, candidates, k, levels, metric, "query_id", cand_id, exclude_self, 4096
    )
