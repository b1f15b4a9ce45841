"""Physical-plan regressions: the plans we tuned for must STAY the
plans Catalyst picks (SURVEY.md §4). A correct result via the wrong
plan (broadcast lost, Python hop reintroduced, shuffle reappearing in
the sorted ingest) is a scale regression the row-level tests cannot
see."""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from osm_pbf_spark.operators.spatial_join import Polygon, pip_join, with_cell
from osm_pbf_spark.operators.tiling import (
    assign_point_tiles,
    rasterize_polygons,
    tile_pyramid_rollup,
)


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _points(spark, n=50):
    return spark.createDataFrame(
        [(f"p{i}", float(i % 80) - 40.0, float(i % 160) - 80.0) for i in range(n)],
        "doc_id string, lat double, lon double",
    )


def test_with_cell_is_native(spark):
    plan = _plan(with_cell(_points(spark), 12))
    # native column expression: no Python/Arrow evaluation node
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    assert "*(1)" in plan  # whole-stage-codegen'd project


def test_linear_tiles_are_native(spark):
    plan = _plan(assign_point_tiles(_points(spark), zoom=10, scheme="linear"))
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_pip_join_broadcasts_cover_and_limits_python_to_boundary(spark):
    poly = Polygon("big", [np.array([[-40.0, -100.0], [-40.0, -20.0],
                                     [40.0, -20.0], [40.0, -100.0]])])
    plan = _plan(pip_join(spark, _points(spark), [poly], level=8))
    assert "BroadcastHashJoin" in plan  # coarse stage never shuffles points
    # exactly ONE Python stage (the boundary refine); full-cell rows
    # bypass it on the JVM side via the union
    assert "InPandas" not in plan and "EvalPython" not in plan, plan
    assert plan.count("MapInArrow") == 1, plan
    assert "Union" in plan


def test_rasterize_runs_one_arrow_refine_and_no_shuffle(spark):
    """rasterize_polygons is map-only: the bbox cells explode on the
    JVM and one stateless Arrow refine keeps the centers inside."""
    poly = Polygon("tri", [np.array([[0.0, 0.0], [4.0, 2.0], [0.0, 4.0]])])
    plan = _plan(rasterize_polygons(spark, [poly], res=0.5))
    assert plan.count("MapInArrow") == 1, plan
    assert "InPandas" not in plan and "Exchange" not in plan, plan


def test_pip_shuffle_runs_one_cover_and_one_refine(spark):
    """The shuffle strategy runs pip_join_rings' plan: every cover level
    in ONE join, the Python cover once (shared by the full and boundary
    branches), one Arrow refine and one rings aggregation (shared by
    the cover and the refine), with no pickled-pandas stage."""
    from osm_pbf_spark.operators.spatial_join import pick_cover_level
    from tests.test_spatial_join import make_points, make_polygons

    polys = make_polygons()
    assert sorted({pick_cover_level(p) for p in polys}) == [6, 8, 9, 16]
    ids, pts = make_points(200, seed=1)
    df = spark.createDataFrame(
        [(i, float(a), float(b)) for i, (a, b) in zip(ids, pts)],
        "doc_id string, lat double, lon double",
    )
    out = pip_join(spark, df, polys, level="auto", strategy="shuffle")
    assert out.collect()
    final = _plan(out).split("== Initial Plan ==")[0]
    assert "MapInPandas" not in final, final
    assert final.count("MapInArrow") <= 2, final
    assert final.count("MapInArrow _cover") == 1, final
    assert final.count("MapInArrow _refine") == 1, final
    assert final.count("Scan ExistingRDD[poly_id") == 1, final


def test_pyramid_rollup_is_two_aggregations(spark):
    pt = assign_point_tiles(_points(spark), zoom=8, scheme="linear")
    plan = _plan(tile_pyramid_rollup(pt, zoom=8, min_zoom=4))
    # leaf agg + ancestor-explode agg: exactly 2 exchanges, not one per level
    n_exchanges = plan.count("Exchange hashpartitioning")
    assert n_exchanges <= 2, plan


def test_sorted_ingest_has_no_shuffle(spark, tmp_path):
    from osm_pbf_spark.plans.ingest import ingest_pbf
    from tests.gen_documents import synth_pbf

    pbf = synth_pbf(str(tmp_path / "p.pbf"), 3_000, nodes_per_blob=1_000)
    root = str(tmp_path / "t")
    # capture the write plan by running the ingest and inspecting the
    # table's physical layout instead: no shuffle means the number of
    # data files equals the number of decode tasks (no rebalance fan)
    sink = ingest_pbf(spark, pbf, root, cell_level=12, blobs_per_split=1_000_000)
    files = sink.committed_files()
    assert 0 < len(files) <= 4 * spark.sparkContext.defaultParallelism
    # and every file is internally cell-sorted (the pruning invariant)
    import pyarrow.parquet as pq

    for f in files:
        cells = pq.read_table(f, columns=["cell"]).column("cell").to_numpy()
        if len(cells):
            assert (np.diff(cells) >= 0).all(), f


def test_way_assembly_plan_shape(spark):
    """The assembly join must stay a SHUFFLED hash join and the regroup
    must stay exchange-free above its explicit repartition.

    - No broadcast: decode-derived frames have no usable size stats
      (Catalyst estimates them from the tiny blob manifest), so an
      unhinted plan mis-broadcasts the FULL node table — fine on one
      box, a driver OOM at planet scale.
    - Exactly 3 exchanges (probe, nodes, repartition-on-way_id): a 4th
      would mean Catalyst stopped recognizing that the repartition
      satisfies the groupBy's distribution and the fragmented-partial
      -agg regression (BENCH/assembly_shuffle_r3b.json) is back.
    """
    from osm_pbf_spark.sources.pbf_source import assemble_way_geometries

    ways = spark.createDataFrame(
        [(1, [10, 11, 10]), (2, [11, 12])], "id long, refs array<long>"
    )
    nodes = spark.createDataFrame(
        [(10, 1.0, 2.0), (11, 3.0, 4.0), (12, 5.0, 6.0)],
        "id long, lat double, lon double",
    )
    plan = _plan(assemble_way_geometries(ways, nodes))
    assert "BroadcastHashJoin" not in plan, plan
    assert "ShuffledHashJoin" in plan, plan
    assert plan.count("Exchange hashpartitioning") == 3, plan


def test_one_decode_way_assembly_plan_shape(spark, fixtures_dir):
    """``assemble_way_geometries(ways(ents), nodes(ents))`` over one
    ``read_pbf`` frame decodes the file ONCE: one slim decode
    ``MapInArrow`` leaf, no broadcast of a decoded side, and two
    exchanges (node id for the coordinate fill, way id for the regroup)
    where the generic join plans two decode leaves and three. (The
    fixture has four blobs: a one-task decode is a single partition,
    which already satisfies the fill's distribution.)"""
    from osm_pbf_spark.sources import pbf_source as src

    ents, _ = src.read_pbf(spark, f"{fixtures_dir}/multiblob.osm.pbf")
    plan = _plan(src.assemble_way_geometries(src.ways(ents), src.nodes(ents)))
    assert plan.count("MapInArrow") == 1, plan
    assert "BroadcastHashJoin" not in plan, plan
    assert plan.count("Exchange hashpartitioning") == 2, plan


def test_knn_two_round_never_broadcasts(spark):
    """knn_two_round is the LARGE-query path and its inputs are often
    decode-derived frames with garbage size estimates: a broadcast of
    the query or candidate table anywhere in the plan is the
    silently-fatal-at-100x shape (see the way-assembly docstring)."""
    from osm_pbf_spark.operators.knn import knn_two_round

    plan = _plan(
        knn_two_round(
            spark, _points(spark, 30), _points(spark, 200), k=3, level=4
        )
    )
    assert "BroadcastHashJoin" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_knn_auto_plans_one_two_round_body(spark, monkeypatch):
    """level='auto' over queries assigned to several cell levels plans
    the two-round body ONCE: as many ball-window UDF nodes as a
    single-level knn_two_round plan (one plan per level group would
    repeat them per group), and no broadcast join anywhere."""
    from osm_pbf_spark.operators import knn
    from tests.test_knn_tworound import _assigned_levels

    rng = np.random.default_rng(17)
    n = 600
    lat = rng.uniform(-60, 60, n)
    lon = rng.uniform(-170, 170, n)
    # hot cell: half the points inside 0.2 deg -> fine level there,
    # coarse level elsewhere
    lat[: n // 2] = 52.5 + rng.uniform(-0.1, 0.1, n // 2)
    lon[: n // 2] = 13.4 + rng.uniform(-0.1, 0.1, n // 2)
    df = spark.createDataFrame(
        [(f"d{i}", float(lat[i]), float(lon[i])) for i in range(n)],
        "doc_id string, lat double, lon double",
    )
    seen = _assigned_levels(monkeypatch)
    plan = _plan(knn.knn_join(spark, df, df, k=4, level="auto", auto_levels=(6, 12),
                              brute_max_queries=0))
    assert len(seen) == 1
    assert seen[0].select("_lvl").distinct().count() >= 2
    assert "BroadcastHashJoin" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    single = _plan(knn.knn_two_round(spark, df, df, k=4, level=12))
    n_w = single.count("ArrowEvalPython [_w(")
    assert n_w >= 1
    assert plan.count("ArrowEvalPython [_w(") == n_w, plan


def test_bucketed_join_needs_no_exchange(spark, tmp_path):
    """Bucketing is THE repeated-large-join scale tool: two tables
    bucketed on the join key by the same bucket count co-locate, so the
    join plans with ZERO Exchange — at 100 TB that is the difference
    between re-shuffling both sides per query and none."""
    df = spark.range(0, 10_000).select(
        F.col("id").alias("k"), (F.col("id") % 97).alias("v")
    )
    for name in ("bt_a", "bt_b"):
        spark.sql(f"DROP TABLE IF EXISTS {name}")
        df.write.bucketBy(8, "k").sortBy("k").option(
            "path", str(tmp_path / name)
        ).saveAsTable(name)
    # force the large-large (sort-merge) path: at real scale neither
    # side broadcasts, which is exactly when bucketing pays
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        j = spark.table("bt_a").join(spark.table("bt_b"), "k")
        plan = _plan(j)
        assert "Exchange" not in plan, plan
        assert j.count() == 10_000
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_interval_join_plan_has_no_dedup_stage(spark):
    """The keep-once-in-later-start-bin rule makes pair multiplicity
    exactly 1 — the plan must contain NO aggregate/distinct node and
    no Python stage (pure Generate + join + filter)."""
    from osm_pbf_spark.operators.temporal import interval_join

    iv = spark.range(0, 100).select(
        F.col("id"),
        (F.col("id") * 10).alias("start_us"),
        (F.col("id") * 10 + 25).alias("end_us"),
    )
    plan = _plan(interval_join(iv, iv, bin_micros=16))
    assert "Aggregate" not in plan, plan
    assert "InPandas" not in plan and "EvalPython" not in plan


def test_snap_and_pmi_stay_jvm_side(spark):
    from osm_pbf_spark.operators.distance import snap_to_segments
    from osm_pbf_spark.operators.text import bigram_pmi

    p = _points(spark)
    s = spark.createDataFrame(
        [(1, 0.0, 0.0, 1.0, 1.0)],
        "seg_id long, alat double, alon double, blat double, blon double",
    )
    plan = _plan(snap_to_segments(p, s, radius=2.0))
    assert "InPandas" not in plan and "EvalPython" not in plan
    # exactly one final aggregate (the idempotent min(struct) — no
    # distinct/dedup shuffle for candidate multiplicity)
    assert plan.count("Exchange hashpartitioning") <= 3, plan

    docs = spark.createDataFrame([(1, "a b c"), (2, "a b")], "doc_id long, text string")
    plan2 = _plan(bigram_pmi(docs, min_count=1))
    assert "InPandas" not in plan2 and "EvalPython" not in plan2


def test_polygon_overlap_one_shuffle_one_python_stage(spark):
    """Overlay join: the candidate stage is one (cx, cy) equi-join —
    no distinct/aggregate (responsibility-cell dedup) — and the exact
    refine is exactly ONE Arrow-batched Python stage."""
    from osm_pbf_spark.operators.overlay import polygon_overlap_join

    polys = spark.createDataFrame(
        [
            (f"p{i}", [(float(i % 5), float(i % 7)), (float(i % 5), i % 7 + 2.0),
                       (i % 5 + 2.0, i % 7 + 2.0), (i % 5 + 2.0, float(i % 7))])
            for i in range(30)
        ],
        "poly_id string, pts array<struct<lat: double, lon: double>>",
    )
    plan = _plan(polygon_overlap_join(polys, polys, level=5))
    assert plan.count("InPandas") == 1, plan
    assert "Aggregate" not in plan, plan  # multiplicity-1 by construction


def test_decontaminate_broadcasts_bench_grams(spark):
    """The benchmark gram set must BROADCAST (it is small by
    definition); the corpus side never shuffles before the join, and
    everything stays JVM-side."""
    from osm_pbf_spark.operators.text import ngram_decontaminate

    docs = spark.createDataFrame(
        [(i, "tok%d a b c d e" % i) for i in range(50)], "doc_id long, text string"
    )
    bench = docs.limit(3)
    plan = _plan(ngram_decontaminate(docs, bench, n=3, mode="clean"))
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert "InPandas" not in plan and "EvalPython" not in plan
