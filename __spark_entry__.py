"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)``   — flagship spatial pipeline on /root/testdata/sf0.001.
``queries()``      — one entry per implemented operator (SURVEY.md §2).
``oracle_sql()``   — DuckDB-runnable ANSI SQL equivalents.

Cross-engine exactness rules used throughout (verified empirically by
tools/check_oracles.py — run it after any edit here):

- spatial points are DERIVED arithmetically from integer keys with the
  same expression in Spark and SQL (sources/tables.py) — bit-identical;
- polygon vertices sit on >=4-decimal offsets while the derived point
  lattice has 0.001-degree pitch, so no point ever lies on a boundary
  and ray-cast (Spark operator) vs half-plane (SQL) agree exactly;
- double SUMs over many rows are wrapped in round(x, 2) (Spark partial
  aggregation order is nondeterministic; rounding absorbs the ulp);
  windowed running sums are order-pinned and left raw;
- dot products fold left-to-right in float64 in both engines (duckdb
  list comprehensions, NOT float32 list_dot_product).
"""

from __future__ import annotations

import hashlib
import os
import sys
from collections.abc import Callable

import numpy as np
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from osm_pbf_spark.operators import text as TX
from osm_pbf_spark.operators.ann import (
    cosine_topk,
    cosine_topk_lsh,
    near_dup_cosine,
    near_dup_cosine_lsh,
    norm2_f64,
)
from osm_pbf_spark.operators.dedup import minhash_lsh_pairs, ngram_jaccard_pairs, simhash_pairs
from osm_pbf_spark.operators.bbox import bbox_join
from osm_pbf_spark.operators.distance import distance_join
from osm_pbf_spark.operators.graph import bfs_hops, connected_components, near_dup_groups
from osm_pbf_spark.operators.knn import knn_join
from osm_pbf_spark.operators.multimodal import extract_media_features, synth_media_table
from osm_pbf_spark.operators.packing import (
    bin_pack_ffd,
    concat_chunk_pack,
    stratified_sample,
)
from osm_pbf_spark.operators.spatial_join import Polygon, pip_join
from osm_pbf_spark.operators.tiling import assign_line_tiles, assign_point_tiles
from osm_pbf_spark.sources.tables import (
    SQL_POINTS,
    SQL_STATIONS,
    customer_points,
    derived_lat,
    derived_lon,
    load,
    supplier_stations,
)

# ---------------------------------------------------------------------------
# fixture polygons (convex; vertices on >=4-decimal offsets — see module doc)
# ---------------------------------------------------------------------------

RECT = Polygon(
    "rect",
    [np.array([[10.0005, -20.0005], [10.0005, 10.0005], [30.0005, 10.0005], [30.0005, -20.0005]])],
)
TRI = Polygon(
    "tri",
    [np.array([
        [-30.0001517, -100.0003711],
        [-5.0007013, -60.0001291],
        [-45.0002903, -50.0009617],
    ])],
)
PENT = Polygon(
    "pent",
    [np.array([
        [48.0004711, 100.0001923],
        [42.0006133, 110.0004817],
        [33.0001407, 106.0007291],
        [33.0003627, 94.0002113],
        [42.0008219, 90.0006531],
    ])],
)
PIP_POLYGONS = [RECT, TRI, PENT]


def _halfplane_sql(verts: list[tuple[float, float]]) -> str:
    """Inside test for a CLOCKWISE convex polygon: every edge cross < 0.

    cross = (lon_b - lon_a)*(lat - lat_a) - (lat_b - lat_a)*(lon - lon_a)
    """
    terms = []
    m = len(verts)
    for i in range(m):
        (ya, xa), (yb, xb) = verts[i], verts[(i + 1) % m]
        terms.append(
            f"(({xb!r} - {xa!r}) * (lat - {ya!r}) - ({yb!r} - {ya!r}) * (lon - {xa!r})) < 0"
        )
    return " AND ".join(terms)


def _poly_cw(verts: np.ndarray) -> list[tuple[float, float]]:
    """Return vertices in clockwise order (shoelace sign check)."""
    v = [(float(a), float(b)) for a, b in verts]
    area2 = sum(
        (v[(i + 1) % len(v)][1] - v[i][1]) * (v[(i + 1) % len(v)][0] + v[i][0])
        for i in range(len(v))
    )
    return v if area2 > 0 else v[::-1]


SQL_PIP = " UNION ALL ".join(
    f"SELECT doc_id, '{p.poly_id}' AS poly_id FROM pts WHERE {_halfplane_sql(_poly_cw(p.rings[0]))}"
    for p in PIP_POLYGONS
)

# dot-product fragments for embedding SQL (explicit float64 fold)
def _dot_sql(a: str, b: str, dim: int = 64) -> str:
    return (
        f"list_sum([CAST({a}[CAST(i AS INT)] AS DOUBLE) * CAST({b}[CAST(i AS INT)] AS DOUBLE) "
        f"for i in generate_series(1, {dim})])"
    )


def _fixture_pbf(kind: str) -> str:
    """Write (or re-write) a deterministic golden PBF fixture; shared by
    the decode-surface queries AND their VALUES-literal oracles."""
    import tempfile

    from tests import pbf_fixtures as FX

    d = os.path.join(tempfile.gettempdir(), "osm_pbf_spark_driverfx")
    os.makedirs(d, exist_ok=True)
    builders = {
        "mixed": FX.build_mixed,
        "multiblob": FX.build_multiblob,
        "way_pip": FX.build_way_pip,
        "rel_pip": FX.build_rel_pip,
        "rel_many": FX.build_rel_many,
        "rel_invalid": FX.build_rel_invalid,
        "denseinfo": FX.build_denseinfo,
        "granularity": FX.build_granularity,
        "minimal": FX.build_minimal,
        "raw": FX.build_raw,
        "sink": FX.build_sink,
        "members": FX.build_members,
    }
    return builders[kind](d)


# BPE merge table for q_bpe (rank = list position): character merges
# tuned to the corpus vocabulary so rules chain (e.g. 't a'->'ta',
# 'ta b'->'tab', 'tab le'->'table' needs 'l e' first) and later merges
# expose lower-rank pairs — exercising the full GPT-2 bpe() loop.
BPE_MERGES: list[tuple[str, str]] = [
    ("t", "h"), ("th", "e"), ("l", "e"), ("t", "a"), ("ta", "b"),
    ("tab", "le"), ("r", "o"), ("ro", "w"), ("d", "a"), ("da", "ta"),
    ("s", "t"), ("o", "r"), ("j", "o"), ("jo", "i"), ("joi", "n"),
    ("a", "g"), ("ag", "g"), ("q", "u"), ("qu", "e"), ("que", "r"),
    ("s", "m"), ("sm", "a"), ("w", "i"), ("wi", "n"), ("win", "d"),
    ("e", "r"), ("f", "i"), ("fi", "l"), ("fil", "t"), ("a", "s"),
    ("h", "as"), ("c", "an"), ("a", "n"), ("s", "c"),
]

# deliberate misspellings of corpus vocabulary for the phonetic join
PHONETIC_PROBES = ["tabel", "qery", "streem", "windoe", "bach", "jion", "filtr", "merj"]

_SOUNDEX_CODE = {}
for _letters, _d in (("BFPV", "1"), ("CGJKQSXZ", "2"), ("DT", "3"),
                     ("L", "4"), ("MN", "5"), ("R", "6")):
    for _ch in _letters:
        _SOUNDEX_CODE[_ch] = _d


def _soundex_py(word: str) -> str:
    """Scalar replay of American Soundex (the algorithm Spark's native
    ``soundex`` implements) — verified bit-equal to Spark across the
    whole gate vocabulary by tests/test_batch9_ops.py."""
    s = word.upper()
    if not s or not s[0].isalpha():
        return word
    out = [s[0]]
    prev = _SOUNDEX_CODE.get(s[0], "0")
    for ch in s[1:]:
        if not ch.isalpha() or ch in "HW":
            continue  # H/W skipped and do NOT reset the previous code
        d = _SOUNDEX_CODE.get(ch, "0")
        if d != "0" and d != prev:
            out.append(d)
        prev = d
        if len(out) == 4:
            break
    return ("".join(out) + "000")[:4]


# stats-range for the sink-roundtrip prune: keeps the (50, 8) and
# (40, -74) node clusters of the sink fixture, drops the (-10, 120)
# cluster (cell ~258M at level 12) and the cell = -1 way/relation docs —
# so one whole data file is pruned at the MANIFEST level and the exact
# predicate still applies on the superset read.
SINK_PRUNE_RANGE = (300_000_000, 500_000_000)


# ---------------------------------------------------------------------------
# entry: flagship pipeline
# ---------------------------------------------------------------------------


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: derived points -> two-stage PIP join -> tile rollup.

    The full decode->render->sink pipeline is exercised by pytest and
    perfbench; the driver smoke check wants a stable-schema DataFrame
    over sf0.001.
    """
    sf_dir = "/root/testdata/sf0.001"
    pts = customer_points(spark, sf_dir)
    hits = pip_join(spark, pts, PIP_POLYGONS, level=8)
    tiled = assign_point_tiles(hits, zoom=8, scheme="mercator")
    return (
        tiled.groupBy("poly_id", "tile_z", "tile_x", "tile_y")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .orderBy("poly_id", "tile_x", "tile_y")
    )


# ---------------------------------------------------------------------------
# queries
# ---------------------------------------------------------------------------


class _GateRegistry(dict):
    """Gate-query registry that hard-fails on duplicate registration.

    A plain dict lets ``q["name"] = fn`` silently shadow an earlier def —
    the earlier function then *looks* gated but never runs (the r4 verdict
    found two such dead defs). Raising at registration time makes the
    mistake impossible to reintroduce.
    """

    def __setitem__(self, key, value):
        if key in self:
            raise ValueError(f"duplicate gate-query registration: {key!r}")
        super().__setitem__(key, value)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    q: dict[str, Callable[[SparkSession, str], DataFrame]] = _GateRegistry()

    # ---- relational core (SURVEY §2.4) ----

    def q01_pricing(spark, sf):  # R7 hash aggregate
        li = load(spark, sf, "lineitem")
        return (
            li.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
            .groupBy("l_returnflag", "l_linestatus")
            .agg(
                F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
                F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
                F.round(
                    F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
                ).alias("sum_disc_price"),
                F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
                F.count(F.lit(1)).alias("count_order"),
            )
        )

    q["q01_pricing"] = q01_pricing

    def q03_top_orders(spark, sf):  # R4 sort-merge join + R11 topk
        from osm_pbf_spark.operators.temporal import _epoch_micros

        c = load(spark, sf, "customer").filter(F.col("c_mktsegment") == "BUILDING")
        o = load(spark, sf, "orders")
        li = load(spark, sf, "lineitem")
        return (
            c.join(o, c.c_custkey == o.o_custkey)
            .join(li, F.col("o_orderkey") == F.col("l_orderkey"))
            .groupBy("o_orderkey", "o_orderdate")
            .agg(
                F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                    "revenue"
                )
            )
            .orderBy(F.col("revenue").desc(), F.col("o_orderkey"))
            .limit(10)
            # gate projection: epoch-micros BIGINT, never a raw
            # TIMESTAMP (driver datetime canonicalization is
            # session-timezone-dependent — VERDICT r3 directive 3)
            .select(
                "o_orderkey",
                _epoch_micros(F.col("o_orderdate")).alias("o_orderdate_us"),
                "revenue",
            )
        )

    q["q03_top_orders"] = q03_top_orders

    def q05_nation_volume(spark, sf):  # R3/R4 multi-join
        return (
            load(spark, sf, "customer")
            .join(load(spark, sf, "orders"), F.col("c_custkey") == F.col("o_custkey"))
            .join(load(spark, sf, "lineitem"), F.col("o_orderkey") == F.col("l_orderkey"))
            .join(F.broadcast(load(spark, sf, "nation")), F.col("c_nationkey") == F.col("n_nationkey"))
            .join(F.broadcast(load(spark, sf, "region")), F.col("n_regionkey") == F.col("r_regionkey"))
            .groupBy("r_name", "n_name")
            .agg(
                F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                    "revenue"
                ),
                F.count(F.lit(1)).alias("n_items"),
            )
        )

    q["q05_nation_volume"] = q05_nation_volume

    def q_join_broadcast(spark, sf):  # R3 broadcast hash join
        return (
            load(spark, sf, "nation")
            .join(F.broadcast(load(spark, sf, "region")), F.col("n_regionkey") == F.col("r_regionkey"))
            .groupBy("r_name")
            .agg(F.count(F.lit(1)).alias("n_nations"))
        )

    q["q_join_broadcast"] = q_join_broadcast

    def q_semi_join(spark, sf):  # R5 left semi
        c = load(spark, sf, "customer")
        o = load(spark, sf, "orders")
        return (
            c.join(o, c.c_custkey == o.o_custkey, "left_semi")
            .groupBy("c_nationkey")
            .agg(F.count(F.lit(1)).alias("n_customers"))
        )

    q["q_semi_join"] = q_semi_join

    def q_anti_join(spark, sf):  # R5 left anti
        c = load(spark, sf, "customer")
        o = load(spark, sf, "orders")
        return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select("c_custkey", "c_name")

    q["q_anti_join"] = q_anti_join

    def q_rollup(spark, sf):  # R8 rollup
        return (
            load(spark, sf, "customer")
            .rollup("c_nationkey", "c_mktsegment")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.round(F.sum("c_acctbal"), 2).alias("acctbal_sum"),
            )
        )

    q["q_rollup"] = q_rollup

    def q_window_rank(spark, sf):  # R9 ranking window
        w = Window.partitionBy("o_custkey").orderBy(F.col("o_totalprice").desc(), "o_orderkey")
        return (
            load(spark, sf, "orders")
            .withColumn("rnk", F.row_number().over(w))
            .filter(F.col("rnk") <= 3)
            .select("o_custkey", "o_orderkey", "o_totalprice", "rnk")
        )

    q["q_window_rank"] = q_window_rank

    def q_window_running(spark, sf):  # R10 analytic window (order-pinned sums)
        w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        e = load(spark, sf, "events")
        # running sums accumulate in engine-specific order (Spark window
        # frames vs duckdb segment trees) — round(4) absorbs the ulp
        return e.select(
            "user_id",
            "event_id",
            F.round(F.sum("value").over(w), 4).alias("running_value"),
            F.lag("value", 1).over(w).alias("prev_value"),
        )

    q["q_window_running"] = q_window_running

    def q_topk(spark, sf):  # R11 top-k
        return (
            load(spark, sf, "orders")
            .orderBy(F.col("o_totalprice").desc(), "o_orderkey")
            .limit(10)
            .select("o_orderkey", "o_custkey", "o_totalprice")
        )

    q["q_topk"] = q_topk

    def q_setops(spark, sf):  # R12 set operations
        c = load(spark, sf, "customer")
        a = c.filter(F.col("c_mktsegment") == "AUTOMOBILE").select("c_nationkey")
        b = c.filter(F.col("c_mktsegment") == "BUILDING").select("c_nationkey")
        return a.intersect(b).unionByName(a.exceptAll(b).distinct())

    q["q_setops"] = q_setops

    def q_distinct(spark, sf):  # R13
        return load(spark, sf, "lineitem").select("l_returnflag", "l_linestatus").distinct()

    q["q_distinct"] = q_distinct

    def q_explode(spark, sf):  # R14 explode/UNNEST
        return (
            load(spark, sf, "part")
            .select(F.explode(F.split("p_name", " ")).alias("word"))
            .groupBy("word")
            .agg(F.count(F.lit(1)).alias("n"))
        )

    q["q_explode"] = q_explode

    def q_string_fns(spark, sf):  # R16
        p = load(spark, sf, "part")
        return p.select(
            "p_partkey",
            F.upper(F.substring("p_name", 1, 5)).alias("head5"),
            F.length("p_name").alias("name_len"),
            F.regexp_extract("p_name", "([a-z]+)", 1).alias("first_word"),
            F.concat_ws("|", "p_brand", "p_type").alias("brand_type"),
        )

    q["q_string_fns"] = q_string_fns

    def q_date_fns(spark, sf):  # R17
        from osm_pbf_spark.operators.temporal import _epoch_micros

        return (
            load(spark, sf, "orders")
            .groupBy(
                _epoch_micros(F.date_trunc("month", "o_orderdate")).alias("month_us")
            )
            .agg(
                F.count(F.lit(1)).alias("n_orders"),
                F.round(F.sum("o_totalprice"), 2).alias("total"),
            )
        )

    q["q_date_fns"] = q_date_fns

    def q_case_agg(spark, sf):  # R1/R2 conditional projection + agg
        o = load(spark, sf, "orders")
        return o.groupBy("o_orderpriority").agg(
            F.sum(F.when(F.col("o_totalprice") > 200000.0, 1).otherwise(0)).alias("n_big"),
            F.sum(F.when(F.col("o_orderstatus") == "F", 1).otherwise(0)).alias("n_filled"),
            F.count(F.lit(1)).alias("n"),
        )

    q["q_case_agg"] = q_case_agg

    # ---- spatial (SURVEY §2.3) ----

    def q_bbox_filter(spark, sf):  # G7
        pts = customer_points(spark, sf)
        return pts.filter(
            (F.col("lat") >= 0.0005) & (F.col("lat") <= 40.0005)
            & (F.col("lon") >= -50.0005) & (F.col("lon") <= 50.0005)
        )

    q["q_bbox_filter"] = q_bbox_filter

    def q_pip_join(spark, sf):  # G1/G2/G3 two-stage PIP join
        pts = customer_points(spark, sf)
        return pip_join(spark, pts, PIP_POLYGONS, level=8).select("doc_id", "poly_id")

    q["q_pip_join"] = q_pip_join

    def q_pip_shuffle(spark, sf):  # G4 salted shuffle-strategy PIP join
        # same semantics as q_pip_join, via the huge-cover path: point
        # side shuffled on cell with measured salting on heavy cells
        # (threshold forced low so the salt actually engages at sf0.01)
        pts = customer_points(spark, sf)
        return pip_join(
            spark, pts, PIP_POLYGONS, level=8, strategy="shuffle", salt_threshold=50
        ).select("doc_id", "poly_id")

    q["q_pip_shuffle"] = q_pip_shuffle

    def q_pip_rings(spark, sf):  # G2/G3 DataFrame-native polygon side:
        # cover + refine fully distributed (no driver polygon collect) —
        # the 10^6-polygon regime; same semantics as q_pip_join
        from osm_pbf_spark.operators.spatial_join import pip_join_rings

        rings = spark.createDataFrame(
            [
                (p.poly_id, 0, [(float(la), float(lo)) for la, lo in p.rings[0]])
                for p in PIP_POLYGONS
            ],
            "poly_id string, ring_idx int, pts array<struct<lat: double, lon: double>>",
        )
        pts = customer_points(spark, sf)
        return pip_join_rings(spark, pts, rings, level=8).select("doc_id", "poly_id")

    q["q_pip_rings"] = q_pip_rings

    def q_knn(spark, sf):  # G5 kNN, explicit level -> fixed two-round plan
        pts = customer_points(spark, sf)
        queries_df = pts.filter(F.col("doc_id") <= 100)
        out = knn_join(
            spark, queries_df, pts, k=5, level=6, metric="euclid2_deg",
            query_id="doc_id", cand_id="doc_id",
        )
        return out.withColumnRenamed("dist", "dist2")

    q["q_knn"] = q_knn

    def q_knn_brute(spark, sf):  # G5 kNN via broadcast-brute (small query set)
        pts = customer_points(spark, sf)
        queries_df = pts.filter(F.col("doc_id") <= 100)
        out = knn_join(
            spark, queries_df, pts, k=5, level="auto", metric="euclid2_deg",
            query_id="doc_id", cand_id="doc_id",
        )
        return out.withColumnRenamed("dist", "dist2")

    q["q_knn_brute"] = q_knn_brute

    def q_knn_tworound(spark, sf):  # G5 large-query-set kNN (fixed 2-round plan)
        from osm_pbf_spark.operators.knn import knn_two_round

        pts = customer_points(spark, sf)
        out = knn_two_round(
            spark, pts, pts, k=5, level=6, metric="euclid2_deg",
            query_id="doc_id", cand_id="doc_id",
        )
        return out.withColumnRenamed("dist", "dist2")

    q["q_knn_tworound"] = q_knn_tworound

    def q_range_join(spark, sf):  # R6 theta/range join
        pts = customer_points(spark, sf)
        st = supplier_stations(spark, sf)
        d2 = (F.col("lat") - F.col("s_lat")) * (F.col("lat") - F.col("s_lat")) + (
            F.col("lon") - F.col("s_lon")
        ) * (F.col("lon") - F.col("s_lon"))
        return (
            pts.crossJoin(F.broadcast(st))
            .withColumn("dist2", d2)
            .filter(F.col("dist2") <= 100.0)
            .select("doc_id", "station_id", "dist2")
        )

    q["q_range_join"] = q_range_join

    def q_tile_assign(spark, sf):  # G6 point->tile (engine-portable grid)
        pts = customer_points(spark, sf)
        return assign_point_tiles(pts, zoom=8, scheme="linear").select(
            "doc_id", "tile_x", "tile_y"
        )

    q["q_tile_assign"] = q_tile_assign

    def q_tile_counts(spark, sf):  # G6 per-tile assignment counts
        pts = customer_points(spark, sf)
        return (
            assign_point_tiles(pts, zoom=8, scheme="linear")
            .groupBy("tile_x", "tile_y")
            .agg(F.count(F.lit(1)).alias("n_docs"))
        )

    q["q_tile_counts"] = q_tile_counts

    def q_tile_pyramid(spark, sf):  # G6 pyramid rollup z8 -> z4
        pts = customer_points(spark, sf)
        leaf = (
            assign_point_tiles(pts, zoom=8, scheme="linear")
            .groupBy("tile_x", "tile_y")
            .agg(F.count(F.lit(1)).alias("n_docs"))
            .withColumn("tile_z", F.lit(8))
        )
        parent = (
            leaf.select(
                (F.col("tile_x") / 16).cast("long").alias("tile_x"),
                (F.col("tile_y") / 16).cast("long").alias("tile_y"),
                "n_docs",
            )
            .groupBy("tile_x", "tile_y")
            .agg(F.sum("n_docs").alias("n_docs"))
            .withColumn("tile_z", F.lit(4))
        )
        return leaf.unionByName(parent)

    q["q_tile_pyramid"] = q_tile_pyramid

    # ---- text / dedup (training-data ops) ----

    def q_exact_dedup(spark, sf):  # exact dedup over a simulated re-crawl
        d = load(spark, sf, "documents").select("doc_id", "text")
        recrawl = d.withColumn("doc_id", F.col("doc_id") + 1000000)
        both = d.unionByName(recrawl)
        return both.groupBy(F.md5("text").alias("fp")).agg(
            F.min("doc_id").alias("keep_id"), F.count(F.lit(1)).alias("n_copies")
        )

    q["q_exact_dedup"] = q_exact_dedup

    def q_token_stats(spark, sf):
        d = load(spark, sf, "documents")
        return d.select(
            "doc_id",
            TX.token_count(F.col("text")).alias("n_tokens"),
            F.length("text").alias("n_chars_computed"),
        )

    q["q_token_stats"] = q_token_stats

    def q_quality(spark, sf):
        d = load(spark, sf, "documents")
        return d.select("doc_id", TX.quality_score(F.col("text")).alias("quality"))

    q["q_quality"] = q_quality

    def q_lang_id(spark, sf):
        d = load(spark, sf, "documents")
        return d.select("doc_id", "lang", TX.lang_id(F.col("text")).alias("lang_pred"))

    q["q_lang_id"] = q_lang_id

    def q_fingerprint(spark, sf):
        d = load(spark, sf, "documents")
        return d.select("doc_id", TX.fingerprint_md5(F.col("text")).alias("fp"))

    q["q_fingerprint"] = q_fingerprint

    def q_doc_stats(spark, sf):
        d = load(spark, sf, "documents")
        return d.groupBy("lang", "source").agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("chars_total"),
            F.min("doc_id").alias("min_id"),
            F.max("doc_id").alias("max_id"),
        )

    q["q_doc_stats"] = q_doc_stats

    def q_ngram_jaccard(spark, sf):  # exact n-gram Jaccard similarity join
        d = load(spark, sf, "documents").filter(F.col("doc_id") < 150)
        return ngram_jaccard_pairs(d, n=3, threshold=0.5)

    q["q_ngram_jaccard"] = q_ngram_jaccard

    # ---- training-batch packing + deterministic sampling ----

    def q_pack_chunks(spark, sf):  # concatenation packing (GPT-style)
        d = load(spark, sf, "documents").select("doc_id", "text")
        return concat_chunk_pack(d, budget=64, n_ranges=16)

    q["q_pack_chunks"] = q_pack_chunks

    def q_pack_bins(spark, sf):  # FFD bin packing, no doc splitting
        d = load(spark, sf, "documents").select("doc_id", "text").filter(
            F.col("doc_id") < 400
        )
        return bin_pack_ffd(d, budget=256, n_groups=8)

    q["q_pack_bins"] = q_pack_bins

    def q_sample_stratified(spark, sf):  # deterministic md5 stratified sample
        d = load(spark, sf, "documents")
        return stratified_sample(
            d, {"en": 0.5, "de": 0.25, "fr": 0.1}, strata_col="lang"
        ).select("doc_id", "lang", "source")

    q["q_sample_stratified"] = q_sample_stratified

    def q_line_tiles(spark, sf):  # vector->raster for LINES (supercover)
        e = load(spark, sf, "events")
        seg = e.select(
            "event_id",
            (F.col("event_id") % 160 - 80 + F.lit(0.5)).alias("lat0"),
            ((F.col("event_id") * 7) % 350 - 175 + F.lit(0.25)).alias("lon0"),
            (
                F.col("event_id") % 160 - 80 + F.lit(0.5)
                + (F.col("event_id") % 7 - 3) * F.lit(1.7)
            ).alias("lat1"),
            (
                (F.col("event_id") * 7) % 350 - 175 + F.lit(0.25)
                + (F.col("event_id") % 11 - 5) * F.lit(2.3)
            ).alias("lon1"),
        )
        return (
            assign_line_tiles(seg, zoom=6, scheme="linear")
            .groupBy("tile_z", "tile_x", "tile_y")
            .agg(F.count(F.lit(1)).alias("n_segs"))
        )

    q["q_line_tiles"] = q_line_tiles

    def _synth_segments(e):  # shared seg synthesis (q_line_tiles shape)
        return e.select(
            "event_id",
            (F.col("event_id") % 160 - 80 + F.lit(0.5)).alias("lat0"),
            ((F.col("event_id") * 7) % 350 - 175 + F.lit(0.25)).alias("lon0"),
            (
                F.col("event_id") % 160 - 80 + F.lit(0.5)
                + (F.col("event_id") % 7 - 3) * F.lit(1.7)
            ).alias("lat1"),
            (
                (F.col("event_id") * 7) % 350 - 175 + F.lit(0.25)
                + (F.col("event_id") % 11 - 5) * F.lit(2.3)
            ).alias("lon1"),
        )

    def q_line_clip(spark, sf):  # supercover + Liang-Barsky tile clip
        from osm_pbf_spark.operators.tiling import clip_lines_to_tiles

        seg = _synth_segments(load(spark, sf, "events")).filter(
            F.col("event_id") < 2500
        )
        return clip_lines_to_tiles(seg, zoom=6, scheme="linear").select(
            "event_id", "tile_z", "tile_x", "tile_y",
            "t0", "t1", "cx0", "cy0", "cx1", "cy1",
        )

    q["q_line_clip"] = q_line_clip

    def q_tile_encode(spark, sf):  # tile pipeline end: clip -> binary payloads
        from osm_pbf_spark.operators.tiling import clip_lines_to_tiles
        from osm_pbf_spark.operators.vectortile import encode_tiles

        seg = _synth_segments(load(spark, sf, "events")).filter(F.col("event_id") < 800)
        enc = encode_tiles(clip_lines_to_tiles(seg, zoom=5, scheme="linear"), extent=4096)
        return enc.select(
            "tile_z",
            "tile_x",
            "tile_y",
            "n_features",
            F.length("payload").alias("n_bytes"),
            F.md5("payload").alias("payload_md5"),
        )

    q["q_tile_encode"] = q_tile_encode

    def q_line_measures(spark, sf):  # geodesic length / shoelace / centroid
        from osm_pbf_spark.operators.measures import line_measures

        e = load(spark, sf, "events")
        pts = e.select(
            (F.col("event_id") % 64).alias("line_id"),
            "event_id",
            (F.col("event_id") % 160 - 80 + F.lit(0.5)).alias("lat"),
            ((F.col("event_id") * 7) % 350 - 175 + F.lit(0.25)).alias("lon"),
        )
        w = Window.partitionBy("line_id").orderBy("event_id")
        seg = pts.select(
            "line_id",
            F.col("lat").alias("lat0"),
            F.col("lon").alias("lon0"),
            F.lead("lat").over(w).alias("lat1"),
            F.lead("lon").over(w).alias("lon1"),
        ).filter(F.col("lat1").isNotNull())
        m = line_measures(seg)
        # compare geodesic length at METER granularity: the mm units are
        # exact bigints engine-side, but sin/cos/asin go through JVM
        # Math vs libm (~1 ulp apart) — meter rounding absorbs that
        return m.select(
            "line_id",
            "n_segs",
            F.round(F.col("len_mm") / F.lit(1000.0)).cast("long").alias("len_m"),
            "cross2_u",
            "mid_lat_u",
            "mid_lon_u",
        )

    q["q_line_measures"] = q_line_measures

    def q_simplify(spark, sf):  # Douglas-Peucker generalization
        from osm_pbf_spark.operators.simplify import simplify_lines

        e = load(spark, sf, "events")
        pts = e.select(
            (F.col("event_id") % 40).alias("line_id"),
            "event_id",
            (
                (F.col("event_id") % 40) * F.lit(2.0) - F.lit(40.0)
                + ((F.col("event_id") * 7919) % 100) * F.lit(0.002)
                + F.when(F.col("event_id") % 17 == 0, F.lit(5.0)).otherwise(F.lit(0.0))
            ).alias("lat"),
            (
                F.lit(-170.0)
                + (F.col("event_id") - F.col("event_id") % 40) / F.lit(40.0) * F.lit(1.3)
            ).alias("lon"),
        )
        lines = (
            pts.groupBy("line_id")
            .agg(F.array_sort(F.collect_list(F.struct("event_id", "lat", "lon"))).alias("a"))
            .select(
                "line_id",
                F.transform("a", lambda s: s["lat"]).alias("lats"),
                F.transform("a", lambda s: s["lon"]).alias("lons"),
            )
        )
        simp = simplify_lines(lines, tolerance_deg=0.3)
        return simp.select(
            "line_id", F.posexplode(F.arrays_zip("lats", "lons"))
        ).select(
            "line_id",
            F.col("pos").alias("pt_idx"),
            F.col("col.lats").alias("lat"),
            F.col("col.lons").alias("lon"),
        )

    q["q_simplify"] = q_simplify

    # ---- temporal: as-of join + sessionization ----

    def q_asof_join(spark, sf):  # most recent purchase at or before each click
        from osm_pbf_spark.operators.temporal import asof_join

        e = load(spark, sf, "events")
        left = e.filter(F.col("event_type") == "click").select(
            "event_id", "user_id", "ts", "value"
        )
        right = e.filter(F.col("event_type") == "purchase").select(
            "user_id",
            "ts",
            F.col("value").alias("r_value"),
            F.col("ts").alias("r_ts"),
        )
        # gate projection: epoch-micros BIGINT, never raw TIMESTAMP
        # (driver datetime canonicalization is session-tz-dependent)
        from osm_pbf_spark.operators.temporal import _epoch_micros

        return asof_join(left, right, on="user_id", ts_col="ts").select(
            "event_id",
            "user_id",
            _epoch_micros(F.col("ts")).alias("ts_us"),
            "value",
            "r_value",
            _epoch_micros(F.col("r_ts")).alias("r_ts_us"),
        )

    q["q_asof_join"] = q_asof_join

    def q_sessionize(spark, sf):  # 6-hour-gap sessions per user
        from osm_pbf_spark.operators.temporal import _epoch_micros, sessionize

        e = load(spark, sf, "events")
        s = sessionize(e.select("user_id", "ts"), gap_s=6 * 3600)
        return s.select(
            "user_id",
            "session_seq",
            "n_events",
            _epoch_micros(F.col("start_ts")).alias("start_us"),
            _epoch_micros(F.col("end_ts")).alias("end_us"),
            "duration_s",
        )

    q["q_sessionize"] = q_sessionize

    # ---- embeddings (similarity search) ----

    def q_emb_norm(spark, sf):
        e = load(spark, sf, "embeddings")
        return e.select("vec_id", norm2_f64(F.col("embedding")).alias("norm2"))

    q["q_emb_norm"] = q_emb_norm

    def q_cosine_topk(spark, sf):  # exact brute-force ANN baseline
        e = load(spark, sf, "embeddings")
        return cosine_topk(e.filter(F.col("vec_id") < 50), e, k=3)

    q["q_cosine_topk"] = q_cosine_topk

    def q_near_dup_cosine(spark, sf):  # embedding near-dup (planted dups)
        e = load(spark, sf, "embeddings").select("vec_id", "embedding")
        planted = e.withColumn("vec_id", F.col("vec_id") + 1000000)
        both = e.unionByName(planted).filter(
            (F.col("vec_id") < 200) | ((F.col("vec_id") >= 1000000) & (F.col("vec_id") < 1000200))
        )
        return near_dup_cosine(both, threshold=0.9)

    q["q_near_dup_cosine"] = q_near_dup_cosine

    def q_near_dup_lsh(spark, sf):  # the near-dup SCALE path (LSH buckets)
        e = load(spark, sf, "embeddings").select("vec_id", "embedding")
        planted = e.withColumn("vec_id", F.col("vec_id") + 1000000)
        both = e.unionByName(planted).filter(
            (F.col("vec_id") < 200) | ((F.col("vec_id") >= 1000000) & (F.col("vec_id") < 1000200))
        )
        return near_dup_cosine_lsh(both, threshold=0.9, dim=64)

    q["q_near_dup_lsh"] = q_near_dup_lsh

    def q_kmeans(spark, sf):  # embedding clustering (spherical k-means)
        from osm_pbf_spark.operators.ann import kmeans_assign

        e = load(spark, sf, "embeddings")
        return kmeans_assign(e, n_clusters=16).select("vec_id", "cluster")

    q["q_kmeans"] = q_kmeans

    def q_distance_join(spark, sf):  # cell-window within-radius join (scale path)
        pts = customer_points(spark, sf)
        out = distance_join(
            pts, pts, 2.0, metric="euclid2_deg", left_id="doc_id", right_id="doc_id"
        )
        return out.where(F.col("id_a") < F.col("id_b"))

    q["q_distance_join"] = q_distance_join

    def q_connected_components(spark, sf):  # large-star/small-star fixpoint
        ev = load(spark, sf, "events").filter(F.col("event_id") < 300)
        edges = ev.select(
            (F.col("event_id") % 400).alias("src"),
            ((F.col("event_id") * 17) % 400).alias("dst"),
        )
        return connected_components(edges)

    q["q_connected_components"] = q_connected_components

    def q_dedup_groups(spark, sf):  # pairs -> transitive closure -> group ids
        d = load(spark, sf, "documents").filter(F.col("doc_id") < 200)
        recrawl = d.withColumn("doc_id", F.col("doc_id") + 1000000)
        docs = d.unionByName(recrawl)
        pairs = minhash_lsh_pairs(docs, threshold=0.5)
        return near_dup_groups(docs, pairs)

    q["q_dedup_groups"] = q_dedup_groups

    def q_bfs_hops(spark, sf):  # frontier-parallel BFS over an event-derived graph
        # ~500 edges over <=300 nodes -> a giant component with real hop depth
        ev = load(spark, sf, "events").filter(F.col("event_id") < 500)
        edges = ev.select(
            (F.col("event_id") % 300).alias("src"),
            ((F.col("event_id") * 13 + 7) % 300).alias("dst"),
        )
        srcs = spark.createDataFrame([(0,), (7,)], "node long")
        return bfs_hops(edges, srcs, max_hops=24)

    q["q_bfs_hops"] = q_bfs_hops

    def q_sssp(spark, sf):  # weighted shortest path (distributed Bellman-Ford)
        from osm_pbf_spark.operators.graph import sssp

        ev = load(spark, sf, "events").filter(F.col("event_id") < 400)
        edges = ev.select(
            (F.col("event_id") % 120).alias("src"),
            ((F.col("event_id") * 13 + 7) % 120).alias("dst"),
            (F.col("event_id") % 19 + 1).alias("w"),
        )
        srcs = spark.createDataFrame([(0,), (3,)], "node long")
        return sssp(edges, srcs, max_rounds=12)

    q["q_sssp"] = q_sssp

    def q_bbox_join(spark, sf):  # rect-overlap window query (r-tree class)
        # dyadic extents offset by 2^-6 deg: never lands on the 0.001-deg
        # point lattice, so no exact boundary touches across engines
        pts = customer_points(spark, sf).where(F.col("doc_id") <= 600)
        boxes = pts.select(
            F.col("doc_id").alias("id"),
            F.col("lat").alias("lat_min"),
            (F.col("lat") + F.lit(1.140625) + F.pmod(F.col("doc_id"), F.lit(8)).cast("double") * F.lit(0.5)).alias("lat_max"),
            F.col("lon").alias("lon_min"),
            (F.col("lon") + F.lit(1.140625) + F.pmod(F.col("doc_id") * F.lit(3), F.lit(8)).cast("double") * F.lit(0.5)).alias("lon_max"),
        )
        out = bbox_join(boxes, boxes, level=6)
        return out.where(F.col("id_a") < F.col("id_b"))

    q["q_bbox_join"] = q_bbox_join

    def q_tfidf(spark, sf):  # smoothed TF-IDF over whitespace tokens
        docs = load(spark, sf, "documents").filter(F.col("doc_id") < 100)
        out = TX.tfidf(docs)
        return out.select(
            "doc_id", "term", "tf", F.round(F.col("tfidf"), 6).alias("tfidf")
        )

    q["q_tfidf"] = q_tfidf

    def q_pivot(spark, sf):  # pivot aggregate (explicit value list -> no extra scan)
        o = load(spark, sf, "orders")
        p = o.groupBy("o_orderpriority").pivot("o_orderstatus", ["F", "O", "P"]).count()
        return p.select(
            "o_orderpriority",
            F.coalesce(F.col("F"), F.lit(0)).cast("long").alias("n_f"),
            F.coalesce(F.col("O"), F.lit(0)).cast("long").alias("n_o"),
            F.coalesce(F.col("P"), F.lit(0)).cast("long").alias("n_p"),
        )

    q["q_pivot"] = q_pivot

    def q_percentiles(spark, sf):  # exact interpolated percentiles (type-7)
        # l_quantity is integer-valued and the quartile fractions are
        # dyadic, so Spark `percentile` and DuckDB `quantile_cont` are
        # bit-identical here (both a + (b-a)*d with exact operands)
        li = load(spark, sf, "lineitem")
        return li.groupBy("l_returnflag").agg(
            F.expr("percentile(l_quantity, 0.25)").alias("q25"),
            F.expr("percentile(l_quantity, 0.5)").alias("q50"),
            F.expr("percentile(l_quantity, 0.75)").alias("q75"),
            F.count(F.lit(1)).alias("n"),
        )

    q["q_percentiles"] = q_percentiles

    def q_span_resolve(spark, sf):  # interleaved axis: member spans -> target docs
        # relation 'media' spans carry "member:<kind>/<id>:<role>" refs;
        # resolve each to its target document (self-join on the
        # interleaved table), surfacing dangling refs as NULLs
        from osm_pbf_spark.operators.docrender import render_documents
        from osm_pbf_spark.sources import pbf_source as src

        entities, _hdr = src.read_pbf(spark, _fixture_pbf("members"))
        docs = render_documents(entities)
        med = (
            docs.select("doc_id", F.posexplode("spans").alias("span_pos", "s"))
            .where(F.col("s.kind") == "media")
            .select(
                "doc_id",
                "span_pos",
                F.element_at(F.split(F.col("s.media_ref"), ":"), 2).alias("target_id"),
            )
        )
        tgt = docs.select(
            F.col("doc_id").alias("target_id"),
            F.col("kind").alias("target_kind"),
            F.size("spans").alias("target_n_spans"),
        )
        return med.join(F.broadcast(tgt), "target_id", "left").select(
            "doc_id", "span_pos", "target_id", "target_kind", "target_n_spans"
        )

    q["q_span_resolve"] = q_span_resolve

    def q_grid_smooth(spark, sf):  # raster 3x3 box-filter over cell counts
        from osm_pbf_spark.operators.tiling import grid_smooth

        return grid_smooth(customer_points(spark, sf), level=7)

    q["q_grid_smooth"] = q_grid_smooth

    def q_geohash(spark, sf):  # native geohash encode (second cell scheme)
        from osm_pbf_spark.functions.geohash import geohash_col

        pts = customer_points(spark, sf).where(F.col("doc_id") <= 500)
        return pts.select(
            "doc_id",
            geohash_col(F.col("lat"), F.col("lon"), 8).alias("gh8"),
            geohash_col(F.col("lat"), F.col("lon"), 4).alias("gh4"),
        )

    q["q_geohash"] = q_geohash

    def q_convex_hull(spark, sf):  # per-group hull over exact integer grid
        from osm_pbf_spark.operators.hull import convex_hull

        pts = customer_points(spark, sf).where(F.col("doc_id") <= 2000)
        grouped = pts.select(
            F.pmod(F.col("doc_id"), F.lit(8)).alias("group_id"), "lat", "lon"
        )
        return convex_hull(grouped)

    q["q_convex_hull"] = q_convex_hull

    def q_json_extract(spark, sf):  # semi-structured: JSON prop extraction + agg
        ev = load(spark, sf, "events").filter(F.col("event_id") < 3000)
        k = F.get_json_object(F.col("props"), "$.k").cast("long")
        return (
            ev.select("event_type", k.alias("k"))
            .groupBy("event_type")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum("k").alias("k_sum"),
                F.min("k").alias("k_min"),
                F.max("k").alias("k_max"),
            )
        )

    q["q_json_extract"] = q_json_extract

    def q_regex_extract(spark, sf):  # regex extraction over text
        d = load(spark, sf, "documents").filter(F.col("doc_id") < 300)
        return d.select(
            "doc_id",
            F.regexp_extract(F.col("text"), "([a-z]+ing)", 1).alias("first_ing"),
            F.size(F.split(F.col("text"), "[.!?]")).alias("n_sentences"),
        )

    q["q_regex_extract"] = q_regex_extract

    def q_zonal_stats(spark, sf):  # zonal statistics: PIP join -> per-zone agg
        # value per point is dyadic ((key%16)*0.25): the bigint sum is
        # exact, so the one multiply + one divide are bit-identical
        pts = customer_points(spark, sf)
        pairs = pip_join(spark, pts, PIP_POLYGONS, level=8).select("doc_id", "poly_id")
        agg = pairs.groupBy("poly_id").agg(
            F.count(F.lit(1)).alias("n_pts"),
            F.sum(F.pmod(F.col("doc_id"), F.lit(16))).alias("_s"),
        )
        val_sum = F.col("_s").cast("double") * F.lit(0.25)
        return agg.select(
            "poly_id",
            "n_pts",
            val_sum.alias("val_sum"),
            (val_sum / F.col("n_pts")).alias("val_avg"),
        )

    q["q_zonal_stats"] = q_zonal_stats

    def q_track_speed(spark, sf):  # trajectory: per-user consecutive-point speed
        from pyspark.sql import Window

        ev = load(spark, sf, "events").filter(F.col("event_id") < 5000)
        pos = ev.select(
            "user_id",
            "event_id",
            F.unix_micros(F.to_utc_timestamp(F.col("ts"), "UTC")).alias("ts_us"),
            derived_lat("event_id").alias("lat"),
            derived_lon("event_id").alias("lon"),
        )
        w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
        d = pos.select(
            "user_id",
            "event_id",
            F.lag("event_id").over(w).alias("prev_event_id"),
            (F.col("ts_us") - F.lag("ts_us").over(w)).alias("dt_us"),
            (F.col("lat") - F.lag("lat").over(w)).alias("_dla"),
            (F.col("lon") - F.lag("lon").over(w)).alias("_dlo"),
        ).where(F.col("prev_event_id").isNotNull())
        dist2 = F.col("_dla") * F.col("_dla") + F.col("_dlo") * F.col("_dlo")
        return d.select(
            "user_id",
            "event_id",
            "prev_event_id",
            "dt_us",
            dist2.alias("dist2"),
            (dist2 / F.col("dt_us").cast("double")).alias("speed2"),
        )

    q["q_track_speed"] = q_track_speed

    # ---- rows-only checks (non-SQL-expressible; see oracle_sql docstring) ----

    def q_minhash_pairs(spark, sf):
        d = load(spark, sf, "documents").filter(F.col("doc_id") < 200)
        recrawl = d.withColumn("doc_id", F.col("doc_id") + 1000000)
        return minhash_lsh_pairs(d.unionByName(recrawl), threshold=0.5)

    q["q_minhash_pairs"] = q_minhash_pairs

    def q_simhash_pairs(spark, sf):
        d = load(spark, sf, "documents").filter(F.col("doc_id") < 200)
        recrawl = d.withColumn("doc_id", F.col("doc_id") + 1000000)
        return simhash_pairs(d.unionByName(recrawl), max_hamming=3)

    q["q_simhash_pairs"] = q_simhash_pairs

    def q_lsh_topk(spark, sf):  # approximate ANN (recall checked in pytest)
        e = load(spark, sf, "embeddings")
        return cosine_topk_lsh(e.filter(F.col("vec_id") < 50), e, k=3, dim=64)

    q["q_lsh_topk"] = q_lsh_topk

    def q_ivf_topk(spark, sf):  # approximate ANN via IVF coarse quantization
        from osm_pbf_spark.operators.ann import cosine_topk_ivf

        e = load(spark, sf, "embeddings")
        return cosine_topk_ivf(
            e.filter(F.col("vec_id") < 50), e, k=3, n_clusters=16, nprobe=4
        )

    q["q_ivf_topk"] = q_ivf_topk

    def q_media_features(spark, sf):  # multimodal plumbing (stubbed decode)
        # scalar projection for the driver gate: the harness canonicalizes
        # results via pandas sort, which cannot hash array columns — the
        # array `feature` column stays on the pytest surface
        # (tests/test_multimodal features) and the driver sees its size.
        return extract_media_features(synth_media_table(spark, 64)).select(
            "media_ref",
            "modality",
            "feat_mean",
            "feat_std",
            F.size("feature").alias("n_feat"),
            "decoder",
        )

    q["q_media_features"] = q_media_features

    def q_frame_sample(spark, sf):  # P10 video frame-sample plan
        from osm_pbf_spark.operators.multimodal import frame_sample_plan

        return frame_sample_plan(synth_media_table(spark, 64), every_ms=1000)

    q["q_frame_sample"] = q_frame_sample

    def q_image_patches(spark, sf):  # ViT patch-token plan (image sibling)
        from osm_pbf_spark.operators.multimodal import image_patch_plan

        p = load(spark, sf, "part").filter(F.col("p_partkey") < 500)
        media = p.select(
            F.concat(F.lit("img"), F.col("p_partkey").cast("string")).alias(
                "media_ref"
            ),
            F.lit("image").alias("modality"),
            F.lit(None).cast("binary").alias("payload"),
            (F.col("p_size") * 7 + 13).cast("int").alias("width"),
            ((F.col("p_partkey") % 37) * 5 + 8).cast("int").alias("height"),
            F.lit(0).alias("duration_ms"),
        )
        return image_patch_plan(media, patch=16)

    q["q_image_patches"] = q_image_patches

    # ---- PBF decode surface (consumes a deterministic synthesized PBF,
    # not the sf tables — the DuckDB oracles are VALUES literals built
    # from the pure-Python spec oracles in tests/oracle_pbf.py /
    # oracle_render.py / oracle_geo.py, see the oracle section below) ----

    def q_pbf_decode(spark, sf):  # S1-S3, D1-D9 distributed decode
        from osm_pbf_spark.sources import pbf_source as src

        entities, _hdr = src.read_pbf(spark, _fixture_pbf("multiblob"))
        n = src.nodes(entities)
        return n.select(
            "id", "lat", "lon", F.size(F.coalesce(F.col("tags"), F.expr("map()"))).alias("n_tags")
        ).orderBy("id")

    q["q_pbf_decode"] = q_pbf_decode

    def q_pbf_meta(spark, sf):  # D5 DenseInfo metadata decode
        from osm_pbf_spark.sources import pbf_source as src

        entities, _hdr = src.read_pbf(spark, _fixture_pbf("denseinfo"))
        return src.nodes(entities).select(
            "id", "version", "ts_ms", "changeset", "uid", "user", "visible"
        ).orderBy("id")

    q["q_pbf_meta"] = q_pbf_meta

    def q_pbf_granularity(spark, sf):  # non-default granularity/offset scaling
        from osm_pbf_spark.sources import pbf_source as src

        entities, _hdr = src.read_pbf(spark, _fixture_pbf("granularity"))
        return src.nodes(entities).select(
            "id", "lat", "lon", "version", "visible"
        ).orderBy("id")

    q["q_pbf_granularity"] = q_pbf_granularity

    def q_way_assembly(spark, sf):  # G8 way-geometry assembly join
        from osm_pbf_spark.sources import pbf_source as src

        entities, _hdr = src.read_pbf(spark, _fixture_pbf("mixed"))
        geoms = src.assemble_way_geometries(src.ways(entities), src.nodes(entities))
        return geoms.select(
            "way_id", F.size("points").alias("n_points"), "is_closed"
        ).orderBy("way_id")

    q["q_way_assembly"] = q_way_assembly

    def q_way_measures(spark, sf):  # G10 measures over real decoded ways
        from osm_pbf_spark.operators.measures import line_measures
        from osm_pbf_spark.sources import pbf_source as src

        entities, _hdr = src.read_pbf(spark, _fixture_pbf("mixed"))
        geoms = src.assemble_way_geometries(src.ways(entities), src.nodes(entities))
        pts = geoms.select("way_id", F.posexplode("points").alias("pos", "pt"))
        w = Window.partitionBy("way_id").orderBy("pos")
        seg = pts.select(
            "way_id",
            F.col("pt")["lat"].alias("lat0"),
            F.col("pt")["lon"].alias("lon0"),
            F.lead(F.col("pt")["lat"]).over(w).alias("lat1"),
            F.lead(F.col("pt")["lon"]).over(w).alias("lon1"),
        ).filter(F.col("lat1").isNotNull())
        m = line_measures(seg, line_id_col="way_id")
        return m.select(
            "way_id",
            "n_segs",
            F.round(F.col("len_mm") / F.lit(1000.0)).cast("long").alias("len_m"),
            "cross2_u",
            "mid_lat_u",
            "mid_lon_u",
        )

    q["q_way_measures"] = q_way_measures

    def q_doc_render(spark, sf):  # D10 span render (per-row invariant surface)
        from osm_pbf_spark.operators.docrender import render_documents
        from osm_pbf_spark.sources import pbf_source as src

        entities, _hdr = src.read_pbf(spark, _fixture_pbf("mixed"))
        docs = render_documents(entities)
        return docs.select(
            "doc_id",
            F.size("spans").alias("n_spans"),
            F.element_at("spans", 1)["text"].alias("head_text"),
        ).orderBy("doc_id")

    q["q_doc_render"] = q_doc_render

    def q_rel_pip(spark, sf):  # multipolygon relations -> holed polygons -> PIP
        from osm_pbf_spark.sources import pbf_source as src

        entities, _hdr = src.read_pbf(spark, _fixture_pbf("rel_pip"))
        nodes = src.nodes(entities)
        polys = src.polygons_from_relations(
            src.relations(entities), src.ways(entities), nodes
        )
        pts = nodes.selectExpr("cast(id as string) as doc_id", "lat", "lon")
        return pip_join(spark, pts, polys, level="auto").select(
            "doc_id", "poly_id"
        ).orderBy("doc_id", "poly_id")

    q["q_rel_pip"] = q_rel_pip

    def q_rel_rings(spark, sf):  # DISTRIBUTED multipolygon stitching:
        # 150 relations (split/reversed outers, holes, multi-outer) ->
        # relation_rings -> pip_join_rings over the probe nodes. The
        # driver broadcast path must REFUSE this input at a 50-relation
        # bound (the scale pin) while the rings path answers it.
        from osm_pbf_spark.operators.spatial_join import pip_join_rings
        from osm_pbf_spark.sources import pbf_source as src

        entities, _hdr = src.read_pbf(spark, _fixture_pbf("rel_many"))
        rels = src.relations(entities)
        ways = src.ways(entities)
        nodes = src.nodes(entities)
        try:
            src.polygons_from_relations(rels, ways, nodes, max_polygons=50)
            raise AssertionError("driver path must refuse >50 relations")
        except ValueError:
            pass
        rings = src.relation_rings(rels, ways, nodes)
        probes = nodes.filter(F.pmod(F.col("id"), 1000) >= 50).selectExpr(
            "cast(id as string) as doc_id", "lat", "lon"
        )
        return pip_join_rings(spark, probes, rings, level="auto").select(
            "doc_id", "poly_id"
        ).orderBy("doc_id", "poly_id")

    q["q_rel_rings"] = q_rel_rings

    def q_validate_rels(spark, sf):  # distributed multipolygon
        # VALIDITY audit: role consistency, missing member geometry,
        # ring closure, proper self-intersection (segjoin) — one
        # report row per relation over the five-case invalid fixture
        from osm_pbf_spark.sources import pbf_source as src

        entities, _hdr = src.read_pbf(spark, _fixture_pbf("rel_invalid"))
        return src.validate_multipolygons(
            src.relations(entities), src.ways(entities), src.nodes(entities)
        ).orderBy("rel_id")

    q["q_validate_rels"] = q_validate_rels

    def q_doc_spans(spark, sf):  # the per-row invariant surface ITSELF:
        # full exploded span sequence — (kind, text, media_ref, order)
        # equality per document is the north-rule contract
        from osm_pbf_spark.operators.docrender import render_documents
        from osm_pbf_spark.sources import pbf_source as src

        entities, _hdr = src.read_pbf(spark, _fixture_pbf("mixed"))
        docs = render_documents(entities)
        return docs.select(
            "doc_id", F.posexplode("spans").alias("span_pos", "s")
        ).select(
            "doc_id",
            "span_pos",
            F.col("s.kind").alias("kind"),
            F.col("s.text").alias("text"),
            F.col("s.media_ref").alias("media_ref"),
            F.col("s.offset").alias("offset"),
        )

    q["q_doc_spans"] = q_doc_spans

    def q_way_pip(spark, sf):  # reference lifecycle: decode -> way polygons -> PIP
        from osm_pbf_spark.sources import pbf_source as src

        entities, _hdr = src.read_pbf(spark, _fixture_pbf("way_pip"))
        nodes = src.nodes(entities)
        geoms = src.assemble_way_geometries(src.ways(entities), nodes)
        polys = src.polygons_from_closed_ways(geoms)
        pts = nodes.selectExpr("cast(id as string) as doc_id", "lat", "lon")
        return pip_join(spark, pts, polys, level="auto").select(
            "doc_id", "poly_id"
        ).orderBy("doc_id", "poly_id")

    q["q_way_pip"] = q_way_pip

    def q_pbf_raw(spark, sf):  # S3 uncompressed Blob.raw branch
        from osm_pbf_spark.sources import pbf_source as src

        entities, _hdr = src.read_pbf(spark, _fixture_pbf("raw"))
        return src.nodes(entities).select(
            "id", "lat", "lon",
            F.element_at(F.col("tags"), "note").alias("note"),
        ).orderBy("id")

    q["q_pbf_raw"] = q_pbf_raw

    def q_pbf_header(spark, sf):  # S4 OSMHeader decode (bbox + features)
        from osm_pbf_spark.sources import pbf_source as src

        _entities, hdr = src.read_pbf(spark, _fixture_pbf("minimal"))
        bbox = hdr["bbox"] or {}
        return spark.createDataFrame(
            [(
                float(bbox["left"]), float(bbox["right"]),
                float(bbox["top"]), float(bbox["bottom"]),
                ",".join(hdr["required_features"]),
                ",".join(hdr["optional_features"]),
            )],
            schema="left double, right double, top double, bottom double, "
                   "required string, optional string",
        )

    q["q_pbf_header"] = q_pbf_header

    def q_sink_roundtrip(spark, sf):  # S5/S6/C1-C3: ingest -> per-split
        # commits -> snapshot -> manifest-stats-pruned read -> per-cell agg
        import shutil
        import tempfile

        from osm_pbf_spark.plans.ingest import ingest_pbf

        path = _fixture_pbf("sink")
        root = os.path.join(tempfile.gettempdir(), "osm_pbf_spark_driver_sink")
        shutil.rmtree(root, ignore_errors=True)
        sink = ingest_pbf(spark, path, root, cell_level=12, blobs_per_split=1)
        lo, hi = SINK_PRUNE_RANGE
        docs = sink.read(spark, stats_range=(lo, hi)).filter(
            F.col("cell").between(lo, hi)
        )
        return docs.groupBy("cell").agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").alias("first_doc"),
            F.sum(F.size("spans")).alias("spans_total"),
            F.sum(F.length(F.element_at("spans", -1)["media_ref"])).alias(
                "media_len_total"
            ),
        )

    q["q_sink_roundtrip"] = q_sink_roundtrip

    def q_sink_compact(spark, sf):  # C-family maintenance: snapshot
        # history -> compaction (atomic replaces) -> time-travel read of
        # the PRE-compaction snapshot vs the current read; both must
        # equal the spec pipeline's per-cell aggregates
        import shutil
        import tempfile

        from osm_pbf_spark.plans.ingest import ingest_pbf

        path = _fixture_pbf("sink")
        root = os.path.join(tempfile.gettempdir(), "osm_pbf_spark_driver_sink_compact")
        shutil.rmtree(root, ignore_errors=True)
        sink = ingest_pbf(spark, path, root, cell_level=12, blobs_per_split=1)
        s1 = sink.current_snapshot()
        assert sink.compact(spark) is not None  # 3 single-blob splits -> 1
        sink.commit_snapshot({"pipeline": "compact"})

        def counts(df, src):
            return df.groupBy("cell").agg(
                F.count(F.lit(1)).alias("n_docs"),
                F.min("doc_id").alias("first_doc"),
            ).select(F.lit(src).alias("src"), "cell", "n_docs", "first_doc")

        pre = counts(sink.read_snapshot(spark, s1["snapshot_id"]), "pre")
        post = counts(sink.read(spark), "post")
        return pre.unionByName(post)

    q["q_sink_compact"] = q_sink_compact

    def q_sink_delete(spark, sf):  # C-family: Iceberg-v2-style equality
        # deletes — DELETE WHERE (merge-on-read), time travel across the
        # delete, then compaction applying it physically; all three
        # reads must match the spec pipeline's per-cell aggregates
        import shutil
        import tempfile

        from osm_pbf_spark.plans.ingest import ingest_pbf

        path = _fixture_pbf("sink")
        root = os.path.join(tempfile.gettempdir(), "osm_pbf_spark_driver_sink_delete")
        shutil.rmtree(root, ignore_errors=True)
        sink = ingest_pbf(spark, path, root, cell_level=12, blobs_per_split=1)
        s1 = sink.current_snapshot()
        sink.delete_where(spark, "pmod(cell, 4) = 1", ["doc_id"])

        def counts(df, src):
            return df.groupBy("cell").agg(
                F.count(F.lit(1)).alias("n_docs"),
                F.min("doc_id").alias("first_doc"),
            ).select(F.lit(src).alias("src"), "cell", "n_docs", "first_doc")

        # merge-on-read view, planned BEFORE compaction (compact never
        # unlinks files, so the lazy plan stays valid)
        mor = counts(sink.read(spark), "mor")
        assert sink.compact(spark) is not None  # applies the delete physically
        sink.commit_snapshot({"pipeline": "delete+compact"})
        pre = counts(sink.read_snapshot(spark, s1["snapshot_id"]), "pre")
        post = counts(sink.read(spark), "post")
        return pre.unionByName(mor).unionByName(post)

    q["q_sink_delete"] = q_sink_delete

    def q_sink_upsert(spark, sf):  # C-family: MERGE-style upsert =
        # equality delete + append in one idempotent pair; updated rows
        # replace, new keys append, untouched rows survive
        import shutil
        import tempfile

        from osm_pbf_spark.plans.ingest import ingest_pbf

        path = _fixture_pbf("sink")
        root = os.path.join(tempfile.gettempdir(), "osm_pbf_spark_driver_sink_upsert")
        shutil.rmtree(root, ignore_errors=True)
        sink = ingest_pbf(spark, path, root, cell_level=12, blobs_per_split=1)
        base = sink.read(spark)
        # update: docs in cells pmod 4 == 2 keep only their first span
        upd = base.where("pmod(cell, 4) = 2").withColumn(
            "spans", F.slice("spans", 1, 1)
        )
        # insert: copies of cells pmod 4 == 3 under new doc ids
        new = base.where("pmod(cell, 4) = 3").withColumn(
            "doc_id", F.concat(F.lit("copy/"), F.col("doc_id"))
        )
        sink.upsert(upd.unionByName(new), ["doc_id"], split_id="merge-1")
        return sink.read(spark).groupBy("cell").agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").alias("first_doc"),
            F.sum(F.size("spans")).alias("spans_total"),
        )

    q["q_sink_upsert"] = q_sink_upsert

    def q_sink_incremental(spark, sf):  # C-family: incremental append
        # scan (CDC-for-appends) — two append snapshots, then a
        # compaction; each window must return exactly its appended rows
        # and the pure-rewrite window must be empty
        import shutil
        import tempfile

        from osm_pbf_spark.plans.ingest import ingest_pbf

        path = _fixture_pbf("sink")
        root = os.path.join(tempfile.gettempdir(), "osm_pbf_spark_driver_sink_incr")
        shutil.rmtree(root, ignore_errors=True)
        sink = ingest_pbf(spark, path, root, cell_level=12, blobs_per_split=1)
        s1 = sink.current_snapshot()
        base = sink.read(spark)
        inc1 = base.where("pmod(cell, 4) = 3").withColumn(
            "doc_id", F.concat(F.lit("inc/"), F.col("doc_id"))
        )
        sink.write_split(inc1, "incr-1", lineage={"op": "append"})
        s2 = sink.commit_snapshot({"pipeline": "incr-1"})
        inc2 = base.where("pmod(cell, 4) = 0").withColumn(
            "doc_id", F.concat(F.lit("inc2/"), F.col("doc_id"))
        )
        sink.write_split(inc2, "incr-2", lineage={"op": "append"})
        s3 = sink.commit_snapshot({"pipeline": "incr-2"})
        assert sink.compact(spark) is not None
        s4 = sink.commit_snapshot({"pipeline": "compact"})
        # pure-rewrite window: a compaction of pre-window data is no data
        empty = sink.read_incremental(spark, s3["snapshot_id"], s4["snapshot_id"])
        assert empty.count() == 0

        def counts(df, src):
            return df.groupBy("cell").agg(
                F.count(F.lit(1)).alias("n_docs"),
                F.min("doc_id").alias("first_doc"),
            ).select(F.lit(src).alias("src"), "cell", "n_docs", "first_doc")

        w1 = counts(
            sink.read_incremental(spark, s1["snapshot_id"], s2["snapshot_id"]), "w1"
        )
        w12 = counts(
            sink.read_incremental(spark, s1["snapshot_id"], s3["snapshot_id"]), "w12"
        )
        return w1.unionByName(w12)

    q["q_sink_incremental"] = q_sink_incremental

    # ---- r3 widening batch 4: fingerprints, fuzzy/interval/snap joins,
    # quadkeys, span chunking, collocations, per-group sampling ----

    def q_table_fingerprint(spark, sf):  # order-independent table digest
        from osm_pbf_spark.operators.checksum import table_fingerprint

        li = load(spark, sf, "lineitem").select(
            "l_returnflag", "l_orderkey", "l_partkey", "l_suppkey", "l_linenumber"
        )
        return table_fingerprint(li, group_cols=["l_returnflag"])

    q["q_table_fingerprint"] = q_table_fingerprint

    def q_fuzzy_join(spark, sf):  # edit-distance<=1 join (deletion blocking)
        from osm_pbf_spark.operators.fuzzy import fuzzy_join

        e = load(spark, sf, "events").filter(F.col("event_id") < 800)
        d = e.select(
            "event_id",
            F.concat(F.lit("u"), (F.col("event_id") % 257).cast("string")).alias("s"),
        )
        return fuzzy_join(d, id_col="event_id", str_col="s", threshold=1)

    q["q_fuzzy_join"] = q_fuzzy_join

    def q_interval_join(spark, sf):  # 1-D temporal overlap join (bin cover)
        from osm_pbf_spark.operators.temporal import interval_join

        e = load(spark, sf, "events").filter(F.col("event_id") < 4000)
        iv = e.select(
            F.col("event_id").alias("id"),
            (F.col("event_id") * F.lit(10_000_000)).alias("start_us"),
            (
                F.col("event_id") * F.lit(10_000_000)
                + F.pmod(F.col("event_id") * 37, F.lit(50)) * F.lit(1_000_000)
            ).alias("end_us"),
        )
        left = iv.filter(F.col("id") % 2 == 0)
        right = iv.filter(F.col("id") % 2 == 1)
        return interval_join(left, right, bin_micros=64_000_000)

    q["q_interval_join"] = q_interval_join

    def q_snap_segments(spark, sf):  # map-matching: nearest segment in range
        from osm_pbf_spark.operators.distance import snap_to_segments

        pts = customer_points(spark, sf)
        st = supplier_stations(spark, sf)
        seg = st.select(
            F.col("station_id").alias("seg_id"),
            F.col("s_lat").alias("alat"),
            F.col("s_lon").alias("alon"),
            (F.col("s_lat") + (F.pmod(F.col("station_id") * 13, F.lit(7)) - 3) * F.lit(0.9)).alias("blat"),
            (F.col("s_lon") + (F.pmod(F.col("station_id") * 29, F.lit(11)) - 5) * F.lit(0.7)).alias("blon"),
        )
        return snap_to_segments(pts, seg, radius=2.0)

    q["q_snap_segments"] = q_snap_segments

    def q_quadkey(spark, sf):  # Bing quadkey encode + prefix pyramid property
        from osm_pbf_spark.functions.tiles import quadkey_col

        pts = customer_points(spark, sf)
        qk = pts.select(
            "doc_id", quadkey_col(F.col("lat"), F.col("lon"), 5).alias("qk")
        )
        return qk.select("doc_id", "qk", F.substring("qk", 1, 2).alias("qk_z2"))

    q["q_quadkey"] = q_quadkey

    def q_chunk_spans(spark, sf):  # training-window chunking of interleaved docs
        from osm_pbf_spark.operators.docrender import chunk_spans, render_documents
        from osm_pbf_spark.sources import pbf_source as src

        entities, _hdr = src.read_pbf(spark, _fixture_pbf("mixed"))
        return chunk_spans(render_documents(entities), max_chars=48)

    q["q_chunk_spans"] = q_chunk_spans

    def q_bigram_pmi(spark, sf):  # collocation mining (adjacent-token PMI)
        from osm_pbf_spark.operators.text import bigram_pmi

        d = load(spark, sf, "documents").filter(F.col("doc_id") < 800)
        r = bigram_pmi(d, min_count=3)
        # ln() is the one ulp-risky op — compare at 6 decimals (same
        # posture as q_tfidf)
        return r.select("a", "b", "c_ab", F.round("pmi", 6).alias("pmi"))

    q["q_bigram_pmi"] = q_bigram_pmi

    def q_group_sample(spark, sf):  # deterministic exactly-k-per-group sample
        from osm_pbf_spark.operators.packing import group_sample

        d = load(spark, sf, "documents")
        return group_sample(d, k=25, group_col="lang", id_col="doc_id").select(
            "doc_id", "lang", "source"
        )

    q["q_group_sample"] = q_group_sample

    def q_pagerank(spark, sf):  # integer-quantized PageRank (exact, gateable)
        from osm_pbf_spark.operators.graph import pagerank

        e = load(spark, sf, "events").filter(F.col("event_id") < 900)
        edges = e.select(
            (F.col("event_id") % 180).alias("src"),
            ((F.col("event_id") * 31 + 7) % 180).alias("dst"),
        )
        return pagerank(edges, iterations=6)

    q["q_pagerank"] = q_pagerank

    def q_quadkey_pyramid(spark, sf):  # prefix property => substring rollup
        from functools import reduce

        from osm_pbf_spark.functions.tiles import quadkey_col

        pts = customer_points(spark, sf)
        qk = pts.select(quadkey_col(F.col("lat"), F.col("lon"), 6).alias("qk"))
        parts = [
            qk.groupBy(F.substring("qk", 1, z).alias("key"))
            .agg(F.count(F.lit(1)).alias("n_docs"))
            .select(F.lit(z).alias("z"), "key", "n_docs")
            for z in (6, 4, 2)
        ]
        return reduce(lambda a, b: a.unionByName(b), parts)

    q["q_quadkey_pyramid"] = q_quadkey_pyramid

    def q_window_dist(spark, sf):  # distribution windows: ntile/percent_rank/cume_dist
        o = load(spark, sf, "orders")
        w = Window.partitionBy("o_orderpriority").orderBy("o_totalprice", "o_orderkey")
        return o.select(
            "o_orderkey",
            "o_orderpriority",
            F.ntile(7).over(w).alias("bucket"),
            F.percent_rank().over(w).alias("pr"),
            F.cume_dist().over(w).alias("cd"),
        )

    q["q_window_dist"] = q_window_dist

    def q_jsonl_source(spark, sf):  # S-family: JSONL sink+source roundtrip —
        # write documents as JSON lines, read back with an explicit schema,
        # aggregate; the oracle aggregates the PARQUET directly, so any
        # row/charset loss in the roundtrip fails the gate
        import shutil
        import tempfile

        out = os.path.join(tempfile.gettempdir(), "osm_pbf_spark_driver_jsonl")
        shutil.rmtree(out, ignore_errors=True)
        load(spark, sf, "documents").select("doc_id", "text", "lang").write.json(out)
        j = spark.read.schema("doc_id bigint, text string, lang string").json(out)
        return j.groupBy("lang").agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.length("text")).alias("chars"),
            F.min("doc_id").alias("min_id"),
            F.max("doc_id").alias("max_id"),
        )

    q["q_jsonl_source"] = q_jsonl_source

    def q_csv_source(spark, sf):  # S-family: CSV roundtrip (numeric columns —
        # quantities are small integers-as-doubles, so sums stay exact)
        import shutil
        import tempfile

        out = os.path.join(tempfile.gettempdir(), "osm_pbf_spark_driver_csv")
        shutil.rmtree(out, ignore_errors=True)
        load(spark, sf, "lineitem").select(
            "l_orderkey", "l_linenumber", "l_quantity", "l_returnflag"
        ).write.option("header", True).csv(out)
        c = spark.read.schema(
            "l_orderkey bigint, l_linenumber int, l_quantity double, l_returnflag string"
        ).option("header", True).csv(out)
        return c.groupBy("l_returnflag").agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("l_quantity").alias("sum_qty"),
            F.sum("l_orderkey").alias("sum_key"),
        )

    q["q_csv_source"] = q_csv_source

    def q_orc_source(spark, sf):  # S-family: ORC roundtrip (2nd columnar fmt)
        import shutil
        import tempfile

        out = os.path.join(tempfile.gettempdir(), "osm_pbf_spark_driver_orc")
        shutil.rmtree(out, ignore_errors=True)
        load(spark, sf, "lineitem").select(
            "l_orderkey", "l_linenumber", "l_quantity", "l_returnflag"
        ).write.orc(out)
        c = spark.read.orc(out)
        return c.groupBy("l_returnflag").agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.col("l_quantity").cast("bigint")).alias("sum_qty"),
            F.sum("l_orderkey").alias("sum_key"),
        )

    q["q_orc_source"] = q_orc_source

    def q_dup_substr(spark, sf):  # ExactSubstr duplicated-passage detection
        from osm_pbf_spark.operators.text import duplicate_substrings

        d = load(spark, sf, "documents")
        return duplicate_substrings(d, gram_chars=30, min_count=3)

    q["q_dup_substr"] = q_dup_substr

    def q_dup_substr_spans(spark, sf):  # locate the duplicated windows per doc
        from osm_pbf_spark.operators.text import duplicate_substrings

        d = load(spark, sf, "documents").filter(F.col("doc_id") < 1500)
        dup = duplicate_substrings(d, gram_chars=30, min_count=3)
        pos = d.where(F.length("text") >= 30).select(
            "doc_id",
            F.explode(
                F.sequence(F.lit(1), F.length("text") - F.lit(29))
            ).alias("pos"),
            F.col("text"),
        ).select(
            "doc_id", "pos", F.md5(F.expr("substring(text, pos, 30)")).alias("gram_key")
        )
        hits = pos.join(dup.select("gram_key"), "gram_key")
        return hits.groupBy("doc_id").agg(
            F.count(F.lit(1)).alias("n_dup_windows"),
            F.min("pos").alias("first_pos"),
            F.max("pos").alias("last_pos"),
        )

    q["q_dup_substr_spans"] = q_dup_substr_spans

    def q_bpe_train(spark, sf):  # learn the BPE merge table distributed
        from osm_pbf_spark.operators.text import bpe_train

        d = load(spark, sf, "documents")
        m = bpe_train(d, n_merges=12)
        rows = [(i, a, b, c) for i, (a, b, c) in enumerate(m)]
        return spark.createDataFrame(
            rows, "rank int, left string, right string, pair_count bigint"
        )

    q["q_bpe_train"] = q_bpe_train

    def q_full_outer(spark, sf):  # R-family: full outer join (null-extended sides)
        c = load(spark, sf, "customer").groupBy("c_nationkey").agg(
            F.count(F.lit(1)).alias("n_cust")
        )
        s = load(spark, sf, "supplier").groupBy("s_nationkey").agg(
            F.count(F.lit(1)).alias("n_supp")
        )
        return c.join(
            s, c["c_nationkey"] == s["s_nationkey"], "full_outer"
        ).select(
            F.coalesce("c_nationkey", "s_nationkey").alias("nationkey"),
            "n_cust",
            "n_supp",
        )

    q["q_full_outer"] = q_full_outer

    def q_cube(spark, sf):  # R8 companion: CUBE grouping sets
        return (
            load(spark, sf, "orders")
            .cube("o_orderstatus", "o_orderpriority")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.round(F.sum("o_totalprice"), 2).alias("total"),
            )
        )

    q["q_cube"] = q_cube

    def q_scalar_subquery(spark, sf):  # correlated-free scalar subquery:
        # orders above the global average price, per priority
        o = load(spark, sf, "orders")
        avg_price = o.agg(F.avg("o_totalprice").alias("_avg"))
        return (
            o.crossJoin(F.broadcast(avg_price))
            .filter(F.col("o_totalprice") > F.col("_avg"))
            .groupBy("o_orderpriority")
            .agg(
                F.count(F.lit(1)).alias("n_above"),
                F.round(F.max("o_totalprice"), 2).alias("max_price"),
            )
        )

    q["q_scalar_subquery"] = q_scalar_subquery

    def q_unpivot_part(spark, sf):  # melt wide metrics to (key, metric, value)
        p = load(spark, sf, "part").select(
            "p_partkey",
            F.col("p_size").cast("double").alias("size"),
            F.col("p_retailprice").cast("double").alias("retailprice"),
        )
        return p.unpivot(
            ["p_partkey"], ["size", "retailprice"], "metric", "value"
        ).filter(F.col("p_partkey") < 400)

    q["q_unpivot_part"] = q_unpivot_part

    def q_cdc_chunks(spark, sf):  # content-defined chunking (sub-doc dedup)
        from osm_pbf_spark.operators.cdc import cdc_chunks

        d = load(spark, sf, "documents").filter(F.col("doc_id") < 120).select(
            "doc_id", "text"
        )
        ch = cdc_chunks(d)
        # chunk hashes NATIVE (substring+md5) so DuckDB recomputes them
        # independently from the raw table
        return ch.join(d, "doc_id").select(
            "doc_id",
            "chunk_idx",
            "c_start",
            "c_len",
            F.md5(F.expr("substring(text, c_start + 1, c_len)")).alias("chunk_md5"),
        )

    q["q_cdc_chunks"] = q_cdc_chunks

    def q_sink_evolve(spark, sf):  # C-family: add-column schema evolution —
        # split 001 adds src_len; the union read NULL-back-fills split 000
        # from manifest-carried schemas (no parquet footers opened)
        import shutil
        import tempfile

        from osm_pbf_spark.sink.iceberg_like import IcebergLikeSink

        root = os.path.join(tempfile.gettempdir(), "osm_pbf_spark_driver_evolve")
        shutil.rmtree(root, ignore_errors=True)
        sink = IcebergLikeSink(root, stats_col="doc_id")
        d = load(spark, sf, "documents")
        sink.write_split(d.filter(F.col("doc_id") < 50).select("doc_id", "lang"), "000")
        sink.write_split(
            d.filter((F.col("doc_id") >= 50) & (F.col("doc_id") < 100)).select(
                "doc_id", "lang", F.length("source").alias("src_len")
            ),
            "001",
        )
        sink.commit_snapshot()
        return sink.read(spark).groupBy("lang").agg(
            F.count(F.lit(1)).alias("n"),
            F.count("src_len").alias("n_evolved"),
            F.sum("src_len").alias("src_len_sum"),
        )

    q["q_sink_evolve"] = q_sink_evolve

    def q_bucketed_join(spark, sf):  # S10 bucketed write/read gate:
        # both sides bucketed on the join key by the same bucket count
        # co-locate, so the repeated large-large join plans with ZERO
        # Exchange — at 100 TB that is the difference between
        # re-shuffling both sides per query and none. The zero-Exchange
        # property is ENFORCED here (a silent regression to a shuffling
        # plan fails the gate loudly, not just the pytest plan pin).
        import shutil

        root = "/tmp/osm_pbf_spark_q_bucketed"
        shutil.rmtree(root, ignore_errors=True)
        c = load(spark, sf, "customer").select(
            "c_custkey", "c_mktsegment", "c_nationkey"
        )
        o = load(spark, sf, "orders").select(
            "o_custkey", "o_totalprice", "o_orderstatus"
        )
        for name, df, key in (
            ("q4bk_cust", c, "c_custkey"),
            ("q4bk_ord", o, "o_custkey"),
        ):
            spark.sql(f"DROP TABLE IF EXISTS {name}")
            (
                df.write.bucketBy(8, key)
                .sortBy(key)
                .option("path", f"{root}/{name}")
                .saveAsTable(name)
            )
        old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            j = spark.table("q4bk_cust").join(
                spark.table("q4bk_ord"),
                F.col("c_custkey") == F.col("o_custkey"),
            )
            plan = j._jdf.queryExecution().executedPlan().toString()
            if "Exchange" in plan.split("== Initial Plan ==")[0]:
                raise AssertionError(
                    "bucketed join regressed to a shuffling plan:\n" + plan
                )
            return j.groupBy("c_mktsegment", "o_orderstatus").agg(
                F.count(F.lit(1)).alias("n_orders"),
                F.round(F.sum("o_totalprice"), 2).alias("total"),
                F.countDistinct("c_custkey").alias("n_custs"),
            )
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)

    q["q_bucketed_join"] = q_bucketed_join

    def q_funnel(spark, sf):  # sequential-pattern funnel view->click->purchase
        from osm_pbf_spark.operators.temporal import funnel

        from osm_pbf_spark.operators.temporal import _epoch_micros

        e = load(spark, sf, "events")
        f = funnel(e, ["view", "click", "purchase"])
        return f.select(
            "user_id",
            _epoch_micros(F.col("ts_1")).alias("ts_1_us"),
            _epoch_micros(F.col("ts_2")).alias("ts_2_us"),
            _epoch_micros(F.col("ts_3")).alias("ts_3_us"),
            "stage",
        )

    q["q_funnel"] = q_funnel

    def q_resample(spark, sf):  # 6h downsample + gap fill per user
        from osm_pbf_spark.operators.temporal import resample

        e = load(spark, sf, "events")
        return resample(e, bucket_s=6 * 3600)

    q["q_resample"] = q_resample

    def q_fill_forward(spark, sf):  # gap-fill imputation over the 6h grid
        from osm_pbf_spark.operators.temporal import fill_forward, resample

        e = load(spark, sf, "events")
        return fill_forward(
            resample(e, bucket_s=6 * 3600), "user_id", "bucket", ["value_sum_q"]
        )

    q["q_fill_forward"] = q_fill_forward

    def q_rolling_time(spark, sf):  # time-RANGE rolling window (vs q_rolling's ROWS)
        li = load(spark, sf, "lineitem").filter(F.col("l_orderkey") < 20000)
        return spark.sql(
            """
            SELECT l_suppkey, l_orderkey, l_linenumber,
                   CAST(sum(CAST(l_quantity AS BIGINT)) OVER w AS BIGINT)
                       AS qty_30d,
                   CAST(count(*) OVER w AS BIGINT) AS n_30d
            FROM {li}
            WINDOW w AS (PARTITION BY l_suppkey
                         ORDER BY CAST(unix_date(CAST(l_shipdate AS DATE)) AS BIGINT)
                         RANGE BETWEEN 30 PRECEDING AND CURRENT ROW)
            """,
            li=li,
        )

    q["q_rolling_time"] = q_rolling_time

    def q_repetition(spark, sf):  # Gopher-style repetition quality signals
        from osm_pbf_spark.operators.text import repetition_stats

        d = load(spark, sf, "documents").filter(F.col("doc_id") < 1000)
        return repetition_stats(d)

    q["q_repetition"] = q_repetition

    def q_triangles(spark, sf):  # degree-ordered distributed triangle count
        from osm_pbf_spark.operators.graph import triangle_count

        e = load(spark, sf, "events").filter(F.col("event_id") < 1200)
        edges = e.select(
            (F.col("event_id") % 150).alias("src"),
            ((F.col("event_id") * 29 + 5) % 150).alias("dst"),
        )
        return triangle_count(edges)

    q["q_triangles"] = q_triangles

    def q_seg_intersect(spark, sf):  # r-tree class: segment-intersection join
        from osm_pbf_spark.operators.segjoin import segment_intersect_join

        seg = _synth_segments(load(spark, sf, "events")).filter(
            F.col("event_id") < 1500
        ).select(
            F.col("event_id").alias("seg_id"),
            F.col("lat0").alias("alat"),
            F.col("lon0").alias("alon"),
            F.col("lat1").alias("blat"),
            F.col("lon1").alias("blon"),
        )
        out = segment_intersect_join(seg, seg, level=4)
        return out.where(F.col("id_a") < F.col("id_b"))

    q["q_seg_intersect"] = q_seg_intersect

    def _synth_diamonds(e, n):
        # synthetic diamonds (dyadic centers/half-sizes, so the snap
        # grid is engine-exact); every 9th is a tiny satellite nested
        # strictly inside a host diamond (id±3) so the containment
        # kinds are exercised, not just boundary crossings
        e = e.filter(F.col("event_id") < n)
        tiny = F.col("event_id") % 9 == 0
        host = F.col("event_id") + F.when(
            F.col("event_id") % 18 == 0, F.lit(3)
        ).otherwise(F.lit(-3))
        p = e.select(
            F.col("event_id").alias("poly_id"),
            F.when(tiny, (host % 120) - 60 + F.lit(0.75))
            .otherwise((F.col("event_id") % 120) - 60 + F.lit(0.5))
            .alias("cx"),
            F.when(tiny, ((host * 13) % 80) - 40 + F.lit(0.375))
            .otherwise(((F.col("event_id") * 13) % 80) - 40 + F.lit(0.25))
            .alias("cy"),
            F.when(tiny, F.lit(0.0625))
            .otherwise(F.lit(0.5) + (F.col("event_id") % 5) * F.lit(0.625))
            .alias("hx"),
            F.when(tiny, F.lit(0.0625))
            .otherwise(F.lit(0.5) + (F.col("event_id") % 7) * F.lit(0.25))
            .alias("hy"),
        )
        return p.select(
            "poly_id",
            F.array(
                F.struct(F.col("cy").alias("lat"), (F.col("cx") + F.col("hx")).alias("lon")),
                F.struct((F.col("cy") + F.col("hy")).alias("lat"), F.col("cx").alias("lon")),
                F.struct(F.col("cy").alias("lat"), (F.col("cx") - F.col("hx")).alias("lon")),
                F.struct((F.col("cy") - F.col("hy")).alias("lat"), F.col("cx").alias("lon")),
            ).alias("pts"),
        )

    def q_poly_overlap(spark, sf):  # r-tree class: polygon-overlay join
        from osm_pbf_spark.operators.overlay import polygon_overlap_join

        polys = _synth_diamonds(load(spark, sf, "events"), 800)
        out = polygon_overlap_join(polys, polys, level=6)
        return out.where(F.col("id_a") < F.col("id_b"))

    q["q_poly_overlap"] = q_poly_overlap

    def q_poly_dissolve(spark, sf):  # GIS dissolve: overlap pairs -> CC
        # -> footprint groups; singletons keep their own id
        from osm_pbf_spark.operators.overlay import dissolve_groups

        polys = _synth_diamonds(load(spark, sf, "events"), 400)
        return dissolve_groups(polys, level=6)

    q["q_poly_dissolve"] = q_poly_dissolve

    def q_hausdorff(spark, sf):  # trajectory-similarity join: symmetric
        # discrete Hausdorff <= radius over synthetic GPS tracks (groups
        # of 4 jittered copies -> within-group pairs; exact integer h2)
        from osm_pbf_spark.operators.distance import hausdorff_join

        e = load(spark, sf, "events").filter(F.col("event_id") < 300)
        base = F.col("event_id") - (F.col("event_id") % 4)
        j = (F.col("event_id") % 4).cast("double")
        npts = (F.lit(6) + F.col("event_id") % 3).cast("int")
        lat0 = (base % 80) - 40 + F.lit(0.25) + j * F.lit(0.0625)
        lon0 = ((base * 7) % 340) - 170 + F.lit(0.5) + j * F.lit(0.0625)
        tracks = e.select(
            F.col("event_id").alias("track_id"),
            F.transform(
                F.sequence(F.lit(0), npts - 1),
                lambda i: F.struct(
                    (lat0 + i.cast("double") * F.lit(0.125)).alias("lat"),
                    (lon0 + (i % 3).cast("double") * F.lit(0.25)).alias("lon"),
                ),
            ).alias("pts"),
        )
        out = hausdorff_join(tracks, tracks, radius=0.5, level=8)
        return out.where(F.col("id_a") < F.col("id_b"))

    q["q_hausdorff"] = q_hausdorff

    def q_decontaminate(spark, sf):  # P24 benchmark-decontamination join
        from osm_pbf_spark.operators.text import ngram_decontaminate

        docs = load(spark, sf, "documents")
        bench = docs.filter(F.col("doc_id") % 41 == 0)
        corpus = docs.filter(F.col("doc_id") % 41 != 0)
        return ngram_decontaminate(corpus, bench, n=3)

    q["q_decontaminate"] = q_decontaminate

    def q_dbscan(spark, sf):  # grid DBSCAN: equi-join neighborhood, CC labels
        from osm_pbf_spark.operators.clustering import dbscan

        pts = customer_points(spark, sf)
        return dbscan(pts, eps=5.0, min_pts=4, id_col="doc_id", x_col="lat", y_col="lon")

    q["q_dbscan"] = q_dbscan

    def q_bigram_lm(spark, sf):  # bigram-LM perplexity-style quality score
        from osm_pbf_spark.operators.text import bigram_lm_score

        d = load(spark, sf, "documents").filter(F.col("doc_id") < 800)
        return bigram_lm_score(d)

    q["q_bigram_lm"] = q_bigram_lm

    def q_kmv_distinct(spark, sf):  # KMV cardinality sketch, replayable
        from osm_pbf_spark.operators.sketch import kmv_distinct

        li = load(spark, sf, "lineitem")
        return kmv_distinct(li, ["l_returnflag"], "l_partkey", k=64)

    q["q_kmv_distinct"] = q_kmv_distinct

    def q_line_dedup(spark, sf):  # C4-style global duplicate-line removal
        from osm_pbf_spark.operators.text import line_dedup

        ev = load(spark, sf, "events").filter(F.col("event_id") < 8000)
        lines = ev.select(
            F.col("user_id").alias("doc_id"),
            F.col("event_id"),
            F.concat(
                F.col("event_type"), F.lit("#"), (F.col("event_id") % 23).cast("string")
            ).alias("line"),
        )
        docs = lines.groupBy("doc_id").agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("event_id", "line"))),
                    lambda s: s.line,
                ),
                "\n",
            ).alias("text")
        )
        return line_dedup(docs)

    q["q_line_dedup"] = q_line_dedup

    def q_weighted_sample(spark, sf):  # A-ES weight-proportional k-per-group
        from osm_pbf_spark.operators.packing import weighted_sample

        d = load(spark, sf, "documents")
        return weighted_sample(
            d, k=20, weight_col="n_chars", group_col="lang", id_col="doc_id"
        ).select("doc_id", "lang", "n_chars")

    q["q_weighted_sample"] = q_weighted_sample

    def q_redact_spans(spark, sf):  # span redaction + offset fixup on the
        # interleaved table (digits -> '#'; offsets re-derived natively)
        from osm_pbf_spark.operators.docrender import redact_spans, render_documents
        from osm_pbf_spark.sources import pbf_source as src

        entities, _hdr = src.read_pbf(spark, _fixture_pbf("mixed"))
        docs = redact_spans(render_documents(entities), "[0-9]+", "#")
        return docs.select(
            "doc_id", F.posexplode("spans").alias("span_pos", "s")
        ).select(
            "doc_id",
            "span_pos",
            F.col("s.kind").alias("kind"),
            F.col("s.text").alias("text"),
            F.col("s.media_ref").alias("media_ref"),
            F.col("s.offset").alias("offset"),
        )

    q["q_redact_spans"] = q_redact_spans

    def q_rp_reduce(spark, sf):  # sign random projection + int quantization
        from osm_pbf_spark.operators.ann import rp_reduce

        e = load(spark, sf, "embeddings").filter(F.col("vec_id") < 200)
        r = rp_reduce(e, dim=64, out_dim=16)
        return r.select("vec_id", F.posexplode("rvec").alias("dim_idx", "q"))

    q["q_rp_reduce"] = q_rp_reduce

    def q_token_entropy(spark, sf):  # unigram-diversity quality signal
        from osm_pbf_spark.operators.text import token_entropy

        return token_entropy(load(spark, sf, "documents").filter(F.col("doc_id") < 600))

    q["q_token_entropy"] = q_token_entropy

    def q_inverted_index(spark, sf):  # token -> sorted posting lists
        from osm_pbf_spark.operators.text import inverted_index

        d = load(spark, sf, "documents").filter(F.col("doc_id") < 600)
        return inverted_index(d, min_df=2, max_df=395)

    q["q_inverted_index"] = q_inverted_index

    def q_idw(spark, sf):  # inverse-distance-weighted interpolation
        from osm_pbf_spark.operators.distance import idw_interpolate

        pts = customer_points(spark, sf)
        st = supplier_stations(spark, sf).select(
            "station_id",
            F.col("s_lat").alias("lat"),
            F.col("s_lon").alias("lon"),
            (F.col("station_id") % 97).alias("v"),
        )
        return idw_interpolate(pts, st, radius=3.0)

    q["q_idw"] = q_idw

    def q_morans_i(spark, sf):  # global spatial autocorrelation, exact ints
        from osm_pbf_spark.operators.spatialstats import grid_cell_counts, morans_i

        return morans_i(grid_cell_counts(customer_points(spark, sf), 5.0))

    q["q_morans_i"] = q_morans_i

    def q_retention(spark, sf):  # weekly cohort retention triangle
        from osm_pbf_spark.operators.temporal import retention_cohorts

        r = retention_cohorts(load(spark, sf, "events"))
        # gate projection: DATE -> days-since-epoch INT (raw DATE
        # canonicalization in the driver fetch is not pinned)
        return r.select(
            F.datediff(F.col("cohort_week"), F.lit("1970-01-01"))
            .cast("int")
            .alias("cohort_day"),
            "week_n",
            "n_users",
        )

    q["q_retention"] = q_retention

    def q_unpivot(spark, sf):  # melt wide metrics to (metric, val) rows
        li = load(spark, sf, "lineitem").filter(F.col("l_orderkey") < 300)
        return li.unpivot(
            ids=["l_orderkey", "l_linenumber"],
            values=["l_quantity", "l_discount", "l_tax"],
            variableColumnName="metric",
            valueColumnName="val",
        )

    q["q_unpivot"] = q_unpivot

    def q_mixture_sample(spark, sf):  # training-mix construction (ppm quotas)
        from osm_pbf_spark.operators.packing import mixture_sample

        d = load(spark, sf, "documents")
        out = mixture_sample(
            d,
            {"src1": 400000, "src2": 200000, "src3": 50000, "src17": 300000},
            total=300,
        )
        return out.select("doc_id", "source", "lang")

    q["q_mixture_sample"] = q_mixture_sample

    def q_ntile(spark, sf):  # equal-frequency bucketing (quartiles per flag)
        li = load(spark, sf, "lineitem").filter(F.col("l_orderkey") < 2000)
        w = Window.partitionBy("l_returnflag").orderBy(
            "l_extendedprice", "l_orderkey", "l_linenumber"
        )
        return li.select(
            "l_orderkey",
            "l_linenumber",
            "l_returnflag",
            F.ntile(4).over(w).alias("bucket"),
        )

    q["q_ntile"] = q_ntile

    def q_cms(spark, sf):  # count-min sketch: build + probe vs exact counts
        from osm_pbf_spark.operators.sketch import cms_lookup, count_min

        li = load(spark, sf, "lineitem")
        sk = count_min(li, "l_partkey", depth=4, width=128)
        probes = (
            load(spark, sf, "part")
            .filter(F.col("p_partkey") % 41 == 0)
            .select("p_partkey")
        )
        est = cms_lookup(sk, probes, "p_partkey", depth=4, width=128)
        exact = li.groupBy(F.col("l_partkey").alias("p_partkey")).agg(
            F.count(F.lit(1)).alias("exact_count")
        )
        return est.join(exact, "p_partkey", "left").select(
            "p_partkey",
            F.coalesce(F.col("exact_count"), F.lit(0).cast("bigint")).alias(
                "exact_count"
            ),
            "cms_estimate",
        )

    q["q_cms"] = q_cms

    def q_skyline(spark, sf):  # Pareto frontier (maximize size AND price)
        from osm_pbf_spark.operators.skyline import skyline

        p = load(spark, sf, "part").select("p_partkey", "p_size", "p_retailprice")
        return skyline(p, ["p_size", "p_retailprice"])

    q["q_skyline"] = q_skyline

    def q_zorder(spark, sf):  # multi-column Z-order layout keys: the
        # 2-col masked-spread kernel AND the generic k-col unrolled
        # interleave, both pure native codegen
        from osm_pbf_spark.functions.zorder import zorder_key_col

        pts = customer_points(spark, sf)
        z2 = zorder_key_col(
            [F.col("lon"), F.col("lat")], [-180.0, -90.0], [180.0, 90.0], bits=16
        )
        z3 = zorder_key_col(
            [F.col("lon"), F.col("lat"), F.col("doc_id")],
            [-180.0, -90.0, 0.0],
            [180.0, 90.0, float(1 << 21)],
            bits=8,
        )
        return pts.select("doc_id", z2.alias("zkey2"), z3.alias("zkey3"))

    q["q_zorder"] = q_zorder

    def q_bpe(spark, sf):  # BPE tokenizer apply (GPT-2 bpe() loop)
        from osm_pbf_spark.operators.text import bpe_encode

        d = load(spark, sf, "documents").filter(F.col("doc_id") % 17 == 0)
        enc = bpe_encode(d, BPE_MERGES)
        return enc.select(
            "doc_id",
            "n_words",
            "n_tokens",
            F.array_join("tokens", " ").alias("tokens_s"),
        )

    q["q_bpe"] = q_bpe

    def q_soundex(spark, sf):  # native phonetic encoding over the corpus
        d = load(spark, sf, "documents")
        words = d.select(F.explode(F.split("text", " ")).alias("w")).filter(
            F.col("w") != ""
        )
        return words.groupBy(F.soundex("w").alias("code")).agg(
            F.count(F.lit(1)).alias("n_occ"),
            F.count_distinct("w").alias("n_words"),
            F.min("w").alias("first_word"),
        )

    q["q_soundex"] = q_soundex

    def q_phonetic_join(spark, sf):  # soundex blocking + levenshtein refine
        from osm_pbf_spark.operators.fuzzy import phonetic_join

        d = load(spark, sf, "documents")
        vocab = (
            d.select(F.explode(F.split("text", " ")).alias("w"))
            .filter(F.col("w") != "")
            .distinct()
        )
        probes = spark.createDataFrame(
            [(p,) for p in PHONETIC_PROBES], "probe string"
        )
        return phonetic_join(probes, vocab, "probe", "w", max_edit=2).select(
            "probe", "w"
        )

    q["q_phonetic_join"] = q_phonetic_join

    def q_getis_ord(spark, sf):  # Gi* hot-spot z-scores on the point grid
        from osm_pbf_spark.operators.spatialstats import (
            getis_ord_gi,
            grid_cell_counts,
        )

        pts = customer_points(spark, sf)
        return getis_ord_gi(grid_cell_counts(pts, 5.0))

    q["q_getis_ord"] = q_getis_ord

    def _md5_graph(spark, sf):
        # md5-derived ER-ish graph (~100 nodes, deg ~16) — a linear
        # congruential pair would collapse to <=150 distinct edges and
        # make every graph statistic trivial; md5 is DuckDB-replayable
        e = load(spark, sf, "events").filter(F.col("event_id") < 900)
        h = lambda c: F.conv(F.substring(F.md5(c), 1, 10), 16, 10).cast("bigint")
        return e.select(
            (h(F.col("event_id").cast("string")) % 100).alias("src"),
            (
                h(F.concat(F.col("event_id").cast("string"), F.lit(":d"))) % 100
            ).alias("dst"),
        )

    def q_kcore(spark, sf):  # k-core decomposition (synchronous peeling)
        from osm_pbf_spark.operators.graph import kcore

        return kcore(_md5_graph(spark, sf), k=12, rounds=6)

    q["q_kcore"] = q_kcore

    def q_clustering_coeff(spark, sf):  # per-node local clustering coeff
        from osm_pbf_spark.operators.graph import clustering_coefficient

        return clustering_coefficient(_md5_graph(spark, sf))

    q["q_clustering_coeff"] = q_clustering_coeff

    def q_kmv_setops(spark, sf):  # mergeable KMV sketches: union/intersect
        # estimates from two shard sketches, no data re-scan
        from osm_pbf_spark.operators.sketch import kmv_set_estimate, kmv_sketch

        li = load(spark, sf, "lineitem")
        a = kmv_sketch(
            li.filter(F.col("l_linenumber") <= 3), ["l_returnflag"], "l_partkey", k=64
        )
        b = kmv_sketch(
            li.filter(F.col("l_linenumber") >= 2), ["l_returnflag"], "l_partkey", k=64
        )
        return kmv_set_estimate(a, b, ["l_returnflag"], k=64)

    q["q_kmv_setops"] = q_kmv_setops

    def q_recursive_cte(spark, sf):  # SQL surface: WITH RECURSIVE walk up
        # the implicit binary-tree hierarchy of order keys
        o = load(spark, sf, "orders").filter(F.col("o_orderkey") < 400)
        o.createOrReplaceTempView("rcte_orders")
        return spark.sql(
            """
            WITH RECURSIVE chain(root, node) AS (
              SELECT o_orderkey, o_orderkey FROM rcte_orders
              UNION ALL
              SELECT root, node DIV 2 FROM chain WHERE node > 0
            )
            SELECT root, count(*) AS chain_len, sum(node) AS chain_sum
            FROM chain GROUP BY root
            """
        )

    q["q_recursive_cte"] = q_recursive_cte

    def q_sink_zorder(spark, sf):  # C-family: Z-order rewrite + multi-column
        # manifest stats -> MULTI-dimensional file pruning; the in-query
        # asserts pin that pruning actually skipped files and the read
        # is still a correct superset
        import shutil
        import tempfile

        from osm_pbf_spark.sink.iceberg_like import IcebergLikeSink

        root = os.path.join(tempfile.gettempdir(), "osm_pbf_spark_driver_sink_z")
        shutil.rmtree(root, ignore_errors=True)
        sink = IcebergLikeSink(root, stats_col=None, stats_cols=["a", "b"])
        li = load(spark, sf, "lineitem")
        d = li.select(
            (F.col("l_orderkey") * 10 + F.col("l_linenumber")).alias("doc_id")
        ).select(
            "doc_id",
            (F.col("doc_id") * 7919 % 1000).alias("a"),
            (F.col("doc_id") * 104729 % 1000).alias("b"),
        )
        for i in range(4):
            sink.write_split(
                d.filter(F.pmod("doc_id", F.lit(4)) == i).repartition(2), f"{i:04d}"
            )
        sink.commit_snapshot()
        # target the rewrite at ~1/6 of the ACTUAL input bytes so the
        # multi-file layout (and therefore the pruning demonstration)
        # holds at every sf the gate runs
        total = sum(os.path.getsize(f) for f in sink.committed_files())
        sink = IcebergLikeSink(
            root, stats_col=None, stats_cols=["a", "b"],
            target_file_bytes=max(4096, total // 6),
        )
        assert sink.compact(spark, zorder=["a", "b"]) is not None
        sink.commit_snapshot({"pipeline": "zorder"})
        ranges = {"a": (100, 299), "b": (400, 599)}
        n_all = len(sink.committed_files())
        n_kept = len(sink.committed_files(stats_ranges=ranges))
        assert n_all >= 3, f"compaction produced too few files ({n_all})"
        assert n_kept < n_all, f"pruning skipped nothing ({n_kept}/{n_all})"
        docs = sink.read(spark, stats_ranges=ranges).filter(
            F.col("a").between(100, 299) & F.col("b").between(400, 599)
        )
        return docs.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("doc_id").alias("id_sum"),
            F.min("doc_id").alias("id_min"),
            F.max("doc_id").alias("id_max"),
        )

    q["q_sink_zorder"] = q_sink_zorder

    def q_sink_bucket(spark, sf):  # C-family: hidden bucket partitioning —
        # point-lookup reads prune whole bucket files from the manifest
        import shutil
        import tempfile

        from osm_pbf_spark.sink.iceberg_like import IcebergLikeSink

        root = os.path.join(tempfile.gettempdir(), "osm_pbf_spark_driver_sink_b")
        shutil.rmtree(root, ignore_errors=True)
        sink = IcebergLikeSink(
            root, stats_col=None, bucket_by=("doc_id", 8),
            target_file_bytes=256 * 1024,
        )
        li = load(spark, sf, "lineitem")
        d = li.select(
            (F.col("l_orderkey") * 10 + F.col("l_linenumber")).alias("doc_id"),
            F.col("l_quantity").alias("qty"),
            F.col("l_returnflag").alias("flag"),
        )
        sink.write_split(d.filter(F.pmod("doc_id", F.lit(2)) == 0), "0000")
        sink.write_split(d.filter(F.pmod("doc_id", F.lit(2)) == 1), "0001")
        sink.commit_snapshot()
        probes = [1, 71, 101, 171, 181, 191, 201, 999999991]
        n_all = len(sink.committed_files())
        n_kept = len(sink.committed_files(bucket_keys=probes))
        assert n_all >= 8, f"bucketed layout produced too few files ({n_all})"
        assert n_kept < n_all, f"bucket pruning skipped nothing ({n_kept}/{n_all})"
        return (
            sink.read(spark, bucket_keys=probes)
            .filter(F.col("doc_id").isin(probes))
            .select("doc_id", "qty", "flag")
        )

    q["q_sink_bucket"] = q_sink_bucket

    def q_sink_bloom(spark, sf):  # C-family: manifest Bloom filters —
        # point-lookup file pruning on a column the layout is NOT
        # organized by (bucket_by covers one column; blooms cover any)
        import shutil
        import tempfile

        from osm_pbf_spark.sink.iceberg_like import IcebergLikeSink

        root = os.path.join(tempfile.gettempdir(), "osm_pbf_spark_driver_sink_bl")
        shutil.rmtree(root, ignore_errors=True)
        sink = IcebergLikeSink(
            root, stats_col=None, bloom_cols=["doc_id"],
            bloom_words=128, bloom_depth=3, target_file_bytes=128 * 1024,
        )
        # orderkey < 1000 bounds distinct keys/file (~400) at every sf,
        # keeping the 4096-bit filters far from saturation — sizing the
        # bloom to the file's key count is the caller's contract
        li = load(spark, sf, "lineitem").filter(F.col("l_orderkey") < 1000)
        d = li.select(
            (F.col("l_orderkey") * 10 + F.col("l_linenumber")).alias("doc_id"),
            F.col("l_quantity").alias("qty"),
            F.col("l_returnflag").alias("flag"),
        )
        sink.write_split(d.filter(F.col("doc_id") % 2 == 0).repartition(4), "0000")
        sink.write_split(d.filter(F.col("doc_id") % 2 == 1).repartition(4), "0001")
        sink.commit_snapshot()
        probes = [11, 31, 42, 1013, 3022, 6081, 7772, 9991, 999999991]
        n_all = len(sink.committed_files())
        n_kept = len(sink.committed_files(bloom_keys={"doc_id": probes}))
        assert n_all >= 8, f"layout produced too few files ({n_all})"
        assert n_kept < n_all, f"bloom pruning skipped nothing ({n_kept}/{n_all})"
        return (
            sink.read(spark, bloom_keys={"doc_id": probes})
            .filter(F.col("doc_id").isin(probes))
            .select("doc_id", "qty", "flag")
        )

    q["q_sink_bloom"] = q_sink_bloom

    def q_incr_mv(spark, sf):  # C-family: incremental materialized-view
        # maintenance — merge(old state, agg(increment)) must equal the
        # full recompute; the gate hash enforces the equality
        import shutil
        import tempfile

        from osm_pbf_spark.plans.ingest import ingest_pbf

        path = _fixture_pbf("sink")
        root = os.path.join(tempfile.gettempdir(), "osm_pbf_spark_driver_sink_mv")
        shutil.rmtree(root, ignore_errors=True)
        sink = ingest_pbf(spark, path, root, cell_level=12, blobs_per_split=1)
        s1 = sink.current_snapshot()
        state1 = (
            sink.read_snapshot(spark, s1["snapshot_id"])
            .groupBy("cell")
            .agg(F.count(F.lit(1)).alias("n_docs"))
        )
        inc = sink.read(spark).where("pmod(cell, 4) = 2").withColumn(
            "doc_id", F.concat(F.lit("mv/"), F.col("doc_id"))
        )
        sink.write_split(inc, "mv-1", lineage={"op": "append"})
        s2 = sink.commit_snapshot({"pipeline": "mv"})
        inc_agg = (
            sink.read_incremental(spark, s1["snapshot_id"], s2["snapshot_id"])
            .groupBy("cell")
            .agg(F.count(F.lit(1)).alias("n_docs"))
        )
        merged = (
            state1.unionByName(inc_agg)
            .groupBy("cell")
            .agg(F.sum("n_docs").alias("n_docs"))
        )
        full = sink.read(spark).groupBy("cell").agg(
            F.count(F.lit(1)).alias("n_docs")
        )
        lab = lambda df, s: df.select(F.lit(s).alias("src"), "cell", "n_docs")
        return lab(merged, "merged").unionByName(lab(full, "full"))

    q["q_incr_mv"] = q_incr_mv

    def q_sink_timeprune(spark, sf):  # C-family: temporal file pruning —
        # timestamp manifest stats (normalized to epoch micros) skip
        # whole files for a time-window read (the day-transform use case)
        import datetime as dt
        import shutil
        import tempfile

        from osm_pbf_spark.operators.temporal import _epoch_micros
        from osm_pbf_spark.sink.iceberg_like import IcebergLikeSink

        root = os.path.join(tempfile.gettempdir(), "osm_pbf_spark_driver_sink_t")
        shutil.rmtree(root, ignore_errors=True)
        sink = IcebergLikeSink(root, stats_col=None, stats_cols=["ts"])
        ev = load(spark, sf, "events").select("event_id", "ts", "user_id")
        sink.write_split(
            ev.repartitionByRange(6, "ts").sortWithinPartitions("ts"), "0000"
        )
        sink.commit_snapshot()
        lo, hi = dt.datetime(2024, 1, 10), dt.datetime(2024, 1, 15)
        lo_us, hi_us = 1_704_844_800_000_000, 1_705_276_800_000_000
        n_all = len(sink.committed_files())
        n_kept = len(sink.committed_files(stats_ranges={"ts": (lo, hi)}))
        assert n_all >= 3, f"time-sorted layout produced too few files ({n_all})"
        assert n_kept < n_all, f"time pruning skipped nothing ({n_kept}/{n_all})"
        docs = sink.read(spark, stats_ranges={"ts": (lo, hi)}).filter(
            _epoch_micros(F.col("ts")).between(lo_us, hi_us)
        )
        return docs.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("event_id").alias("id_sum"),
            F.min("event_id").alias("id_min"),
            F.max("event_id").alias("id_max"),
        )

    q["q_sink_timeprune"] = q_sink_timeprune

    def q_grouping_sets(spark, sf):  # explicit GROUPING SETS + grouping()
        li = load(spark, sf, "lineitem")
        li.createOrReplaceTempView("gs_lineitem")
        return spark.sql(
            """
            SELECT l_returnflag, l_linestatus,
                   grouping(l_returnflag) AS g1, grouping(l_linestatus) AS g2,
                   count(*) AS n, round(sum(l_quantity), 2) AS qty
            FROM gs_lineitem
            GROUP BY GROUPING SETS ((l_returnflag, l_linestatus),
                                    (l_returnflag), ())
            """
        )

    q["q_grouping_sets"] = q_grouping_sets

    def q_corr(spark, sf):  # exact-integer Pearson correlation per group
        from osm_pbf_spark.operators.stats import pearson_corr

        li = load(spark, sf, "lineitem").filter(F.col("l_orderkey") < 20000)
        d = li.select(
            "l_returnflag",
            F.col("l_quantity").cast("bigint").alias("x"),
            F.floor("l_extendedprice").alias("y"),
        )
        return pearson_corr(d, "x", "y", ["l_returnflag"])

    q["q_corr"] = q_corr

    def q_ols(spark, sf):  # exact-integer least-squares line per group
        from osm_pbf_spark.operators.stats import ols_fit

        li = load(spark, sf, "lineitem").filter(F.col("l_orderkey") < 20000)
        d = li.select(
            "l_returnflag",
            F.col("l_quantity").cast("bigint").alias("x"),
            F.floor("l_extendedprice").alias("y"),
        )
        return ols_fit(d, "x", "y", ["l_returnflag"])

    q["q_ols"] = q_ols

    def q_spearman(spark, sf):  # rank correlation on unique ranks
        from osm_pbf_spark.operators.stats import spearman_corr

        li = load(spark, sf, "lineitem").filter(F.col("l_orderkey") < 20000)
        d = li.select(
            "l_returnflag",
            F.col("l_quantity").cast("bigint").alias("x"),
            F.floor("l_extendedprice").alias("y"),
            "l_orderkey", "l_linenumber", "l_partkey", "l_suppkey",
            "l_extendedprice", "l_discount",
        )
        # the 7-column tuple is verified unique in this table — the
        # tie chain makes both rank orders strictly total
        ties = ["l_orderkey", "l_linenumber", "l_partkey", "l_suppkey",
                "l_extendedprice", "l_discount"]
        return spearman_corr(d, "x", "y", ties, ["l_returnflag"])

    q["q_spearman"] = q_spearman

    def q_ks_drift(spark, sf):  # two-sample KS distance (drift check)
        from osm_pbf_spark.operators.stats import ks_test

        li = load(spark, sf, "lineitem")
        d = li.select(
            F.col("l_quantity").alias("v"),
            F.when(F.col("l_linenumber") <= 3, F.lit("a"))
            .otherwise(F.lit("b"))
            .alias("s"),
        )
        return ks_test(d, "v", "s")

    q["q_ks_drift"] = q_ks_drift

    def q_chi2_drift(spark, sf):  # categorical drift (chi-square)
        from osm_pbf_spark.operators.stats import chi2_test

        li = load(spark, sf, "lineitem")
        d = li.select(
            F.col("l_returnflag").alias("c"),
            F.when(F.col("l_linenumber") <= 3, F.lit("a"))
            .otherwise(F.lit("b"))
            .alias("s"),
        )
        return chi2_test(d, "c", "s")

    q["q_chi2_drift"] = q_chi2_drift

    def q_mannwhitney(spark, sf):  # rank-based drift (Mann-Whitney U)
        from osm_pbf_spark.operators.stats import mann_whitney_u

        li = load(spark, sf, "lineitem")
        d = li.select(
            F.col("l_quantity").cast("bigint").alias("v"),
            F.when(F.col("l_linenumber") <= 3, F.lit("a"))
            .otherwise(F.lit("b"))
            .alias("s"),
        )
        return mann_whitney_u(d, "v", "s")

    q["q_mannwhitney"] = q_mannwhitney

    def q_robust_z(spark, sf):  # median/MAD outlier flags, exact-int
        from osm_pbf_spark.operators.stats import robust_zscore

        li = load(spark, sf, "lineitem").filter(F.col("l_orderkey") < 20000)
        d = li.select(
            "l_returnflag", F.col("l_quantity").cast("bigint").alias("q")
        )
        return robust_zscore(d, "q", ["l_returnflag"], min_dev_mads=2)

    q["q_robust_z"] = q_robust_z

    def q_bloom(spark, sf):  # Bloom filter build + probe, replayable bits
        from osm_pbf_spark.operators.sketch import bloom_build, bloom_probe

        li = load(spark, sf, "lineitem")
        sk = bloom_build(li, "l_partkey", n_words=4096, depth=4)
        probes = (
            load(spark, sf, "part")
            .filter(F.col("p_partkey") % 7 == 0)
            .select(
                F.when(
                    F.col("p_partkey") % 2 == 0, F.col("p_partkey")
                )
                .otherwise(F.col("p_partkey") + 10_000_000)
                .alias("probe_key")
            )
        )
        return bloom_probe(sk, probes, "probe_key", n_words=4096, depth=4)

    q["q_bloom"] = q_bloom

    def q_hll(spark, sf):  # HyperLogLog register table, replayable bits
        from osm_pbf_spark.operators.sketch import hll_sketch

        li = load(spark, sf, "lineitem")
        return hll_sketch(li, "l_partkey", p=8)

    q["q_hll"] = q_hll

    def q_hll_est(spark, sf):  # HLL fold: exact harmonic sum + floor estimate
        from osm_pbf_spark.operators.sketch import hll_estimate, hll_sketch

        li = load(spark, sf, "lineitem")
        est = hll_estimate(hll_sketch(li, "l_partkey", p=8), p=8)
        # `est` (linear-counting branch) uses ln() — libm, not
        # bit-gateable; the exact-integer columns are the gate surface
        return est.select("hll_m", "hll_observed", "s_scaled", "est_floor")

    q["q_hll_est"] = q_hll_est

    def q_str_partition(spark, sf):  # STR r-tree bulk-load tiling as layout op
        from osm_pbf_spark.operators.layout import str_partition
        from osm_pbf_spark.sources.tables import customer_points

        pts = customer_points(spark, sf)
        return str_partition(pts, 4, 4, id_col="doc_id").select(
            "doc_id", "str_slab", "str_tile", "part_id"
        )

    q["q_str_partition"] = q_str_partition

    def q_points_along(spark, sf):  # linear referencing: densify tracks
        from osm_pbf_spark.operators.measures import points_along_lines

        ev = load(spark, sf, "events").filter(F.col("event_id") < 2000)
        verts = ev.select(
            "user_id",
            F.col("event_id").alias("seq"),
            derived_lat("event_id").alias("lat"),
            derived_lon("event_id").alias("lon"),
        )
        return points_along_lines(
            verts, 50_000_000, line_col="user_id", seq_col="seq"
        )

    q["q_points_along"] = q_points_along

    def q_map_match(spark, sf):  # HMM map matching: tracks onto a street grid
        from osm_pbf_spark.operators.matching import map_match

        ev = load(spark, sf, "events")
        # street grid: 20 horizontal streets 0.002 deg apart, 10 edges each
        k = F.col("event_id")
        segs = ev.filter(k < 200).select(
            k.alias("seg_id"),
            (F.lit(40.0) + F.expr("event_id DIV 10").cast("double") * F.lit(0.002)).alias("alat"),
            (F.lit(-74.0) + (k % 10).cast("double") * F.lit(0.01)).alias("alon"),
            (F.lit(40.0) + F.expr("event_id DIV 10").cast("double") * F.lit(0.002)).alias("blat"),
            (F.lit(-74.0) + (k % 10 + 1).cast("double") * F.lit(0.01)).alias("blon"),
        )
        # tracks: each user walks their home street with jitter that
        # sometimes strays nearer a parallel street (the HMM's job)
        pts = ev.filter(k < 3000).select(
            "user_id",
            "event_id",
            (
                F.lit(40.0)
                + (F.col("user_id") % 20).cast("double") * F.lit(0.002)
                + ((k * 13) % 25 - 12).cast("double") / F.lit(10000.0)
            ).alias("lat"),
            (F.lit(-74.0) + ((k * 37) % 1000).cast("double") / F.lit(10000.0)).alias(
                "lon"
            ),
        )
        return map_match(
            pts,
            segs,
            radius=0.004,
            switch_penalty=3000,
            track_col="user_id",
            seq_col="event_id",
        )

    q["q_map_match"] = q_map_match

    def q_contour(spark, sf):  # marching-squares isolines over the density raster
        from osm_pbf_spark.functions.cells import _quant_col
        from osm_pbf_spark.operators.tiling import contour_segments

        pts = customer_points(spark, sf)
        grid = pts.select(
            _quant_col(F.col("lon"), 180.0, 360.0, 7).alias("x"),
            _quant_col(F.col("lat"), 90.0, 180.0, 7).alias("y"),
        ).groupBy("x", "y").agg(F.count(F.lit(1)).alias("n"))
        return contour_segments(grid, 2)

    q["q_contour"] = q_contour

    def q_adaptive_cells(spark, sf):  # data-adaptive quadtree leaf assignment
        from osm_pbf_spark.operators.tiling import adaptive_cells

        pts = customer_points(spark, sf)
        return adaptive_cells(pts, k=4, min_level=3, max_level=8).select(
            "doc_id", "level", "cx", "cy"
        )

    q["q_adaptive_cells"] = q_adaptive_cells

    def q_minhash_join(spark, sf):  # incremental dedup: new batch vs corpus
        from osm_pbf_spark.operators.dedup import minhash_lsh_join

        d = load(spark, sf, "documents")
        corpus = d.filter(F.col("doc_id") < 200)
        new = (
            d.filter((F.col("doc_id") >= 100) & (F.col("doc_id") < 300))
            .withColumn("doc_id", F.col("doc_id") + 1_000_000)
        )
        return minhash_lsh_join(new, corpus, threshold=0.5)

    q["q_minhash_join"] = q_minhash_join

    def q_stay_points(spark, sf):  # trajectory dwell detection
        from osm_pbf_spark.operators.matching import stay_points

        ev = load(spark, sf, "events").filter(F.col("event_id") < 4000)
        k = F.col("event_id")
        wander = (k * 31) % 10 >= 6
        home_lat = F.lit(40.0) + (F.col("user_id") % 50).cast("double") * F.lit(0.01)
        home_lon = F.lit(-74.0) + (F.col("user_id") % 37).cast("double") * F.lit(0.01)
        pts = ev.select(
            "user_id",
            k.alias("seq"),
            (k * F.lit(60_000_000)).alias("ts_us"),
            (
                home_lat
                + F.when(
                    wander, ((k * 17) % 1000 - 500).cast("double") / F.lit(10000.0)
                ).otherwise(((k * 13) % 9 - 4).cast("double") / F.lit(1000000.0))
            ).alias("lat"),
            (
                home_lon
                + F.when(
                    wander, ((k * 19) % 1000 - 500).cast("double") / F.lit(10000.0)
                ).otherwise(((k * 23) % 9 - 4).cast("double") / F.lit(1000000.0))
            ).alias("lon"),
        )
        return stay_points(
            pts, radius=0.0005, min_duration_us=50 * 60_000_000,
            track_col="user_id",
        )

    q["q_stay_points"] = q_stay_points

    def q_pca(spark, sf):  # data-dependent dim reduction (vs q_rp_reduce's RP)
        from osm_pbf_spark.operators.ann import pca_encode, pca_train

        e = load(spark, sf, "embeddings")
        proj = pca_train(e, dim=64, out_dim=8)
        enc = pca_encode(e.filter(F.col("vec_id") < 200), proj)
        return enc.select("vec_id", F.posexplode("pvec").alias("dim_idx", "q"))

    q["q_pca"] = q_pca

    def q_isochrone(spark, sf):  # composed: sssp -> threshold raster -> contour
        from osm_pbf_spark.operators.graph import sssp
        from osm_pbf_spark.operators.tiling import contour_segments

        R, C = 10, 8  # grid street network, node id = i*C + j
        ids = spark.range(R * C)
        row = F.expr("id DIV 8")
        col = F.col("id") % C
        h = ids.where(col < C - 1).select(
            F.col("id").alias("src"),
            (F.col("id") + 1).alias("dst"),
            (F.lit(10) + F.col("id") % 7).alias("w"),
        )
        v = ids.where(row < R - 1).select(
            F.col("id").alias("src"),
            (F.col("id") + C).alias("dst"),
            (F.lit(25) + F.col("id") % 9).alias("w"),
        )
        srcs = spark.createDataFrame([(4 * C + 3,)], "node long")
        d = sssp(h.unionByName(v), srcs, max_rounds=16)
        grid = d.where(F.col("dist") <= 60).select(
            (F.col("node") % C).alias("x"),
            F.expr("node DIV 8").alias("y"),
            F.lit(1).alias("n"),
        )
        return contour_segments(grid, 1)

    q["q_isochrone"] = q_isochrone

    def q_grid_morph(spark, sf):  # morphological closing of the density raster
        from osm_pbf_spark.functions.cells import _quant_col
        from osm_pbf_spark.operators.tiling import grid_dilate, grid_erode

        pts = customer_points(spark, sf)
        grid = pts.select(
            _quant_col(F.col("lon"), 180.0, 360.0, 7).alias("x"),
            _quant_col(F.col("lat"), 90.0, 180.0, 7).alias("y"),
        ).distinct()
        return grid_erode(grid_dilate(grid, 2), 2)

    q["q_grid_morph"] = q_grid_morph

    def q_od_matrix(spark, sf):  # per-origin shortest distances (OD matrix)
        from osm_pbf_spark.operators.graph import sssp_matrix

        ev = load(spark, sf, "events").filter(F.col("event_id") < 400)
        edges = ev.select(
            (F.col("event_id") % 120).alias("src"),
            ((F.col("event_id") * 13 + 7) % 120).alias("dst"),
            (F.col("event_id") % 19 + 1).alias("w"),
        )
        srcs = spark.createDataFrame([(0,), (3,), (7,)], "node long")
        return sssp_matrix(edges, srcs, max_rounds=12)

    q["q_od_matrix"] = q_od_matrix

    def q_validate_spans(spark, sf):  # the per-row span-sequence invariant as DQ
        from osm_pbf_spark.operators.docrender import render_documents, validate_spans
        from osm_pbf_spark.sources import pbf_source as src

        entities, _hdr = src.read_pbf(spark, _fixture_pbf("mixed"))
        return validate_spans(render_documents(entities))

    q["q_validate_spans"] = q_validate_spans

    def q_token_budget(spark, sf):  # fill a token budget in hash order
        from osm_pbf_spark.operators.packing import token_budget_sample

        d = load(spark, sf, "documents")
        return token_budget_sample(d, 10_000)

    q["q_token_budget"] = q_token_budget

    def q_hll_grouped(spark, sf):  # per-group HLL distinct estimates
        from osm_pbf_spark.operators.sketch import hll_estimate, hll_sketch

        li = load(spark, sf, "lineitem")
        sk = hll_sketch(li, "l_partkey", p=8, group_cols=["l_returnflag"])
        est = hll_estimate(sk, p=8, group_cols=["l_returnflag"])
        return est.select(
            "l_returnflag", "hll_m", "hll_observed", "s_scaled", "est_floor"
        )

    q["q_hll_grouped"] = q_hll_grouped

    def q_fill_interp(spark, sf):  # linear-interpolation gap fill (vs step)
        from osm_pbf_spark.operators.temporal import fill_interpolate, resample

        e = load(spark, sf, "events")
        return fill_interpolate(
            resample(e, bucket_s=6 * 3600),
            "user_id",
            "bucket",
            "value_sum_q",
            out_col="v_interp",
        ).select("user_id", "bucket", "n_events", "v_interp")

    q["q_fill_interp"] = q_fill_interp

    def q_pbf_multi(spark, sf):  # multi-file PBF scan: union manifest, one stage
        from osm_pbf_spark.sources import pbf_source as src

        entities, hdr = src.read_pbf(
            spark, [_fixture_pbf("mixed"), _fixture_pbf("granularity")]
        )
        return entities.groupBy("kind").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("id").alias("id_sum"),
            F.sum(
                F.coalesce(
                    F.floor(F.col("lat") * F.lit(1e7) + F.lit(0.5)).cast("bigint"),
                    F.lit(0).cast("bigint"),
                )
            ).alias("lat_e7_sum"),
        )

    q["q_pbf_multi"] = q_pbf_multi

    def q_scd2(spark, sf):  # SCD2 dimension build from the event log
        from osm_pbf_spark.operators.temporal import scd2_build

        from osm_pbf_spark.operators.temporal import _epoch_micros

        ev = load(spark, sf, "events").filter(F.col("user_id") < 200)
        s = scd2_build(ev, "user_id", "ts", ["event_type"], id_col="event_id")
        return s.select(
            "user_id",
            "event_type",
            _epoch_micros(F.col("valid_from")).alias("valid_from_us"),
            _epoch_micros(F.col("valid_to")).alias("valid_to_us"),
            "is_current",
        )

    q["q_scd2"] = q_scd2

    def q_bloom_join(spark, sf):  # runtime-filter join reduction (lossless)
        from osm_pbf_spark.operators.sketch import bloom_semi_reduce

        li = load(spark, sf, "lineitem")
        keys = (
            load(spark, sf, "orders")
            .filter(F.col("o_orderkey") % 97 == 0)
            .select("o_orderkey", "o_orderpriority")
        )
        reduced = bloom_semi_reduce(
            li, keys, "l_orderkey", "o_orderkey", n_words=1024, depth=3
        )
        j = reduced.join(keys, reduced["l_orderkey"] == keys["o_orderkey"])
        return j.groupBy("o_orderpriority").agg(
            F.count(F.lit(1)).alias("n_items"),
            F.sum(F.col("l_quantity").cast("bigint")).alias("sum_qty"),
        )

    q["q_bloom_join"] = q_bloom_join

    def q_pq_topk(spark, sf):  # product-quantization ADC top-k (ANN family)
        from osm_pbf_spark.operators.ann import pq_encode, pq_topk, pq_train

        e = load(spark, sf, "embeddings")
        book = pq_train(e, m=4, n_codes=16)
        codes = pq_encode(e, book)
        return pq_topk(e.filter(F.col("vec_id") < 30), codes, book, k=3)

    q["q_pq_topk"] = q_pq_topk

    def q_ivfpq(spark, sf):  # IVF-PQ with residual codes (the 10^12 shape)
        from osm_pbf_spark.operators.ann import ivfpq_topk

        e = load(spark, sf, "embeddings")
        return ivfpq_topk(
            e.filter(F.col("vec_id") < 20), e, k=3, n_lists=16, nprobe=4
        )

    q["q_ivfpq"] = q_ivfpq

    def q_hist_quantiles(spark, sf):  # mergeable histogram-sketch quantiles
        from osm_pbf_spark.operators.sketch import binned_quantiles

        li = load(spark, sf, "lineitem")
        d = li.select(
            "l_returnflag",
            F.floor(F.col("l_extendedprice")).cast("bigint").alias("price"),
        )
        return binned_quantiles(
            d, "price", ["l_returnflag"], lo=0, hi=120_000, n_bins=128
        )

    q["q_hist_quantiles"] = q_hist_quantiles

    def q_zscore(spark, sf):  # per-row outlier z-scores, bit-reproducible
        from osm_pbf_spark.operators.stats import zscore

        li = load(spark, sf, "lineitem").filter(F.col("l_orderkey") < 2000)
        d = li.select(
            "l_orderkey",
            "l_linenumber",
            "l_returnflag",
            F.col("l_quantity").cast("bigint").alias("x"),
        )
        return zscore(d, "x", ["l_returnflag"])

    q["q_zscore"] = q_zscore

    def q_media_neardup(spark, sf):  # perceptual-hash (dHash) media dedup:
        # decode -> native 64-bit gradient hash -> pigeonhole-banded
        # candidate join -> popcount verify; near-dups planted by native
        # single-pixel perturbations of the deterministic fake decode
        from osm_pbf_spark.operators.multimodal import (
            dhash64_col,
            media_pixels,
            near_dup_media_pairs,
            synth_media_table,
        )

        media = synth_media_table(spark, 48)
        px = media_pixels(media)
        base_id = F.substring("media_ref", 2, 10).cast("int")
        variants = (
            px.where(base_id < 10)
            .withColumn("_pos", F.pmod(base_id * 5, F.lit(64)))
            .select(
                F.concat(F.lit("dup/"), F.col("media_ref")).alias("media_ref"),
                F.transform(
                    "px",
                    lambda x, i: F.when(
                        i == F.col("_pos"), F.least(x + 1, F.lit(255))
                    ).otherwise(x),
                ).alias("px"),
            )
        )
        gallery = px.unionByName(variants)
        hashed = gallery.select(
            "media_ref", dhash64_col(F.col("px")).alias("phash")
        )
        return near_dup_media_pairs(hashed, max_hamming=3)

    q["q_media_neardup"] = q_media_neardup

    def q_audio_frames(spark, sf):  # STFT-shaped overlapping window plan
        from osm_pbf_spark.operators.multimodal import audio_frame_plan

        u = load(spark, sf, "events").select("user_id").distinct()
        clips = u.select(
            F.col("user_id").alias("clip_id"),
            (F.lit(200) + F.pmod(F.col("user_id") * 37, F.lit(5000))).alias(
                "dur_ms"
            ),
        )
        return audio_frame_plan(
            clips, frame_ms=400, hop_ms=160, id_col="clip_id", duration_col="dur_ms"
        )

    q["q_audio_frames"] = q_audio_frames

    def q_twap(spark, sf):  # time-weighted average (step-function values)
        from osm_pbf_spark.operators.temporal import twap

        ev = load(spark, sf, "events").select(
            "user_id",
            "event_id",
            "ts",
            F.floor(F.col("value") * 1000).alias("vq"),
        )
        return twap(ev, key_col="user_id", ts_col="ts", value_col="vq")

    q["q_twap"] = q_twap

    def q_rolling(spark, sf):  # rolling k-row window aggregates per key
        li = load(spark, sf, "lineitem").filter(F.col("l_orderkey") < 3000)
        # (orderkey, linenumber) is NOT unique in this synthetic table —
        # extend the tie-break until remaining ties are rows identical
        # in every aggregated column (then window contents are
        # order-insensitive multisets)
        w = (
            Window.partitionBy("l_returnflag")
            .orderBy(
                "l_orderkey", "l_linenumber", "l_partkey", "l_suppkey", "l_quantity"
            )
            .rowsBetween(-4, 0)
        )
        q5 = F.col("l_quantity").cast("bigint")
        return li.select(
            "l_orderkey",
            "l_linenumber",
            "l_returnflag",
            F.sum(q5).over(w).alias("roll_qty"),
            F.count(F.lit(1)).over(w).alias("roll_n"),
            F.max(q5).over(w).alias("roll_max"),
        )

    q["q_rolling"] = q_rolling

    def q_debounce(spark, sf):  # cooldown dedup: keep >= gap after last KEPT
        from osm_pbf_spark.operators.temporal import debounce

        ev = load(spark, sf, "events").filter(F.col("event_id") < 4000)
        kept = debounce(ev, key_col="user_id", ts_col="ts", gap_s=3600.0)
        return kept.groupBy("user_id").agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.min("event_id").alias("first_event"),
            F.sum("event_id").alias("id_sum"),
        )

    q["q_debounce"] = q_debounce

    def q_dq_checks(spark, sf):  # declarative data-quality rule suite
        from osm_pbf_spark.operators.dq import check_constraints

        li = load(spark, sf, "lineitem")
        o = load(spark, sf, "orders")
        return check_constraints(
            li,
            not_null=["l_shipdate", "l_partkey"],
            ranges=[("l_discount", 0.0, 0.1), ("l_quantity", 1.0, 30.0)],
            in_set=[("l_returnflag", ["A", "N", "R"])],
            unique=[["l_orderkey", "l_linenumber"]],
            refs=[("l_orderkey", o, "o_orderkey")],
        )

    q["q_dq_checks"] = q_dq_checks

    def q_lateral(spark, sf):  # correlated LATERAL subquery (top-2 per row)
        c = load(spark, sf, "customer").filter(F.col("c_custkey") < 300)
        o = load(spark, sf, "orders")
        c.createOrReplaceTempView("lat_cust")
        o.createOrReplaceTempView("lat_orders")
        return spark.sql(
            """
            SELECT c.c_custkey, t.o_orderkey, t.o_totalprice
            FROM lat_cust c, LATERAL (
              SELECT o_orderkey, o_totalprice FROM lat_orders o
              WHERE o.o_custkey = c.c_custkey
              ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) t
            """
        )

    q["q_lateral"] = q_lateral

    def q_profile(spark, sf):  # one-scan long-format column profiler
        from osm_pbf_spark.operators.checksum import profile_table

        li = load(spark, sf, "lineitem")
        return profile_table(li, ["l_quantity", "l_discount", "l_partkey", "l_tax"])

    q["q_profile"] = q_profile

    def q_ring_valid(spark, sf):  # polygon validity: ring self-intersections
        from osm_pbf_spark.operators.segjoin import ring_self_intersections

        e = load(spark, sf, "events").filter(F.col("event_id") < 900)
        # dyadic synthetic quads; every 5th is a bowtie (diagonals are
        # segments 1/3), every remaining 7th a rotated bowtie (2/4)
        cx = (F.col("event_id") % 120) - 60 + F.lit(0.5)
        cy = ((F.col("event_id") * 13) % 80) - 40 + F.lit(0.25)
        h = F.lit(0.5) + (F.col("event_id") % 4) * F.lit(0.25)

        def pt(la, lo):
            return F.struct(la.alias("lat"), lo.alias("lon"))

        bl, br = pt(cy - h, cx - h), pt(cy - h, cx + h)
        tr, tl = pt(cy + h, cx + h), pt(cy + h, cx - h)
        pts = (
            F.when(F.col("event_id") % 5 == 0, F.array(bl, tr, br, tl))
            .when(F.col("event_id") % 7 == 0, F.array(tr, br, tl, bl))
            .otherwise(F.array(bl, br, tr, tl))
        )
        rings = e.select(
            F.col("event_id").alias("poly_id"),
            F.lit(0).cast("int").alias("ring_idx"),
            pts.alias("pts"),
        )
        return ring_self_intersections(rings, level=6)

    q["q_ring_valid"] = q_ring_valid

    def q_ntile_dist(spark, sf):  # distribution windows: percent_rank/cume_dist/ntile
        o = load(spark, sf, "orders").filter(F.col("o_orderkey") < 4000)
        w = Window.partitionBy("o_orderpriority").orderBy(
            "o_totalprice", "o_orderkey"
        )
        return o.select(
            "o_orderkey",
            "o_orderpriority",
            "o_totalprice",
            F.percent_rank().over(w).alias("pct_rank"),
            F.cume_dist().over(w).alias("cume"),
            F.ntile(4).over(w).alias("quartile"),
        )

    q["q_ntile_dist"] = q_ntile_dist

    def q_cusum(spark, sf):  # sequential changepoint detection, prefix-identity form
        from osm_pbf_spark.operators.stats import cusum_changepoints

        e = load(spark, sf, "events").filter(F.col("event_id") < 10000)
        d = e.select(
            (F.col("event_id") % 40).alias("series"),
            F.col("event_id").alias("seq"),
            (
                (F.col("event_id") % 7)
                + ((F.col("event_id") % 40) % 3)
                * 2
                * (F.expr("event_id DIV 4000") % 2)
            ).alias("v"),
        )
        return cusum_changepoints(
            d, key_col="series", order_col="seq", val_col="v",
            drift=4, threshold=60,
        )

    q["q_cusum"] = q_cusum

    def q_hilbert(spark, sf):  # Hilbert-curve layout keys (Z-order's
        # better-locality sibling); unrolled xy2d walk, one chained
        # projection per level, pure codegen — oracle replays the
        # identical integer chain
        from osm_pbf_spark.functions.hilbert import hilbert_key_col

        pts = customer_points(spark, sf)
        return hilbert_key_col(
            pts, F.col("lon"), F.col("lat"), (-180.0, -90.0), (180.0, 90.0), bits=8
        ).select("doc_id", "hkey")

    q["q_hilbert"] = q_hilbert

    def q_setsim(spark, sf):  # EXACT set-similarity self-join via prefix
        # filtering (rarity-ordered prefixes; integer Jaccard test) —
        # oracle is a brute all-pairs SQL join, fully independent
        from osm_pbf_spark.operators.dedup import set_similarity_join

        d = load(spark, sf, "documents").filter(F.col("doc_id") < 1500)
        return set_similarity_join(d, threshold=(9, 10))

    q["q_setsim"] = q_setsim

    def q_frechet(spark, sf):  # order-aware trajectory-similarity join:
        # discrete Frechet <= radius over the q_hausdorff track corpus
        # (same candidate stage; anti-diagonal-vectorized DP refine)
        from osm_pbf_spark.operators.distance import frechet_join

        e = load(spark, sf, "events").filter(F.col("event_id") < 240)
        base = F.col("event_id") - (F.col("event_id") % 4)
        j = (F.col("event_id") % 4).cast("double")
        npts = (F.lit(6) + F.col("event_id") % 3).cast("int")
        lat0 = (base % 80) - 40 + F.lit(0.25) + j * F.lit(0.0625)
        lon0 = ((base * 7) % 340) - 170 + F.lit(0.5) + j * F.lit(0.0625)
        tracks = e.select(
            F.col("event_id").alias("track_id"),
            F.transform(
                F.sequence(F.lit(0), npts - 1),
                lambda i: F.struct(
                    (lat0 + i.cast("double") * F.lit(0.125)).alias("lat"),
                    (lon0 + (i % 3).cast("double") * F.lit(0.25)).alias("lon"),
                ),
            ).alias("pts"),
        )
        out = frechet_join(tracks, tracks, radius=0.5, level=8)
        return out.where(F.col("id_a") < F.col("id_b"))

    q["q_frechet"] = q_frechet

    def q_bm25(spark, sf):  # Okapi BM25 retrieval scores (the ranking
        # step over the inverted-index surface); ln drifts ~1 ulp ->
        # round(score, 6), the tfidf/pmi gate posture
        from osm_pbf_spark.operators.text import bm25

        d = load(spark, sf, "documents").filter(F.col("doc_id") < 1200)
        out = bm25(d, ["the", "spark", "data", "quick"])
        return out.select(
            "doc_id", "n_hits", F.round(F.col("score"), 6).alias("score")
        )

    q["q_bm25"] = q_bm25

    def q_labelprop(spark, sf):  # deterministic synchronous label
        # propagation (community detection) — unrolled-CTE oracle like
        # pagerank/kcore
        from osm_pbf_spark.operators.graph import label_propagation

        return label_propagation(_md5_graph(spark, sf), rounds=3)

    q["q_labelprop"] = q_labelprop

    def q_hex_assign(spark, sf):  # H3-like pointy-top axial hex grid
        # assignment (the hex sibling of the Morton cells) — pure
        # codegen projection + one hash agg; oracle replays the
        # identical fixed IEEE chain with repr-literal constants
        from osm_pbf_spark.functions.hexgrid import hex_counts

        return hex_counts(customer_points(spark, sf), size=0.25)

    q["q_hex_assign"] = q_hex_assign

    def q_hex_kring(spark, sf):  # isotropic ring-1 hex density
        # smoothing (6 equidistant neighbors — the kernel a 3x3 box
        # can't give); scatter is 7x occupied hexes, two narrow shuffles
        from osm_pbf_spark.functions.hexgrid import hex_kring_counts

        return hex_kring_counts(customer_points(spark, sf), size=0.25)

    q["q_hex_kring"] = q_hex_kring

    def q_zonal(spark, sf):  # rectangular zonal statistics: cell-cover
        # equi-join + exact BETWEEN refine + per-zone integer agg;
        # oracle is a plain BETWEEN theta join — independent algorithm
        from osm_pbf_spark.operators.spatialstats import zonal_stats

        pts = customer_points(spark, sf).withColumn(
            "v", F.col("doc_id") % F.lit(1000)
        )
        zones = load(spark, sf, "nation").select(
            F.col("n_nationkey").alias("zone_id"),
            ((F.col("n_nationkey") * 13 % 100 - 60).cast("double") + F.lit(0.5))
            .alias("lat_min"),
            ((F.col("n_nationkey") * 13 % 100 - 60).cast("double") + F.lit(0.5)
             + F.lit(9.0)).alias("lat_max"),
            ((F.col("n_nationkey") * 29 % 280 - 150).cast("double") + F.lit(0.25))
            .alias("lon_min"),
            ((F.col("n_nationkey") * 29 % 280 - 150).cast("double") + F.lit(0.25)
             + F.lit(14.0)).alias("lon_max"),
        )
        return zonal_stats(pts, zones, level=5)

    q["q_zonal"] = q_zonal

    def q_kinematics(spark, sf):  # per-fix trajectory speed/heading
        # enrichment: one window shuffle, native trig chains; bearing
        # micro-deg rounded (atan2 posture), NULL on zero-distance
        from osm_pbf_spark.operators.matching import trajectory_kinematics

        e = load(spark, sf, "events")
        fixes = e.select(
            (F.col("event_id") % 16).alias("track_id"),
            "ts",
            "event_id",
            (F.col("event_id") % 160 - 80 + F.lit(0.5)).alias("lat"),
            ((F.col("event_id") * 7) % 350 - 175 + F.lit(0.25)).alias("lon"),
        )
        from osm_pbf_spark.operators.temporal import _epoch_micros

        k = trajectory_kinematics(fixes, order_cols=("event_id",))
        return k.select(
            "track_id",
            _epoch_micros(F.col("ts")).alias("ts_us"),
            "dist_m",
            "dt_us",
            "speed_mps",
            "bearing_deg",
        )

    q["q_kinematics"] = q_kinematics

    def q_frequent_items(spark, sf):  # exact heavy hitters: Misra-Gries
        # Arrow-batch candidates (<= k rows/batch shuffled, tail never
        # moves) + exact broadcast recount; oracle = plain GROUP BY
        # HAVING — fully independent of the sketch path
        from osm_pbf_spark.operators.sketch import frequent_items

        items = load(spark, sf, "orders").select(
            F.when(
                F.col("o_orderkey") % 5 < 3, F.col("o_orderkey") % 40
            )
            .otherwise(F.col("o_orderkey"))
            .cast("string")
            .alias("item")
        )
        return frequent_items(items, "item", k=256, min_count=100)

    q["q_frequent_items"] = q_frequent_items

    def q_url_normalize(spark, sf):  # crawl-pipeline URL canonical key:
        # regexp parse + normalization spec (lowercase, default-port
        # drop, trailing-slash strip, fragment drop) — pure codegen;
        # oracle runs the same regex spec on DuckDB's RE2 (vs Java
        # regex here: two independent regex engines must agree)
        from osm_pbf_spark.operators.text import url_normalize

        k = F.col("o_orderkey")
        o = load(spark, sf, "orders").filter(k < 3000)
        url = F.concat(
            F.element_at(
                F.array(F.lit("http"), F.lit("HTTPS"), F.lit("ftp")),
                (k % 3 + 1).cast("int"),
            ),
            F.lit("://"),
            F.lit("WWW.Site"), (k % 50).cast("string"), F.lit(".Example.COM"),
            F.element_at(
                F.array(F.lit(""), F.lit(":80"), F.lit(":443"), F.lit(":8080")),
                (k % 4 + 1).cast("int"),
            ),
            F.element_at(
                F.array(F.lit(""), F.lit("/"), F.lit("/a/b"), F.lit("/a/b/"),
                        F.lit("/idx.html")),
                (k % 5 + 1).cast("int"),
            ),
            F.element_at(
                F.array(F.lit(""), F.lit("?x=1&y=2")), (k % 2 + 1).cast("int")
            ),
            F.when(k % 7 == 0, F.lit("#sec")).otherwise(F.lit("")),
        )
        return url_normalize(o.select("o_orderkey", url.alias("url"))).select(
            "o_orderkey", "url", "scheme", "host", "port", "path",
            "query", "fragment", "url_norm", "domain",
        )

    q["q_url_normalize"] = q_url_normalize

    def q_nb_classify(spark, sf):  # multinomial Naive Bayes lang
        # classifier (the fastText-quality-filter role) — micro-nat
        # quantized log-likelihoods, exact bigint scores, deterministic
        # argmax; oracle replays the identical chain in SQL
        from osm_pbf_spark.operators.text import nb_classify

        d = load(spark, sf, "documents")
        train = d.filter(F.col("doc_id") < 400).select(
            "doc_id", "text", F.col("lang").alias("label")
        )
        return nb_classify(train, d.select("doc_id", "text"))

    q["q_nb_classify"] = q_nb_classify

    def q_quantiles(spark, sf):  # exact per-group percentiles (type-1)
        # in one pass: distinct-value shuffle + cumulative window +
        # integer cum*den >= num*n selection — no approx sketch, no
        # global sort; oracle replays the identical integer rule
        from osm_pbf_spark.operators.stats import exact_quantiles

        li = load(spark, sf, "lineitem").select(
            "l_returnflag", F.col("l_quantity").cast("bigint").alias("qty")
        )
        return exact_quantiles(
            li, "qty", ["l_returnflag"],
            qs=[(1, 4), (1, 2), (3, 4), (9, 10), (1, 1)],
            labels=["p25", "p50", "p75", "p90", "p100"],
        )

    q["q_quantiles"] = q_quantiles

    def q_rendezvous(spark, sf):  # consistent HRW shard assignment —
        # one native array-aggregate fold per row, zero shuffle; oracle
        # = cross-join + window argmax (independent formulation)
        from osm_pbf_spark.operators.packing import rendezvous_assign

        c = load(spark, sf, "customer").select(
            F.col("c_custkey").alias("doc_id")
        )
        return rendezvous_assign(
            c, "doc_id", [f"shard{i}" for i in range(7)]
        )

    q["q_rendezvous"] = q_rendezvous

    def q_zrange(spark, sf):  # Z-order range-scan decomposition: a 2-D
        # bbox becomes an OR of 1-D key BETWEENs (driver-side quadtree,
        # merged adjacent ranges) — the stats-prunable scan over the
        # C13 layout; oracle filters by quantized COORDS (never touches
        # the curve), so equality proves the decomposition
        from osm_pbf_spark.functions.zorder import (
            zorder_key_col,
            zorder_ranges,
            zrange_predicate,
        )

        pts = customer_points(spark, sf)
        key = zorder_key_col(
            [F.col("lon"), F.col("lat")], [-180.0, -90.0], [180.0, 90.0], bits=8
        )
        ranges = zorder_ranges(37, 133, 60, 201, bits=8, max_ranges=2048)
        return (
            pts.withColumn("zkey", key)
            .where(zrange_predicate(F.col("zkey"), ranges))
            .select("doc_id", "zkey")
        )

    q["q_zrange"] = q_zrange

    def q_flow_dir(spark, sf):  # D8 hydrology flow direction: scatter
        # + equi-join + max(struct) argmax, ties by smallest code,
        # pits/flats -1; oracle = 8-offset VALUES join + window rank
        from osm_pbf_spark.operators.tiling import flow_direction

        k = F.col("o_orderkey")
        grid = load(spark, sf, "orders").filter(k < 1024).select(
            (k % 32).alias("x"),
            ((k - k % 32) / 32 % 32).cast("bigint").alias("y"),
            ((k * 7919) % 1000).alias("z"),
        )
        return flow_direction(grid)

    q["q_flow_dir"] = q_flow_dir

    def q_lttb(spark, sf):  # LTTB shape-preserving downsampling —
        # exact-int triangle areas (next-bucket centroid multiplied
        # through, never divided), earliest-point ties; oracle is an
        # independent pure-Python scalar replay
        from osm_pbf_spark.operators.temporal import lttb_downsample

        e = load(spark, sf, "events").filter(F.col("event_id") < 900)
        s = e.select(
            (F.col("event_id") % 6).alias("series_id"),
            F.col("event_id").alias("x"),
            ((F.col("event_id") * 7919) % 1000).alias("y"),
        )
        return lttb_downsample(s, k=24)

    q["q_lttb"] = q_lttb

    def q_basins(spark, sf):  # watershed/basin labeling COMPOSED query:
        # D8 flow direction -> self-looped pointer graph -> POINTER
        # DOUBLING terminal labels (10 rounds cover 2^10 steps, O(log)
        # shuffles where naive following is O(path)); oracle follows
        # pointers with DuckDB's OWN recursion — independent at both
        # stages
        from osm_pbf_spark.operators.graph import terminal_labels
        from osm_pbf_spark.operators.tiling import _D8_OFFS, flow_direction

        k = F.col("o_orderkey")
        grid = load(spark, sf, "orders").filter(k < 1024).select(
            (k % 32).alias("x"),
            ((k - k % 32) / 32 % 32).cast("bigint").alias("y"),
            ((k * 7919) % 1000).alias("z"),
        )
        fd = flow_direction(grid)
        offs = F.array(
            *[
                F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"))
                for _, dx, dy in _D8_OFFS
            ]
        )
        o = F.element_at(offs, (F.col("flow_dir") + 1).cast("int"))
        ptr = fd.select(
            (F.col("x") * 1024 + F.col("y")).alias("node"),
            F.when(
                F.col("flow_dir") == -1, F.col("x") * 1024 + F.col("y")
            )
            .otherwise(
                (F.col("x") + o["dx"]) * 1024 + (F.col("y") + o["dy"])
            )
            .alias("next"),
        )
        return terminal_labels(ptr, rounds=10)

    q["q_basins"] = q_basins

    def q_table_diff(spark, sf):  # row-level drift report between two
        # table versions: one full-outer key join, null-safe compares,
        # output |drift|-sized; oracle = FULL OUTER JOIN replay
        from osm_pbf_spark.operators.checksum import table_diff

        k = F.col("o_orderkey")
        base = load(spark, sf, "orders").filter(k < 6000).select(
            "o_orderkey",
            F.round(F.col("o_totalprice") * 100).cast("bigint").alias("price_c"),
            "o_orderstatus",
        )
        left = base.filter(k % 13 != 0)
        right = base.filter(k % 11 != 0).withColumn(
            "price_c",
            F.when(k % 7 == 0, F.col("price_c") + 1).otherwise(F.col("price_c")),
        )
        return table_diff(left, right, ["o_orderkey"])

    q["q_table_diff"] = q_table_diff

    def q_zipf(spark, sf):  # COMPOSED corpus-health query: token counts
        # -> frequency rank -> micro-nat ln-ln coordinates -> ols_fit
        # slope (a healthy natural corpus fits slope ~ -1; synthetic or
        # template-spammed shards drift) — counts, window, and the
        # exact-integer OLS all reused from existing operators
        from osm_pbf_spark.operators.stats import ols_fit

        d = load(spark, sf, "documents")
        toks = d.select(
            F.explode(
                F.filter(F.split(F.col("text"), " "), lambda t: t != "")
            ).alias("tok")
        )
        counts = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("cnt"))
        w = Window.orderBy(F.col("cnt").desc(), F.col("tok").asc())
        pts = counts.select(
            F.round(F.log(F.row_number().over(w).cast("double")) * F.lit(1e6))
            .cast("bigint")
            .alias("lnrank_u"),
            F.round(F.log(F.col("cnt").cast("double")) * F.lit(1e6))
            .cast("bigint")
            .alias("lncnt_u"),
        )
        out = ols_fit(pts, "lnrank_u", "lncnt_u")
        return out.select(
            "n", F.round(F.col("slope"), 6).alias("zipf_slope"),
            F.round(F.col("intercept") / F.lit(1e6), 6).alias("ln_c"),
        )

    q["q_zipf"] = q_zipf

    def q_concurrency(spark, sf):  # peak concurrent sessions per key:
        # +1/-1 scatter, ONE window shuffle, earliest-peak tie-break;
        # oracle = verbatim running-sum window replay
        from osm_pbf_spark.operators.temporal import _epoch_micros, max_concurrency

        e = load(spark, sf, "events")
        iv = e.select(
            (F.col("user_id") % 10).alias("key"),
            _epoch_micros(F.col("ts")).alias("start_us"),
            (
                _epoch_micros(F.col("ts"))
                + (F.col("event_id") % 50 + 1) * F.lit(60_000_000)
            ).alias("end_us"),
        )
        return max_concurrency(iv)

    q["q_concurrency"] = q_concurrency

    def q_split(spark, sf):  # deterministic train/val/test assignment:
        # seeded md5 interval tiling of [0, 2^40) with exact integer
        # thresholds — stable under corpus growth, leakage-safe on
        # duplicate keys; oracle replays the hash + CASE chain
        from osm_pbf_spark.operators.packing import split_assign

        d = load(spark, sf, "documents").select("doc_id")
        return split_assign(d, "doc_id", {"train": 8, "val": 1, "test": 1})

    q["q_split"] = q_split

    def q_markov(spark, sf):  # first-order event-transition model per
        # user stream (session path mining): lag pairs -> exact counts
        # -> one-division probabilities; the bigram_lm shape on event
        # sequences instead of tokens
        e = load(spark, sf, "events")
        w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        pairs = (
            e.select(
                "user_id", "ts", "event_id",
                F.col("event_type").alias("a"),
                F.lead("event_type").over(w).alias("b"),
            )
            .where(F.col("b").isNotNull())
        )
        c_ab = pairs.groupBy("a", "b").agg(F.count(F.lit(1)).alias("c_ab"))
        c_a = pairs.groupBy("a").agg(F.count(F.lit(1)).alias("c_a"))
        return c_ab.join(c_a, "a").select(
            "a", "b", "c_ab", "c_a",
            (F.col("c_ab").cast("double") / F.col("c_a").cast("double"))
            .alias("p"),
        )

    q["q_markov"] = q_markov

    def q_winsorized(spark, sf):  # winsorized (clamped) mean per group:
        # exact_quantiles p05/p95 broadcast back, native clamp, exact
        # bigint sums, ONE final division — the outlier-robust KPI
        from osm_pbf_spark.operators.stats import exact_quantiles

        li = load(spark, sf, "lineitem").select(
            "l_returnflag",
            F.floor("l_extendedprice").cast("bigint").alias("v"),
        )
        qs = exact_quantiles(
            li, "v", ["l_returnflag"], qs=[(1, 20), (19, 20)],
            labels=["p05", "p95"],
        )
        clamped = li.join(F.broadcast(qs), "l_returnflag").select(
            "l_returnflag",
            F.least(F.greatest(F.col("v"), F.col("p05")), F.col("p95"))
            .alias("w"),
        )
        return clamped.groupBy("l_returnflag").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("w").alias("sum_w"),
        ).select(
            "l_returnflag", "n", "sum_w",
            (F.col("sum_w").cast("double") / F.col("n").cast("double"))
            .alias("winsorized_mean"),
        )

    q["q_winsorized"] = q_winsorized

    def q_pbf_roundtrip(spark, sf):  # decode -> DISTRIBUTED re-encode
        # (sink/pbf_writer: range layout + per-task scalar encode) ->
        # re-decode; per-kind content aggregates must equal the pure-
        # Python spec decode of the ORIGINAL file — write+read is the
        # identity on every entity column
        import tempfile

        from osm_pbf_spark.sink.pbf_writer import write_pbf_files
        from osm_pbf_spark.sources import pbf_source as src

        ents, hdr = src.read_pbf(spark, _fixture_pbf("mixed"))
        out = os.path.join(
            tempfile.gettempdir(), "osm_pbf_spark_driverfx", "roundtrip"
        )
        man = write_pbf_files(ents, out, n_files=2, header=hdr)
        ents2, _ = src.read_pbf(spark, [m["path"] for m in man])
        return ents2.groupBy("kind").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("id").alias("id_sum"),
            F.sum(
                F.coalesce(
                    F.floor(F.col("lat") * F.lit(1e7) + F.lit(0.5)).cast("bigint"),
                    F.lit(0).cast("bigint"),
                )
            ).alias("lat_e7_sum"),
            F.sum(F.size(F.coalesce(F.col("tags"), F.expr("map()"))))
            .alias("n_tags"),
            F.sum(
                F.coalesce(
                    F.aggregate(
                        F.coalesce(F.col("refs"), F.expr("array()")),
                        F.lit(0).cast("bigint"),
                        lambda a, x: a + x,
                    ),
                    F.lit(0).cast("bigint"),
                )
            ).alias("ref_sum"),
            F.sum(F.size(F.coalesce(F.col("members"), F.expr(
                "CAST(array() AS array<struct<role:string,ref:bigint,"
                "type:string>>)"
            )))).alias("n_members"),
        )

    q["q_pbf_roundtrip"] = q_pbf_roundtrip

    def q_snapshot_drift(spark, sf):  # COMPOSED data-ops query: did
        # today's append drift from yesterday's? C12 read_incremental
        # carves the two append windows out of the sink (frozen
        # manifests — no rescan), P39 ks_test compares their metric
        # distributions; window B is deliberately shifted
        import shutil
        import tempfile

        from osm_pbf_spark.operators.stats import ks_test
        from osm_pbf_spark.plans.ingest import ingest_pbf

        path = _fixture_pbf("sink")
        root = os.path.join(
            tempfile.gettempdir(), "osm_pbf_spark_driver_sink_drift"
        )
        shutil.rmtree(root, ignore_errors=True)
        sink = ingest_pbf(spark, path, root, cell_level=12, blobs_per_split=1)
        s1 = sink.current_snapshot()
        base = sink.read(spark)
        day_a = base.where("pmod(cell, 4) IN (1, 3)").withColumn(
            "doc_id", F.concat(F.lit("dayA/"), F.col("doc_id"))
        )
        sink.write_split(day_a, "day-a", lineage={"op": "append"})
        s2 = sink.commit_snapshot({"pipeline": "day-a"})
        day_b = (
            base.where("pmod(cell, 4) IN (0, 2)")
            .withColumn("doc_id", F.concat(F.lit("dayB/"), F.col("doc_id")))
            .withColumn("cell", F.col("cell") + F.lit(7))  # the drift
        )
        sink.write_split(day_b, "day-b", lineage={"op": "append"})
        s3 = sink.commit_snapshot({"pipeline": "day-b"})
        a = sink.read_incremental(
            spark, s1["snapshot_id"], s2["snapshot_id"]
        ).select(F.pmod(F.col("cell"), F.lit(64)).alias("v"), F.lit("a").alias("side"))
        b = sink.read_incremental(
            spark, s2["snapshot_id"], s3["snapshot_id"]
        ).select(F.pmod(F.col("cell"), F.lit(64)).alias("v"), F.lit("b").alias("side"))
        return ks_test(a.unionByName(b), "v", "side")

    q["q_snapshot_drift"] = q_snapshot_drift

    def q_assemble_spans(spark, sf):  # CONSTRUCT the input_hint table:
        # flat (doc, seq, kind, text, media_ref) pieces -> interleaved
        # span arrays with spec offsets, one Exchange; returned
        # exploded flat so the oracle is a verbatim window replay
        from osm_pbf_spark.operators.docrender import assemble_spans

        e = load(spark, sf, "events").filter(F.col("event_id") < 2000)
        is_media = F.col("event_id") % 3 == 0
        pieces = e.select(
            (F.col("event_id") % 40).alias("doc_id"),
            F.col("event_id").alias("seq"),
            F.when(is_media, F.lit("media")).otherwise(F.lit("text"))
            .alias("kind"),
            F.when(
                is_media, F.lit("")
            ).otherwise(
                F.concat(F.col("event_type"), F.lit("-"),
                         (F.col("event_id") % 7).cast("string"))
            ).alias("text"),
            F.when(
                is_media, F.concat(F.lit("m"), F.col("event_id").cast("string"))
            ).alias("media_ref"),
        )
        docs = assemble_spans(pieces)
        return docs.select(
            "doc_id", F.posexplode("spans").alias("idx", "s")
        ).select(
            "doc_id", "idx", F.col("s.kind").alias("kind"),
            F.col("s.text").alias("text"),
            F.col("s.media_ref").alias("media_ref"),
            F.col("s.offset").alias("offset"),
        )

    q["q_assemble_spans"] = q_assemble_spans

    def q_hilbert_range(spark, sf):  # Hilbert bbox range scan: the
        # SAME rectangle as q_zrange decomposes into 102 Hilbert
        # ranges vs 247 Z ranges (no seam jumps) — the locality win
        # that justifies the fancier curve; oracle again filters by
        # quantized coords, never touching the curve
        from osm_pbf_spark.functions.hilbert import hilbert_key_col, hilbert_ranges
        from osm_pbf_spark.functions.zorder import zrange_join

        pts = customer_points(spark, sf)
        keyed = hilbert_key_col(
            pts, F.col("lon"), F.col("lat"), (-180.0, -90.0), (180.0, 90.0),
            bits=8,
        )
        ranges = hilbert_ranges(37, 133, 60, 201, bits=8, max_ranges=2048)
        # zrange_join, NOT zrange_predicate: a WHERE pushes through the
        # 8-level Hilbert projection chain and predicate substitution
        # explodes exponentially (recorded lesson in zorder.py)
        return zrange_join(keyed, F.col("hkey"), ranges).select(
            "doc_id", "hkey"
        )

    q["q_hilbert_range"] = q_hilbert_range

    def q_frequent_grouped(spark, sf):  # per-group exact heavy hitters
        # (top tokens per language): MG within group segments per Arrow
        # batch + exact recount; oracle = plain per-group GROUP BY
        # HAVING — fully independent
        from osm_pbf_spark.operators.sketch import frequent_items_grouped

        d = load(spark, sf, "documents")
        toks = d.select(
            "lang",
            F.explode(
                F.filter(F.split(F.col("text"), " "), lambda t: t != "")
            ).alias("tok"),
        )
        return frequent_items_grouped(toks, "lang", "tok", k=128, min_count=120)

    q["q_frequent_grouped"] = q_frequent_grouped

    def q_slope_aspect(spark, sf):  # Horn 3x3 slope/aspect terrain raster:
        # scatter + coefficient-weighted sums + count==8 interior guard;
        # integer gradient numerators, D8 steepest-descent aspect.
        # Oracle = 8-coefficient VALUES join + HAVING count = 8.
        from osm_pbf_spark.operators.tiling import slope_aspect

        k = F.col("o_orderkey")
        grid = load(spark, sf, "orders").filter(k < 1024).select(
            (k % 32).alias("x"),
            ((k - k % 32) / 32 % 32).cast("bigint").alias("y"),
            ((k * 7919) % 1000).alias("z"),
        )
        return slope_aspect(grid)

    q["q_slope_aspect"] = q_slope_aspect

    def q_dedup_canonical(spark, sf):  # survivor set after transitive
        # near-dup closure: one row per group, min-id canonical + size
        from osm_pbf_spark.operators.graph import dedup_canonical

        d = load(spark, sf, "documents").filter(F.col("doc_id") < 200)
        recrawl = d.withColumn("doc_id", F.col("doc_id") + 1000000)
        docs = d.unionByName(recrawl)
        pairs = minhash_lsh_pairs(docs, threshold=0.5)
        return dedup_canonical(near_dup_groups(docs, pairs))

    q["q_dedup_canonical"] = q_dedup_canonical

    def q_dsir(spark, sf):  # DSIR hashed-ngram importance weights
        # (target = the doc_id%7 slice, raw = doc_id<400): micro-nat
        # quantized log-ratios, bucket-bounded count tables. Oracle =
        # full DuckDB replay (md5 nibble-shift bucket + same lr chain).
        from osm_pbf_spark.operators.packing import dsir_weights

        d = load(spark, sf, "documents")
        target = d.filter((F.col("doc_id") % 7) == 0)
        raw = d.filter(F.col("doc_id") < 400)
        return dsir_weights(raw, target, n_buckets=512)

    q["q_dsir"] = q_dsir

    def q_mmr(spark, sf):  # MMR diversified top-k reranking per query
        # group over int64-quantized embeddings; all-integer score spec
        # (micro-cosine penalty), ties to smallest doc_id. Oracle =
        # mmr_topk_py pure-Python scalar replay (map_match convention).
        from osm_pbf_spark.operators.ann import mmr_topk

        e = load(spark, sf, "embeddings").filter(F.col("vec_id") < 200)
        cands = e.select(
            (F.col("vec_id") % 8).alias("q_id"),
            F.col("vec_id").alias("doc_id"),
            ((F.col("vec_id") * 37) % 1000 + 500).alias("rel"),
            F.transform(
                F.col("embedding"),
                lambda x: F.floor(
                    x.cast("double") * F.lit(256.0) + F.lit(0.5)
                ).cast("bigint"),
            ).alias("vec"),
        )
        return mmr_topk(cands, k=5, lam_num=7, lam_den=10)

    q["q_mmr"] = q_mmr

    def q_link_predict(spark, sf):  # common-neighbor / Jaccard link
        # prediction (missing-edge recommendation) over the md5 graph;
        # all-integer except the final division. Oracle = NOT EXISTS
        # neighbor-pair formulation.
        from osm_pbf_spark.operators.graph import link_predict

        return link_predict(_md5_graph(spark, sf), min_common=2)

    q["q_link_predict"] = q_link_predict

    def q_ewma(spark, sf):  # per-key integer-recurrence EWMA smoothing
        # (alpha=3/10, scale 1e6): the sequential-per-group applyInPandas
        # class. Oracle = DuckDB WITH RECURSIVE evaluating the identical
        # recurrence — the engine's own recursion, independent plumbing.
        from osm_pbf_spark.operators.temporal import ewma

        e = load(spark, sf, "events").filter(
            (F.col("event_id") < 2000) & (F.col("value") >= 0)
        )
        s = e.select(
            (F.col("user_id") % 16).alias("key"),
            F.col("event_id").alias("seq"),
            F.floor(F.col("value") * F.lit(100.0) + F.lit(0.5))
            .cast("bigint")
            .alias("val"),
        )
        return ewma(s, alpha_num=3, alpha_den=10)

    q["q_ewma"] = q_ewma

    def q_pii_scan(spark, sf):  # syntactic PII scan+mask (email/phone/
        # IPv4) over synthesized customer contact text + plain document
        # text; pure native regexp projection, zero shuffle. Oracle runs
        # the same engine-portable patterns on DuckDB's RE2 — two regex
        # ENGINES must agree (url_normalize posture).
        from osm_pbf_spark.operators.text import pii_scan

        c = load(spark, sf, "customer")
        contact = c.select(
            F.col("c_custkey").alias("doc_id"),
            F.expr(
                "concat(c_name, ' mail u', CAST(c_custkey AS STRING), '@ex',"
                " CAST(c_custkey % 7 AS STRING), '.com',"
                " CASE WHEN c_custkey % 3 = 0 THEN ' call none'"
                " ELSE concat(' call +1-555-',"
                "   lpad(CAST(c_custkey % 10000 AS STRING), 4, '0')) END,"
                " ' ip 10.', CAST(c_custkey % 256 AS STRING), '.0.',"
                " CAST(c_custkey % 100 AS STRING), ' ok')"
            ).alias("text"),
        )
        plain = (
            load(spark, sf, "documents")
            .filter(F.col("doc_id") < 300)
            .select((F.col("doc_id") + 1000000).alias("doc_id"), "text")
        )
        return pii_scan(contact.unionByName(plain))

    q["q_pii_scan"] = q_pii_scan

    # ---- Structured Streaming surface (availableNow drains — the
    # batch-parity discipline makes these gate-comparable) ----

    def q_stream_window(spark, sf):  # streaming windowed agg: 15-min
        # event-time tumbling counts + exact int64 value sums, complete
        # mode == batch groupBy(window) bit-for-bit
        from osm_pbf_spark.streaming import (
            run_available_now,
            stream_parquet,
            windowed_counts,
        )

        from osm_pbf_spark.operators.temporal import _epoch_micros

        sdf = stream_parquet(spark, f"{sf}/events.parquet")
        out = run_available_now(
            windowed_counts(sdf, "ts", ["event_type"], "15 minutes", val_col="value")
        )
        return out.select(
            _epoch_micros(F.col("window_start")).alias("window_start_us"),
            _epoch_micros(F.col("window_end")).alias("window_end_us"),
            "event_type",
            "n",
            "sum_q",
        )

    q["q_stream_window"] = q_stream_window

    def q_stream_tiles(spark, sf):  # streaming spatial rollup: hourly
        # per-grid-cell counts over event-derived points (the live-tile
        # dashboard shape: window x equirect cell)
        from osm_pbf_spark.streaming import (
            run_available_now,
            stream_parquet,
            windowed_counts,
        )

        sdf = stream_parquet(spark, f"{sf}/events.parquet")
        pts = sdf.select(
            "ts",
            F.floor(
                (F.col("event_id") * 73 % 3600).cast("double") / F.lit(10.0)
                - F.lit(180.0)
            )
            .cast("bigint")
            .alias("cell_x"),
            F.floor(
                (F.col("event_id") * 37 % 1700).cast("double") / F.lit(10.0)
                - F.lit(85.0)
            )
            .cast("bigint")
            .alias("cell_y"),
        )
        from osm_pbf_spark.operators.temporal import _epoch_micros

        out = run_available_now(
            windowed_counts(pts, "ts", ["cell_x", "cell_y"], "1 hour")
        )
        return out.select(
            _epoch_micros(F.col("window_start")).alias("window_start_us"),
            _epoch_micros(F.col("window_end")).alias("window_end_us"),
            "cell_x",
            "cell_y",
            "n",
        )

    q["q_stream_tiles"] = q_stream_tiles

    def q_stream_dedup(spark, sf):  # stateful streaming first-seen
        # dedup (incremental crawl shape); single-batch emission ==
        # batch GROUP BY fp -> (min id, count)
        from osm_pbf_spark.streaming import (
            run_available_now,
            stream_dedup,
            stream_parquet,
        )

        sdf = stream_parquet(spark, f"{sf}/documents.parquet")
        a = sdf.select(F.md5("text").alias("fp"), F.col("doc_id"))
        b = sdf.select(
            F.md5("text").alias("fp"), (F.col("doc_id") + 1000000).alias("doc_id")
        )
        return run_available_now(
            stream_dedup(a.unionByName(b), "fp", "doc_id"), output_mode="append"
        )

    q["q_stream_dedup"] = q_stream_dedup

    def q_random_walks(spark, sf):  # deterministic DeepWalk corpus:
        # md5-seeded sorted-neighbor-index walks, long form. Oracle =
        # DuckDB WITH RECURSIVE re-walking the identical spec with its
        # own recursion + list indexing.
        from osm_pbf_spark.operators.graph import random_walks

        return random_walks(_md5_graph(spark, sf), n_steps=4, walks_per_node=2)

    q["q_random_walks"] = q_random_walks

    def q_walk_pairs(spark, sf):  # skip-gram (center, context) pairs
        # within a 2-step window over the same walks — the embedding
        # trainer's co-occurrence table
        from osm_pbf_spark.operators.graph import random_walks, walk_pairs

        return walk_pairs(
            random_walks(_md5_graph(spark, sf), n_steps=4, walks_per_node=2),
            window=2,
        )

    q["q_walk_pairs"] = q_walk_pairs

    def q_rrf(spark, sf):  # reciprocal-rank fusion of two retrieval
        # systems (lexical-ish + hash-scored) under the exact-integer
        # contribution spec; verbatim window+DIV SQL oracle
        from osm_pbf_spark.operators.ann import rrf_fuse

        o = load(spark, sf, "orders").filter(F.col("o_orderkey") < 4000)
        a = o.select(
            F.lit("a").alias("system"),
            (F.col("o_orderkey") % 16).alias("q_id"),
            F.col("o_orderkey").alias("doc_id"),
            F.col("o_totalprice").alias("score"),
        )
        b = o.filter(F.col("o_orderkey") % 3 != 0).select(
            F.lit("b").alias("system"),
            (F.col("o_orderkey") % 16).alias("q_id"),
            F.col("o_orderkey").alias("doc_id"),
            ((F.col("o_orderkey") * 7919) % 1000).cast("double").alias("score"),
        )
        return rrf_fuse(a.unionByName(b), k=60, top_k=10)

    q["q_rrf"] = q_rrf

    def q_acf(spark, sf):  # per-type autocorrelation at lags 1..5 over
        # the exact-integer pearson spec; DuckDB re-derives the lagged
        # pairs with an independent self-join (vs the engine's
        # single-Window lag plan)
        from osm_pbf_spark.operators.temporal import acf

        ev = load(spark, sf, "events").select(
            F.col("event_type").alias("key"),
            F.col("ts").alias("seq"),
            F.col("event_id").alias("tb"),
            F.col("value").alias("val"),
        )
        return acf(ev, max_lag=5, tiebreak_col="tb", scale=100)

    q["q_acf"] = q_acf

    def q_voronoi(spark, sf):  # nearest-site assignment (Voronoi
        # labeling): broadcast-brute argmin over the stations dim,
        # min-struct tie-break; oracle = row_number argmin cross join
        from osm_pbf_spark.operators.distance import voronoi_assign

        return voronoi_assign(
            customer_points(spark, sf), supplier_stations(spark, sf)
        )

    q["q_voronoi"] = q_voronoi

    def q_feature_hash(spark, sf):  # hashing-trick vectorizer: signed
        # md5 feature buckets, exact int64 weights; verbatim SQL replay
        from osm_pbf_spark.operators.text import feature_hash

        docs = load(spark, sf, "documents").filter(F.col("doc_id") < 200)
        return feature_hash(docs, dim=256)

    q["q_feature_hash"] = q_feature_hash

    def q_kde(spark, sf):  # heatmap raster: separable binomial kernel
        # (exact integer weights C(4, 2+d) ⊗ C(4, 2+d)) over cell counts
        from osm_pbf_spark.operators.tiling import kde_grid

        return kde_grid(customer_points(spark, sf), level=7, k=2)

    q["q_kde"] = q_kde

    def q_ccf(spark, sf):  # cross-correlation (lead/lag detection)
        # between the value series and a derived second signal per
        # type; DuckDB re-derives every lagged pair with a self-join
        from osm_pbf_spark.operators.temporal import ccf

        ev = load(spark, sf, "events").select(
            F.col("event_type").alias("key"),
            F.col("ts").alias("seq"),
            F.col("event_id").alias("tb"),
            F.col("value").alias("x"),
            F.pmod(F.col("event_id") * 37, F.lit(101)).cast("double").alias("y"),
        )
        return ccf(ev, max_lag=3, tiebreak_col="tb", scale=100)

    q["q_ccf"] = q_ccf

    def q_roc_auc(spark, sf):  # exact rank-sum ROC-AUC per event type
        # (doubled average ranks -> exact int64 u2, ONE final division)
        from osm_pbf_spark.operators.stats import roc_auc

        ev = load(spark, sf, "events").select(
            "event_type",
            (F.pmod(F.col("event_id"), F.lit(3)) == 0).cast("int").alias("label"),
            F.floor(F.col("value") * F.lit(5.0)).cast("bigint").alias("score"),
        )
        return roc_auc(ev, "label", "score", group_cols=["event_type"])

    q["q_roc_auc"] = q_roc_auc

    def q_rake(spark, sf):  # RAKE keyword extraction: stopword-free
        # phrase runs scored by corpus-global deg/freq (quantized DIV)
        from osm_pbf_spark.operators.text import rake_keywords

        docs = load(spark, sf, "documents").filter(F.col("doc_id") < 300)
        return rake_keywords(docs, top_k=3)

    q["q_rake"] = q_rake

    def q_seasonal(spark, sf):  # classical additive decomposition,
        # period 7; DuckDB re-derives the centered window with an
        # offset self-join instead of the engine's single Window node
        from osm_pbf_spark.operators.temporal import seasonal_decompose

        ev = load(spark, sf, "events").select(
            F.col("event_type").alias("key"),
            F.col("ts").alias("seq"),
            F.col("event_id").alias("tb"),
            F.col("value").alias("val"),
        )
        return seasonal_decompose(ev, period=7, tiebreak_col="tb", scale=100)

    q["q_seasonal"] = q_seasonal

    def q_ripley(spark, sf):  # Ripley's K at dyadic radii over the
        # synthetic 120x360-degree extent; oracle = brute all-pairs
        from osm_pbf_spark.operators.spatialstats import ripley_k

        pts = customer_points(spark, sf).where(F.col("doc_id") < 1000)
        return ripley_k(pts, radii=[0.5, 1.0, 2.0], area=43200.0)

    q["q_ripley"] = q_ripley

    def q_ngram_spans(spark, sf):  # exact substring-level dedup (Lee
        # et al. 2022): repeated 8-token windows -> non-first
        # occurrences merged to maximal spans; the unioned doc copies
        # guarantee corpus-level repetition to detect
        from osm_pbf_spark.operators.dedup import repeated_ngram_spans

        d = (
            load(spark, sf, "documents")
            .filter(F.col("doc_id") < 400)
            .select("doc_id", "text")
        )
        dup = d.select((F.col("doc_id") + F.lit(100000)).alias("doc_id"), "text")
        return repeated_ngram_spans(d.unionAll(dup), k=8)

    q["q_ngram_spans"] = q_ngram_spans

    def q_isotonic(spark, sf):  # PAVA calibration curve per type;
        # oracle = independent MINIMAX-formula replay with Fractions
        from osm_pbf_spark.operators.stats import isotonic_fit

        ev = load(spark, sf, "events").select(
            "event_type",
            F.floor(F.col("value") * F.lit(2.0)).cast("bigint").alias("x"),
            (F.pmod(F.col("event_id"), F.lit(3)) == 0).cast("int").alias("label"),
        )
        return isotonic_fit(ev, "x", "label", group_cols=["event_type"])

    q["q_isotonic"] = q_isotonic

    def q_fs_link(spark, sf):  # Fellegi-Sunter record linkage over
        # nation-blocked customer pairs; weights are int literals from
        # fs_weights (oracle imports the same helper)
        from osm_pbf_spark.operators.fuzzy import fs_link

        cust = load(spark, sf, "customer").select(
            F.col("c_custkey").alias("cid"),
            "c_nationkey",
            F.col("c_mktsegment").alias("seg"),
            (F.floor(F.col("c_acctbal")).cast("bigint") % F.lit(100)).alias("ab"),
        )
        left = cust.where(F.col("cid") < 500)
        right = cust.where((F.col("cid") >= 500) & (F.col("cid") < 1000))
        return fs_link(
            left.withColumnRenamed("cid", "id_a"),
            right.withColumnRenamed("cid", "id_b"),
            block_on=["c_nationkey"],
            m_u={"seg": (0.9, 0.2), "ab": (0.95, 0.05)},
        )

    q["q_fs_link"] = q_fs_link

    def q_sniff(spark, sf):  # magic-byte media triage over synthetic
        # binary payloads (type chosen by doc_id % 8; the sniffer must
        # invert the synthesis — the oracle derives types from doc_id)
        from osm_pbf_spark.operators.multimodal import sniff_media_type

        magics = [
            "89504E470D0A1A0A0011",  # png
            "FFD8FFE000104A464946",  # jpeg
            "4749463839610A0B0C0D",  # gif
            "255044462D312E340A25",  # pdf
            "52494646AABBCCDD57415645",  # wav (RIFF....WAVE)
            "0000001866747970697336",  # mp4 (....ftyp...)
            "1F8B08000000000000FF",  # gzip
            "00112233445566778899",  # unknown
        ]
        sel = None
        for i, m in enumerate(magics):
            c = F.pmod(F.col("doc_id"), F.lit(8)) == i
            sel = F.when(c, F.lit(m)) if sel is None else sel.when(c, F.lit(m))
        docs = load(spark, sf, "documents").select(
            "doc_id", F.to_binary(sel, F.lit("hex")).alias("payload")
        )
        return sniff_media_type(docs).select("doc_id", "media_type")

    q["q_sniff"] = q_sniff

    def q_concentration(spark, sf):  # Gini + HHI of order value per
        # priority class (tie-invariant exact rank sums)
        from osm_pbf_spark.operators.stats import concentration

        o = load(spark, sf, "orders").select(
            "o_orderpriority",
            F.floor(F.col("o_totalprice")).cast("bigint").alias("v"),
        )
        return concentration(o, "v", group_cols=["o_orderpriority"])

    q["q_concentration"] = q_concentration

    def q_modularity(spark, sf):  # Newman modularity of a node%5
        # labeling over the md5 graph — exact q_num, one division
        from osm_pbf_spark.operators.graph import modularity

        e = _md5_graph(spark, sf)
        nodes = (
            e.select(F.col("src").alias("node"))
            .unionAll(e.select(F.col("dst").alias("node")))
            .distinct()
        )
        labels = nodes.select("node", F.pmod(F.col("node"), F.lit(5)).alias("label"))
        return modularity(e, labels)

    q["q_modularity"] = q_modularity

    def q_benford(spark, sf):  # Benford leading-digit conformance of
        # order totals: 9-bounded agg + fixed 9-term chi2 chain
        from osm_pbf_spark.operators.dq import benford_deviation

        o = load(spark, sf, "orders").select(
            F.floor(F.col("o_totalprice")).cast("bigint").alias("v")
        )
        return benford_deviation(o, "v")

    q["q_benford"] = q_benford

    def q_cluster_hulls(spark, sf):  # dbscan -> per-cluster convex
        # hull composition; oracle replays BOTH stages independently
        # (brute-force Python DBSCAN + Jarvis-march hull)
        from osm_pbf_spark.operators.clustering import cluster_hulls

        pts = customer_points(spark, sf).where(F.col("doc_id") < 1200)
        return cluster_hulls(
            pts, eps=8.0, min_pts=5, id_col="doc_id", x_col="lat", y_col="lon"
        )

    q["q_cluster_hulls"] = q_cluster_hulls

    def q_containment(spark, sf):  # asymmetric set-containment join
        # (quote/subset detection): synthesized 15-token prefix docs
        # must be found inside their source docs; brute SQL oracle
        from osm_pbf_spark.operators.dedup import containment_join

        d = (
            load(spark, sf, "documents")
            .filter(F.col("doc_id") < 100)
            .select("doc_id", "text")
        )
        short = d.select(
            (F.col("doc_id") + F.lit(200000)).alias("doc_id"),
            F.array_join(
                F.slice(F.split(F.col("text"), " "), 1, 15), " "
            ).alias("text"),
        )
        return containment_join(d.unionAll(short), threshold=(10, 10))

    q["q_containment"] = q_containment

    def q_kanon(spark, sf):  # k-anonymity audit: (user, type) classes
        # smaller than k are re-identifiable
        from osm_pbf_spark.operators.dq import k_anonymity

        ev = load(spark, sf, "events").select("user_id", "event_type")
        return k_anonymity(ev, ["user_id", "event_type"], k=5)

    q["q_kanon"] = q_kanon

    def q_chaikin(spark, sf):  # two corner-cutting passes over exact
        # integer polylines (units of 4^2); scalar-replay VALUES oracle
        from osm_pbf_spark.operators.simplify import chaikin_smooth

        pts = customer_points(spark, sf).where(F.col("doc_id") < 2000)
        verts = pts.select(
            F.pmod(F.col("doc_id"), F.lit(20)).alias("line_id"),
            F.col("doc_id").alias("pos"),
            F.floor(F.col("lat") * F.lit(100.0) + F.lit(0.5)).cast("bigint").alias("ix"),
            F.floor(F.col("lon") * F.lit(100.0) + F.lit(0.5)).cast("bigint").alias("iy"),
        )
        return chaikin_smooth(verts, iters=2)

    q["q_chaikin"] = q_chaikin

    def q_ohlc(spark, sf):  # OHLC bars per type: one hash agg,
        # min/max-struct open/close; oracle = row_number argmin/argmax
        from osm_pbf_spark.operators.temporal import ohlc_resample

        ev = load(spark, sf, "events").select(
            F.col("event_type").alias("key"),
            "ts",
            F.col("event_id").alias("tb"),
            F.col("value").alias("val"),
        )
        from osm_pbf_spark.operators.temporal import _epoch_micros

        o = ohlc_resample(ev, "6 hours", tiebreak_col="tb", scale=100)
        return o.select(
            "key",
            _epoch_micros(F.col("bucket_start")).alias("bucket_start_us"),
            "open",
            "high",
            "low",
            "close",
            "n",
            "sum_q",
        )

    q["q_ohlc"] = q_ohlc

    def q_raster_coarsen(spark, sf):  # raster pyramid: 1-degree cell
        # counts coarsened 4x per axis by bit shift (negative-safe)
        from osm_pbf_spark.operators.spatialstats import grid_cell_counts
        from osm_pbf_spark.operators.tiling import raster_coarsen

        cells = grid_cell_counts(customer_points(spark, sf), 1.0)
        return raster_coarsen(cells, shift=2, x_col="cx", y_col="cy", val_col="x")

    q["q_raster_coarsen"] = q_raster_coarsen

    def q_mix(spark, sf):  # deterministic weighted source interleave
        # (stride scheduling, exact integer mix_t)
        from osm_pbf_spark.operators.packing import mix_sources

        d = load(spark, sf, "documents").select("doc_id", "lang")
        return mix_sources(
            d, "lang", "doc_id",
            weights={"en": 5, "de": 1, "zh": 2, "fr": 1, "es": 3},
        )

    q["q_mix"] = q_mix

    def q_kaplan_meier(spark, sf):  # KM survival per type: duration
        # floor(value), 25% censored; ppm-quantized survival
        from osm_pbf_spark.operators.temporal import kaplan_meier

        ev = load(spark, sf, "events").select(
            "event_type",
            F.floor(F.col("value")).cast("bigint").alias("dur"),
            (F.pmod(F.col("event_id"), F.lit(4)) != 0).cast("int").alias("ev"),
        )
        return kaplan_meier(ev, "dur", "ev", group_cols=["event_type"])

    q["q_kaplan_meier"] = q_kaplan_meier

    def q_prop_test(spark, sf):  # two-proportion z: click vs view
        # conversion (success = event_id % 3 == 0), exact chain
        from osm_pbf_spark.operators.stats import prop_test

        ev = load(spark, sf, "events").where(
            F.col("event_type").isin("click", "view")
        ).select(
            "event_type",
            (F.pmod(F.col("event_id"), F.lit(3)) == 0).cast("int").alias("succ"),
        )
        return prop_test(ev, "event_type", "succ", sides=("click", "view"))

    q["q_prop_test"] = q_prop_test

    def q_sample_points(spark, sf):  # deterministic seeded points in
        # polygons (bbox md5 draws + even-odd keep, first k by draw
        # order); scalar-replay VALUES oracle with an independent
        # scalar ray-cast
        from osm_pbf_spark.operators.spatial_join import (
            sample_points_in_polygons,
        )

        import numpy as _np

        donut = Polygon(
            "donut",
            [
                _np.array(
                    [[50.0, 50.0], [50.0, 70.0], [70.0, 70.0], [70.0, 50.0]]
                ),
                _np.array(
                    [[58.0, 58.0], [58.0, 62.0], [62.0, 62.0], [62.0, 58.0]]
                ),
            ],
        )
        rows = []
        for p in (RECT, TRI, donut):
            for ri, ring in enumerate(p.rings):
                rows.append(
                    (
                        p.poly_id,
                        ri,
                        [
                            {"lat": float(a), "lon": float(b)}
                            for a, b in ring.tolist()
                        ],
                    )
                )
        rings = spark.createDataFrame(
            rows,
            "poly_id string, ring_idx int, "
            "pts array<struct<lat:double,lon:double>>",
        )
        return sample_points_in_polygons(rings, k=25, seed=7)

    q["q_sample_points"] = q_sample_points

    def q_logreg(spark, sf):  # deterministic distributed logistic
        # regression (5 GD iterations, exact int gradients); oracle =
        # full scalar replay of the identical spec
        from osm_pbf_spark.operators.stats import logreg_train

        ev = load(spark, sf, "events").select(
            F.lit(1).alias("one"),
            F.pmod(F.floor(F.col("value")).cast("bigint"), F.lit(8)).alias("xv"),
            F.pmod(F.col("user_id"), F.lit(5)).alias("xu"),
            (F.pmod(F.col("event_id"), F.lit(3)) == 0).cast("int").alias("y"),
        )
        return logreg_train(ev, ["one", "xv", "xu"], "y", iters=5, lr=(1, 50))

    q["q_logreg"] = q_logreg

    def q_ldiv(spark, sf):  # l-diversity audit: (user, type) classes
        # whose value distribution is near-homogeneous
        from osm_pbf_spark.operators.dq import l_diversity

        ev = load(spark, sf, "events").select(
            "user_id", "event_type",
            F.floor(F.col("value")).cast("bigint").alias("sv"),
        )
        return l_diversity(ev, ["user_id", "event_type"], "sv", l=10)

    q["q_ldiv"] = q_ldiv

    def q_theil_sen(spark, sf):  # robust pairwise-median slope per
        # type (exact reduced fraction); brute all-pairs SQL oracle
        from osm_pbf_spark.operators.stats import theil_sen

        ev = load(spark, sf, "events").select(
            "event_type",
            F.floor(F.col("value")).cast("bigint").alias("x"),
            (
                F.pmod(F.col("event_id"), F.lit(23))
                + F.lit(2) * F.floor(F.col("value")).cast("bigint")
            ).alias("y"),
        )
        return theil_sen(ev, "x", "y", group_cols=["event_type"])

    q["q_theil_sen"] = q_theil_sen

    def q_line_dissolve(spark, sf):  # merge degree-2 chains of a
        # synthetic road network (long chain + junction spurs + a
        # pure ring); oracle = recursive-CTE closure labeling
        from osm_pbf_spark.operators.graph import line_dissolve

        chain = spark.range(199).select(
            F.col("id").alias("edge_id"),
            F.col("id").alias("a"),
            (F.col("id") + 1).alias("b"),
        )
        spurs = spark.range(8).select(
            (F.lit(500) + F.col("id") * 25).alias("edge_id"),
            (F.col("id") * 25).alias("a"),
            (F.lit(3000) + F.col("id") * 25).alias("b"),
        )
        ring = spark.range(10).select(
            (F.lit(800) + F.col("id")).alias("edge_id"),
            (F.lit(2000) + F.col("id")).alias("a"),
            (F.lit(2000) + F.pmod(F.col("id") + 1, F.lit(10))).alias("b"),
        )
        return line_dissolve(
            chain.unionAll(spurs).unionAll(ring), cc_rounds=6
        )

    q["q_line_dissolve"] = q_line_dissolve

    def q_kappa(spark, sf):  # Cohen's kappa: event_type vs a 70%-
        # agreeing synthetic second rater; cleared-denominator exact
        from osm_pbf_spark.operators.stats import cohens_kappa

        ev = load(spark, sf, "events").select(
            F.col("event_type").alias("ra"),
            F.when(
                F.pmod(F.col("event_id"), F.lit(10)) < 7, F.col("event_type")
            )
            .otherwise(
                F.concat(F.lit("x"), F.pmod(F.col("event_id"), F.lit(3)))
            )
            .alias("rb"),
        )
        return cohens_kappa(ev, "ra", "rb")

    q["q_kappa"] = q_kappa

    def q_areal(spark, sf):  # areal interpolation between two
        # incompatible zone systems over the exact dyadic raster
        import numpy as _np

        from osm_pbf_spark.operators.overlay import areal_interpolate

        def rect(pid, la0, la1, lo0, lo1):
            return Polygon(
                pid,
                [_np.array([[la0, lo0], [la0, lo1], [la1, lo1], [la1, lo0]])],
            )

        src = [rect("s1", 0.0, 10.0, 0.0, 10.0), rect("s2", 0.0, 10.0, 10.0, 20.0)]
        tgt = [
            rect("ta", 0.0, 10.0, 5.0, 15.0),
            rect("tb", 0.0, 5.0, 0.0, 5.0),
            rect("tc", 40.0, 45.0, 40.0, 45.0),
        ]
        values = spark.createDataFrame(
            [("s1", 1000), ("s2", 500)], "poly_id string, value long"
        )
        return areal_interpolate(spark, src, tgt, values, res=0.5)

    q["q_areal"] = q_areal

    def q_stream_session(spark, sf):  # streaming SESSION windows via
        # F.session_window state-store merging; complete-mode drain ==
        # batch gaps-and-islands sessionization (strictly-greater gap
        # starts a new session; end = last ts + gap)
        from osm_pbf_spark.streaming import run_available_now, stream_parquet
        from osm_pbf_spark.streaming import stream_sessionize

        from osm_pbf_spark.operators.temporal import _epoch_micros

        sdf = stream_parquet(spark, f"{sf}/events.parquet")
        out = run_available_now(
            stream_sessionize(sdf, "ts", ["user_id"], "6 hours")
        )
        return out.select(
            _epoch_micros(F.col("session_start")).alias("session_start_us"),
            _epoch_micros(F.col("session_end")).alias("session_end_us"),
            "user_id",
            "n_events",
        )

    q["q_stream_session"] = q_stream_session

    def q_stream_join(spark, sf):  # event-time stream-stream inner
        # join (click -> purchase attribution within 6 hours); an
        # availableNow drain over closed input == the plain batch join
        from osm_pbf_spark.streaming import (
            run_available_now,
            stream_parquet,
            stream_stream_join,
        )

        # watermarks need instant TIMESTAMPs; parquet loads NTZ, so the
        # NTZ-wall-time-is-UTC convention (_epoch_micros) converts in,
        # and the output carries tz-independent epoch micros
        inst = lambda c: F.to_utc_timestamp(F.col(c), "UTC")  # noqa: E731
        clicks = stream_parquet(spark, f"{sf}/events.parquet").filter(
            F.col("event_type") == "click"
        ).select("user_id", inst("ts").alias("click_ts"),
                 F.col("event_id").alias("click_id"))
        buys = stream_parquet(spark, f"{sf}/events.parquet").filter(
            F.col("event_type") == "purchase"
        ).select("user_id", inst("ts").alias("buy_ts"),
                 F.col("event_id").alias("buy_id"),
                 F.col("value").alias("buy_value"))
        j = stream_stream_join(
            clicks, buys, on=["user_id"], left_ts="click_ts",
            right_ts="buy_ts", upper="6 hours", watermark="12 hours",
        )
        out = run_available_now(j, output_mode="append")
        return out.select(
            "user_id",
            F.unix_micros("click_ts").alias("click_us"),
            F.unix_micros("buy_ts").alias("buy_us"),
            "click_id", "buy_id",
            F.floor(F.col("buy_value") * F.lit(100.0) + F.lit(0.5))
            .cast("bigint")
            .alias("buy_q"),
        )

    q["q_stream_join"] = q_stream_join

    def q_stream_ingest(spark, sf):  # streaming -> sink lifecycle:
        # foreachBatch micro-batches land as atomic idempotent split
        # commits in the Iceberg-shaped sink, then the COMMITTED table
        # is read back and aggregated. Oracle = plain GROUP BY over the
        # source (exactly-once: every row lands exactly once).
        import shutil
        import tempfile

        from osm_pbf_spark.sink.iceberg_like import IcebergLikeSink
        from osm_pbf_spark.streaming import stream_ingest, stream_parquet

        root = os.path.join(tempfile.gettempdir(), "osm_pbf_spark_driver_stream")
        shutil.rmtree(root, ignore_errors=True)
        sink = IcebergLikeSink(os.path.join(root, "t"), stats_col="doc_id")
        sdf = stream_parquet(spark, f"{sf}/documents.parquet")
        q_ = stream_ingest(sdf, sink, os.path.join(root, "ckpt"))
        q_.awaitTermination()
        docs = sink.read(spark)
        return docs.groupBy("lang").agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").alias("first_doc"),
            F.sum("n_chars").alias("chars_total"),
        )

    q["q_stream_ingest"] = q_stream_ingest

    def q_stream_pip(spark, sf):  # STREAMING point-in-polygon: the
        # batch pip_join plan applied unchanged to a streaming point
        # source (broadcast cover stream-static join + full-cell JVM
        # bypass + stateless mapInPandas refine — no point-side
        # actions, so the same operator serves both). Oracle = the
        # batch q_pip_join half-plane oracle verbatim.
        from osm_pbf_spark.operators.spatial_join import pip_join
        from osm_pbf_spark.sources.tables import derived_lat, derived_lon
        from osm_pbf_spark.streaming import run_available_now, stream_parquet

        sdf = stream_parquet(spark, f"{sf}/customer.parquet")
        pts = sdf.select(
            F.col("c_custkey").alias("doc_id"),
            derived_lat("c_custkey").alias("lat"),
            derived_lon("c_custkey").alias("lon"),
        )
        joined = pip_join(spark, pts, PIP_POLYGONS, level=8).select(
            "doc_id", "poly_id"
        )
        return run_available_now(joined, output_mode="append")

    q["q_stream_pip"] = q_stream_pip

    def q_rasterize(spark, sf):  # vector->raster EXACT fill: cells of
        # a 0.5-degree grid whose centers lie inside each polygon —
        # the inverse of contour_segments. Oracle: per-polygon
        # generate_series grid + the half-plane test on the same
        # dyadic-exact center chain.
        from osm_pbf_spark.operators.tiling import rasterize_polygons

        return rasterize_polygons(spark, PIP_POLYGONS, res=0.5)

    q["q_rasterize"] = q_rasterize

    def q_rank_metrics(spark, sf):  # retrieval eval: per-query
        # nDCG@10 / MRR / P@10 / recall@10 — the log2 discount is a
        # shared Python-computed integer literal table (2^20 units),
        # so DCG/IDCG are exact int64 sums; every metric is ONE
        # division of exact ints. Oracle replays the same literals.
        from osm_pbf_spark.operators.evals import rank_metrics

        ev = load(spark, sf, "events").select(
            "event_type",
            "event_id",
            F.pmod(F.col("event_id") * F.lit(104729), F.lit(100000)).alias(
                "score"
            ),
            F.when(F.pmod(F.col("event_id"), F.lit(7)) == 0, F.lit(2))
            .when(F.pmod(F.col("event_id"), F.lit(3)) == 0, F.lit(1))
            .otherwise(F.lit(0))
            .alias("rel"),
        )
        return rank_metrics(
            ev, "event_type", "event_id", "rel", "score", k=10
        )

    q["q_rank_metrics"] = q_rank_metrics

    def q_confusion(spark, sf):  # per-class confusion + P/R/F1 of a
        # 70%-agreeing synthetic classifier (same rater spec as
        # q_kappa, different output surface: per-class exact counts
        # and single-division metrics)
        from osm_pbf_spark.operators.evals import confusion_metrics

        ev = load(spark, sf, "events").select(
            F.col("event_type").alias("label"),
            F.when(
                F.pmod(F.col("event_id"), F.lit(10)) < 7, F.col("event_type")
            )
            .otherwise(
                F.concat(F.lit("x"), F.pmod(F.col("event_id"), F.lit(3)))
            )
            .alias("pred"),
        )
        return confusion_metrics(ev, "label", "pred")

    q["q_confusion"] = q_confusion

    def q_ece(spark, sf):  # expected calibration error over
        # integer-ppm confidence scores: per-bin exact int64 gaps +
        # integer-ppm ECE (a broadcast 1-row cross join, not a
        # global window)
        from osm_pbf_spark.operators.evals import ece_calibration

        ev = load(spark, sf, "events").select(
            F.pmod(F.col("event_id") * F.lit(104729), F.lit(1000001)).alias(
                "score_ppm"
            ),
            F.when(
                F.pmod(F.col("event_id") * F.lit(7919), F.lit(1000000))
                < F.pmod(F.col("event_id") * F.lit(104729), F.lit(1000001)),
                F.lit(1),
            )
            .otherwise(F.lit(0))
            .alias("y"),
        )
        return ece_calibration(ev, "score_ppm", "y", n_bins=10)

    q["q_ece"] = q_ece

    def q_kruskal(spark, sf):  # Kruskal–Wallis H across event types:
        # doubled-rank sums exact int64; the k group terms fold via an
        # order-pinned running window, never a shuffle-order double sum
        from osm_pbf_spark.operators.stats import kruskal_wallis

        ev = load(spark, sf, "events").select(
            "event_type",
            F.floor(F.col("value") * F.lit(10.0)).cast("bigint").alias("v"),
        )
        return kruskal_wallis(ev, "v", "event_type")

    q["q_kruskal"] = q_kruskal

    def q_welch(spark, sf):  # Welch's t + Cohen's d between even/odd
        # event ids — every statistic ONE fixed IEEE chain on exact
        # int64 moments (x bounded so n·Σx² stays under 2^63 at sf1)
        from osm_pbf_spark.operators.stats import welch_ttest

        ev = load(spark, sf, "events").select(
            F.floor(F.col("value") * F.lit(10.0)).cast("bigint").alias("x"),
            F.when(F.pmod(F.col("event_id"), F.lit(2)) == 0, F.lit("a"))
            .otherwise(F.lit("b"))
            .alias("side"),
        )
        return welch_ttest(ev, "x", "side")

    q["q_welch"] = q_welch

    def q_cramers(spark, sf):  # r×c chi-square independence +
        # Cramér's V (event_type vs a synthetic 5-way class);
        # per-cell micro-quantized terms, order-free int64 sum
        from osm_pbf_spark.operators.stats import cramers_v

        ev = load(spark, sf, "events").select(
            "event_type",
            F.concat(F.lit("x"), F.pmod(F.col("event_id"), F.lit(5))).alias(
                "b"
            ),
        )
        return cramers_v(ev, "event_type", "b")

    q["q_cramers"] = q_cramers

    def q_mutinfo(spark, sf):  # categorical mutual information in
        # micro-nats (kaplan_meier ln posture: per-cell fixed chain,
        # micro HALF-UP-away-from-zero quantization, int64 sum)
        from osm_pbf_spark.operators.stats import mutual_information

        ev = load(spark, sf, "events").select(
            "event_type",
            F.concat(F.lit("x"), F.pmod(F.col("event_id"), F.lit(4))).alias(
                "b"
            ),
        )
        return mutual_information(ev, "event_type", "b")

    q["q_mutinfo"] = q_mutinfo

    def q_span_corrupt(spark, sf):  # T5-style span-corruption pairs:
        # md5-seeded window masking (no RNG), sentinel ordinals via a
        # running count — full DuckDB replay incl. the assembled
        # input/target strings
        from osm_pbf_spark.operators.text import span_corruption

        d = load(spark, sf, "documents").select(
            "doc_id",
            F.slice(F.split(F.col("text"), " "), 1, 24).alias("toks"),
        )
        out = span_corruption(
            d, "doc_id", "toks", seed=7, span_len=3, noise_ppm=300_000
        )
        return out.select(
            "doc_id",
            "n_tokens",
            "n_spans",
            "n_masked",
            "input_text",
            "target_text",
        )

    q["q_span_corrupt"] = q_span_corrupt

    def q_stump(spark, sf):  # depth-1 decision tree: best Gini split
        # threshold on an integer feature vs a label planted at x>200
        from osm_pbf_spark.operators.stats import decision_stump

        ev = load(spark, sf, "events").select(
            F.floor(F.col("value")).cast("bigint").alias("x"),
            F.when(
                F.floor(F.col("value")) > 200,
                (F.pmod(F.col("event_id"), F.lit(10)) < 8).cast("bigint"),
            )
            .otherwise(
                (F.pmod(F.col("event_id"), F.lit(10)) < 2).cast("bigint")
            )
            .alias("y"),
        )
        return decision_stump(ev, "x", "y")

    q["q_stump"] = q_stump

    def q_psi(spark, sf):  # population stability index between an
        # expected and a 1.2x-drifted actual distribution; add-one
        # smoothing over the FULL bin spine, micro-quantized terms
        from osm_pbf_spark.operators.stats import psi_drift

        ev = load(spark, sf, "events").select(
            F.floor(
                F.when(
                    F.pmod(F.col("event_id"), F.lit(2)) == 0,
                    F.col("value"),
                ).otherwise(F.col("value") * F.lit(1.2))
            )
            .cast("bigint")
            .alias("v"),
            F.when(F.pmod(F.col("event_id"), F.lit(2)) == 0, F.lit("a"))
            .otherwise(F.lit("b"))
            .alias("side"),
        )
        return psi_drift(ev, "v", "side", lo=0, hi=600, n_bins=12)

    q["q_psi"] = q_psi

    def q_bipartite(spark, sf):  # doc-doc co-occurrence by projecting
        # the doc-BIGRAM bipartite graph (unigram vocab is too small
        # to discriminate); right-degree cap 10 kills hub bigrams
        # BEFORE the quadratic self-join (the LSH hot-bucket
        # discipline) and genuinely binds on this corpus (max deg 17)
        from osm_pbf_spark.operators.graph import bipartite_project

        t = load(spark, sf, "documents").select(
            "doc_id",
            F.posexplode(
                F.slice(F.split(F.col("text"), " "), 1, 13)
            ).alias("pos", "tok"),
        )
        wd = Window.partitionBy("doc_id").orderBy("pos")
        bg = t.select(
            "doc_id",
            F.concat(
                F.col("tok"), F.lit(" "), F.lead("tok").over(wd)
            ).alias("bigram"),
        ).where(F.col("bigram").isNotNull())
        return bipartite_project(
            bg, "doc_id", "bigram", min_weight=2, max_right_degree=10
        )

    q["q_bipartite"] = q_bipartite

    def q_textrank(spark, sf):  # corpus keywords = integer-quantized
        # PageRank over the token-adjacency (window-2) graph; oracle
        # unrolls the same fixed-round integer recurrence in DuckDB
        from osm_pbf_spark.operators.text import textrank_keywords

        return textrank_keywords(
            load(spark, sf, "documents"),
            max_tokens=16,
            iterations=4,
            top_k=25,
            scale=10**9,
        )

    q["q_textrank"] = q_textrank

    def q_holt(spark, sf):  # Holt linear-trend smoothing: integer
        # double recurrence (level+trend) with TRUNCATING division;
        # DuckDB WITH RECURSIVE evaluates the identical recurrence
        from osm_pbf_spark.operators.temporal import holt_linear

        ev = (
            load(spark, sf, "events")
            .where((F.col("event_id") < 2000) & (F.col("value") >= 0))
            .select(
                F.pmod(F.col("user_id"), F.lit(16)).alias("key"),
                F.col("event_id").alias("seq"),
                F.floor(F.col("value") * F.lit(100.0) + F.lit(0.5))
                .cast("bigint")
                .alias("val"),
            )
        )
        return holt_linear(ev, 3, 10, 2, 10)

    q["q_holt"] = q_holt

    def q_kendall(spark, sf):  # Kendall tau-b per event type: exact
        # concordance counts via the brute pairwise verifier (theil_sen
        # posture); pair categories are invariant to the row-id order
        # among exactly-tied rows, so both engines' row_number agree
        from osm_pbf_spark.operators.stats import kendall_tau

        ev = (
            load(spark, sf, "events")
            .where(F.col("event_id") < 4000)
            .select(
                "event_type",
                F.floor(F.col("value")).cast("bigint").alias("x"),
                (
                    F.pmod(F.col("event_id"), F.lit(23))
                    + F.lit(2) * F.floor(F.col("value")).cast("bigint")
                ).alias("y"),
            )
        )
        return kendall_tau(ev, "x", "y", group_cols=["event_type"])

    q["q_kendall"] = q_kendall

    def q_binseg(spark, sf):  # best mean-shift changepoint per type:
        # a +3000 step planted at event_id > 5000; exact prefix sums,
        # decision_stump argmax discipline
        from osm_pbf_spark.operators.stats import binseg_split

        ev = load(spark, sf, "events").select(
            "event_type",
            F.col("event_id").alias("seq"),
            (
                F.floor(F.col("value") * F.lit(100.0) + F.lit(0.5)).cast(
                    "bigint"
                )
                + F.when(F.col("event_id") > 5000, F.lit(3000)).otherwise(
                    F.lit(0)
                )
            ).alias("x"),
        )
        return binseg_split(ev, "seq", "x", group_cols=["event_type"])

    q["q_binseg"] = q_binseg

    def q_hull_diameter(spark, sf):  # farthest hull-vertex pair per
        # group (exact int d2 on the hull grid); oracle = Jarvis-march
        # hull VALUES + the pairwise max computed in SQL
        from osm_pbf_spark.operators.hull import convex_hull, hull_diameter

        pts = customer_points(spark, sf).where(F.col("doc_id") <= 2000)
        grouped = pts.select(
            F.pmod(F.col("doc_id"), F.lit(8)).alias("group_id"),
            "lat",
            "lon",
        )
        return hull_diameter(convex_hull(grouped))

    q["q_hull_diameter"] = q_hull_diameter

    def q_moments(spark, sf):  # central moments + skew/kurtosis per
        # type from EXACT int64 power sums (x bounded so n*max(x)^4
        # stays under 2^53 through sf1) + fixed double chains
        from osm_pbf_spark.operators.stats import moments_profile

        ev = load(spark, sf, "events").select(
            "event_type",
            F.floor(F.col("value") / F.lit(2.0)).cast("bigint").alias("v"),
        )
        return moments_profile(ev, "v", group_cols=["event_type"])

    q["q_moments"] = q_moments

    def q_jsd(spark, sf):  # Jensen-Shannon drift between even/odd
        # event ids over a 5-way class; add-one smoothing, micro-nat
        # quantized half-terms, exact integer halving
        from osm_pbf_spark.operators.stats import jsd_divergence

        ev = load(spark, sf, "events").select(
            F.concat(
                F.lit("x"), F.pmod(F.col("event_id") * 13, F.lit(5))
            ).alias("cat"),
            F.when(F.pmod(F.col("event_id"), F.lit(2)) == 0, F.lit("a"))
            .otherwise(F.lit("b"))
            .alias("side"),
        )
        return jsd_divergence(ev, "cat", "side")

    q["q_jsd"] = q_jsd

    def q_ap(spark, sf):  # per-query Average Precision over the
        # q_rank_metrics ranking spec; contributions fold via the
        # order-pinned running sum along the ranking
        from osm_pbf_spark.operators.evals import average_precision

        ev = load(spark, sf, "events").select(
            "event_type",
            "event_id",
            F.pmod(F.col("event_id") * F.lit(104729), F.lit(100000)).alias(
                "score"
            ),
            F.when(F.pmod(F.col("event_id"), F.lit(7)) == 0, F.lit(2))
            .when(F.pmod(F.col("event_id"), F.lit(3)) == 0, F.lit(1))
            .otherwise(F.lit(0))
            .alias("rel"),
        )
        return average_precision(ev, "event_type", "event_id", "rel", "score")

    q["q_ap"] = q_ap

    def q_ktruss(spark, sf):  # 4-truss of a triangle-rich synthetic
        # graph: fixed-round support peeling (kcore convention), final
        # support recomputed on the surviving subgraph
        from osm_pbf_spark.operators.graph import k_truss

        ev = (
            load(spark, sf, "events")
            .where(F.col("event_id") < 600)
            .select(
                F.pmod(F.col("event_id"), F.lit(60)).alias("u"),
                F.pmod(F.col("event_id") * 7 + 1, F.lit(60)).alias("v"),
                F.pmod(F.col("event_id") * 13 + 2, F.lit(60)).alias("w"),
            )
        )
        edges = (
            ev.select(F.col("u").alias("src"), F.col("v").alias("dst"))
            .union(ev.select(F.col("v").alias("src"), F.col("w").alias("dst")))
            .union(ev.select(F.col("u").alias("src"), F.col("w").alias("dst")))
        )
        return k_truss(edges, 4, rounds=3)

    q["q_ktruss"] = q_ktruss

    def q_hits(spark, sf):  # integer-quantized HITS hub/authority on
        # the q_pagerank synthetic digraph; pure-int max normalization
        from osm_pbf_spark.operators.graph import hits_scores

        ev = (
            load(spark, sf, "events")
            .where(F.col("event_id") < 900)
            .select(
                F.pmod(F.col("event_id"), F.lit(180)).alias("src"),
                F.pmod(F.col("event_id") * 31 + 7, F.lit(180)).alias("dst"),
            )
        )
        return hits_scores(ev, iterations=4)

    q["q_hits"] = q_hits

    def q_ransac(spark, sf):  # RNG-free RANSAC line fit: a planted
        # slope-3 line with ±3 noise and 20% gross outliers; md5-drawn
        # candidate pairs, exact-int inlier test, full SQL replay
        from osm_pbf_spark.operators.stats import ransac_line

        ev = load(spark, sf, "events").select(
            F.pmod(F.col("event_id"), F.lit(1000)).alias("x"),
            F.when(
                F.pmod(F.col("event_id"), F.lit(5)) == 0,
                F.pmod(F.col("event_id") * F.lit(104729), F.lit(4000)),
            )
            .otherwise(
                F.lit(3) * F.pmod(F.col("event_id"), F.lit(1000))
                + F.lit(17)
                + F.pmod(F.col("event_id"), F.lit(7))
                - F.lit(3)
            )
            .alias("y"),
        )
        return ransac_line(ev, "x", "y", n_candidates=32, tol=5)

    q["q_ransac"] = q_ransac

    def _er_groups(spark, sf):
        # shared ER pipeline: blocked FS scoring -> 1-nat threshold ->
        # CC grouping. Returns (rid-level groups df, records df).
        from osm_pbf_spark.operators.fuzzy import fs_link
        from osm_pbf_spark.operators.graph import near_dup_groups

        rec = load(spark, sf, "customer").select(
            F.col("c_custkey").alias("rid"),
            F.expr("c_custkey DIV 3").alias("e"),
        )
        rec = rec.select(
            "rid",
            F.pmod(F.col("e"), F.lit(250)).alias("bk"),
            F.when(
                F.pmod(F.col("rid"), F.lit(5)) == 0,
                F.concat(F.lit("x"), F.col("rid")),
            )
            .otherwise(
                F.concat(F.lit("n"), F.pmod(F.col("e") * 7, F.lit(997)))
            )
            .alias("f1"),
            F.when(
                F.pmod(F.col("rid"), F.lit(7)) == 0,
                F.concat(F.lit("y"), F.col("rid")),
            )
            .otherwise(
                F.concat(F.lit("p"), F.pmod(F.col("e") * 13, F.lit(499)))
            )
            .alias("f2"),
        )
        mu = {"f1": (0.9, 0.05), "f2": (0.9, 0.05)}
        pairs = fs_link(
            rec, rec, ["bk"], mu, left_id="rid", right_id="rid"
        ).where(
            (F.col("id_a") < F.col("id_b"))
            & (F.col("score_micro") >= 1_000_000)
        )
        groups = near_dup_groups(
            rec.select(F.col("rid").alias("doc_id")), pairs, rounds=4
        )
        return groups, rec

    def q_er(spark, sf):  # end-to-end entity resolution: blocked
        # Fellegi-Sunter scoring -> 1-nat threshold -> CC grouping ->
        # canonical survivors. Oracle replays BOTH stages (same
        # micro-nat literals via fs_weights; DuckDB's own recursion
        # for the closure)
        from osm_pbf_spark.operators.graph import dedup_canonical

        groups, _ = _er_groups(spark, sf)
        return dedup_canonical(groups)

    q["q_er"] = q_er

    def q_cluster_eval(spark, sf):  # clustering quality of the ER
        # pipeline vs the PLANTED entity (rid DIV 3): pairwise
        # P/R/F1 exact, ARI one fixed chain; oracle replays the ER
        # closure AND the metric arithmetic
        from osm_pbf_spark.operators.clustering import cluster_pair_metrics

        groups, _ = _er_groups(spark, sf)
        lab = groups.select(
            F.col("doc_id"),
            F.col("group_id").alias("pred"),
            F.expr("doc_id DIV 3").alias("truth"),
        )
        return cluster_pair_metrics(lab, "pred", "truth")

    q["q_cluster_eval"] = q_cluster_eval

    def q_stream_ewma(spark, sf):  # STATEFUL streaming EWMA: the
        # batch integer recurrence carried across micro-batches in
        # applyInPandasWithState; the availableNow drain is
        # bit-identical to batch ewma, so the oracle is the SAME
        # WITH RECURSIVE chain as q_ewma (batch-parity contract)
        from osm_pbf_spark.streaming import (
            run_available_now,
            stream_ewma,
            stream_parquet,
        )

        sdf = stream_parquet(spark, f"{sf}/events.parquet")
        s = sdf.where(
            (F.col("event_id") < 2000) & (F.col("value") >= 0)
        ).select(
            F.pmod(F.col("user_id"), F.lit(16)).alias("key"),
            F.col("event_id").alias("seq"),
            F.floor(F.col("value") * F.lit(100.0) + F.lit(0.5))
            .cast("bigint")
            .alias("val"),
        )
        return run_available_now(
            stream_ewma(s, 3, 10), output_mode="append"
        )

    q["q_stream_ewma"] = q_stream_ewma

    def q_conformal(spark, sf):  # split-conformal threshold at
        # alpha = 1/10 over integer nonconformity scores: exact
        # ceil-DIV rank + exact order statistic
        from osm_pbf_spark.operators.stats import conformal_threshold

        ev = load(spark, sf, "events").select(
            F.pmod(F.col("event_id") * F.lit(7919), F.lit(100000)).alias(
                "score"
            )
        )
        return conformal_threshold(ev, "score", 1, 10)

    q["q_conformal"] = q_conformal

    def q_target_enc(spark, sf):  # smoothed target encoding of
        # event_type vs an integer target; cleared-denominator exact,
        # one division
        from osm_pbf_spark.operators.stats import target_encode

        ev = load(spark, sf, "events").select(
            "event_type",
            F.floor(F.col("value")).cast("bigint").alias("y"),
        )
        return target_encode(ev, "event_type", "y", k=50)

    q["q_target_enc"] = q_target_enc

    def q_clip_polygons(spark, sf):  # vector-tile polygon cut: the
        # fixture polygons Sutherland-Hodgman-clipped to every z6 tile
        # they touch, MVT-4096 quantized; oracle = independent scalar
        # replay -> VALUES
        from osm_pbf_spark.operators.tiling import clip_polygons_to_tiles

        return clip_polygons_to_tiles(spark, PIP_POLYGONS, zoom=6).select(
            "poly_id",
            "ring_idx",
            "tile_z",
            "tile_x",
            "tile_y",
            "n_pts",
            F.col("qx").cast("array<bigint>").alias("qx"),
            F.col("qy").cast("array<bigint>").alias("qy"),
        )

    q["q_clip_polygons"] = q_clip_polygons

    def q_sink_rollback(spark, sf):  # C-family: append + equality
        # delete, then rollback_to the ingest snapshot — the pruned
        # per-cell aggregate must equal the PURE-ingest spec oracle
        # (reused verbatim from q_sink_roundtrip), proving the
        # rollback restored the exact manifest state
        import shutil
        import tempfile

        from osm_pbf_spark.plans.ingest import ingest_pbf

        path = _fixture_pbf("sink")
        root = os.path.join(
            tempfile.gettempdir(), "osm_pbf_spark_driver_sink_rb"
        )
        shutil.rmtree(root, ignore_errors=True)
        sink = ingest_pbf(spark, path, root, cell_level=12, blobs_per_split=1)
        s1 = sink.current_snapshot()
        base = sink.read(spark)
        junk = base.where("pmod(cell, 4) = 1").withColumn(
            "doc_id", F.concat(F.lit("junk/"), F.col("doc_id"))
        )
        sink.write_split(junk, "junk-1", lineage={"op": "append"})
        sink.commit_snapshot({"pipeline": "junk"})
        sink.delete_keys(
            base.where("pmod(cell, 4) = 2").select("doc_id"),
            ["doc_id"],
            "del-1",
        )
        sink.commit_snapshot({"pipeline": "delete"})
        rb = sink.rollback_to(s1["snapshot_id"])
        assert rb["properties"]["rollback_of"] == s1["snapshot_id"]
        lo, hi = SINK_PRUNE_RANGE
        docs = sink.read(spark, stats_range=(lo, hi)).filter(
            F.col("cell").between(lo, hi)
        )
        return docs.groupBy("cell").agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").alias("first_doc"),
            F.sum(F.size("spans")).alias("spans_total"),
            F.sum(
                F.length(F.element_at("spans", -1)["media_ref"])
            ).alias("media_len_total"),
        )

    q["q_sink_rollback"] = q_sink_rollback

    def q_sink_tag(spark, sf):  # C21 named refs: tag the ingest
        # snapshot, append junk + commit, then read THROUGH the tag —
        # must equal the pure-ingest spec oracle (reused verbatim),
        # proving the tag pins the frozen manifest list by name
        import shutil
        import tempfile

        from osm_pbf_spark.plans.ingest import ingest_pbf

        path = _fixture_pbf("sink")
        root = os.path.join(
            tempfile.gettempdir(), "osm_pbf_spark_driver_sink_tag"
        )
        shutil.rmtree(root, ignore_errors=True)
        sink = ingest_pbf(spark, path, root, cell_level=12, blobs_per_split=1)
        sink.tag_snapshot("training-cut")
        base = sink.read(spark)
        junk = base.where("pmod(cell, 4) = 1").withColumn(
            "doc_id", F.concat(F.lit("junk/"), F.col("doc_id"))
        )
        sink.write_split(junk, "junk-1", lineage={"op": "append"})
        sink.commit_snapshot({"pipeline": "junk"})
        lo, hi = SINK_PRUNE_RANGE
        docs = sink.read_tag(spark, "training-cut").filter(
            F.col("cell").between(lo, hi)
        )
        return docs.groupBy("cell").agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").alias("first_doc"),
            F.sum(F.size("spans")).alias("spans_total"),
            F.sum(
                F.length(F.element_at("spans", -1)["media_ref"])
            ).alias("media_len_total"),
        )

    q["q_sink_tag"] = q_sink_tag

    def q_sink_vacuum(spark, sf):  # C22 orphan-file vacuum: plant a
        # crashed-writer leftover under data/, vacuum must delete
        # exactly it, and the committed read must be untouched (the
        # pure-ingest spec oracle, verbatim)
        import shutil
        import tempfile

        from osm_pbf_spark.plans.ingest import ingest_pbf

        path = _fixture_pbf("sink")
        root = os.path.join(
            tempfile.gettempdir(), "osm_pbf_spark_driver_sink_vac"
        )
        shutil.rmtree(root, ignore_errors=True)
        sink = ingest_pbf(spark, path, root, cell_level=12, blobs_per_split=1)
        orphan = os.path.join(root, "data", "orphan-crashed-writer.parquet")
        with open(orphan, "wb") as f:
            f.write(b"PAR1 not really parquet")
        res = sink.vacuum_orphans()
        assert res["deleted_files"] >= 1 and not os.path.exists(orphan), res
        lo, hi = SINK_PRUNE_RANGE
        docs = sink.read(spark, stats_range=(lo, hi)).filter(
            F.col("cell").between(lo, hi)
        )
        return docs.groupBy("cell").agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").alias("first_doc"),
            F.sum(F.size("spans")).alias("spans_total"),
            F.sum(
                F.length(F.element_at("spans", -1)["media_ref"])
            ).alias("media_len_total"),
        )

    q["q_sink_vacuum"] = q_sink_vacuum

    def q_assortativity(spark, sf):  # Newman degree assortativity =
        # exact-moment Pearson over symmetric endpoint degrees
        from osm_pbf_spark.operators.graph import assortativity

        base = load(spark, sf, "events").where(F.col("event_id") < 900)
        ring = base.select(
            F.pmod(F.col("event_id"), F.lit(180)).alias("src"),
            F.pmod(F.col("event_id") * 31 + 7, F.lit(180)).alias("dst"),
        )
        hub = base.where(F.col("event_id") < 90).select(
            F.pmod(F.col("event_id"), F.lit(180)).alias("src"),
            F.lit(7).cast("bigint").alias("dst"),
        )
        return assortativity(ring.unionAll(hub))

    q["q_assortativity"] = q_assortativity

    def q_closeness(spark, sf):  # sampled harmonic centrality over
        # the q_od_matrix graph: exact 2^40 DIV d contributions (the
        # rrf posture), 6 seeded landmark origins
        from osm_pbf_spark.operators.graph import harmonic_closeness

        ev = load(spark, sf, "events").filter(F.col("event_id") < 400)
        edges = ev.select(
            (F.col("event_id") % 120).alias("src"),
            ((F.col("event_id") * 13 + 7) % 120).alias("dst"),
            (F.col("event_id") % 19 + 1).alias("w"),
        )
        srcs = spark.createDataFrame(
            [(0,), (3,), (7,), (11,), (19,), (23,)], "node long"
        )
        return harmonic_closeness(edges, srcs, max_rounds=12)

    q["q_closeness"] = q_closeness

    def q_anomaly(spark, sf):  # composed anomaly detector: seasonal
        # decomposition -> quantized residual -> median/MAD flags at
        # 8 MADs; +5000 spikes planted every 977 ids. Oracle replays
        # BOTH stages (offset-self-join decomposition + distinct-value
        # median windows)
        from osm_pbf_spark.operators.stats import robust_zscore
        from osm_pbf_spark.operators.temporal import seasonal_decompose

        ev = load(spark, sf, "events").select(
            F.col("event_type").alias("key"),
            F.col("ts").alias("seq"),
            F.col("event_id").alias("tb"),
            (
                F.col("value")
                + F.when(
                    F.pmod(F.col("event_id"), F.lit(977)) == 0,
                    F.lit(5000.0),
                ).otherwise(F.lit(0.0))
            ).alias("val"),
        )
        dec = seasonal_decompose(ev, period=7, tiebreak_col="tb", scale=100)
        rq = dec.where(F.col("residual").isNotNull()).select(
            "key",
            "seq",
            F.floor(F.col("residual") * F.lit(100.0) + F.lit(0.5))
            .cast("bigint")
            .alias("rq"),
        )
        return robust_zscore(
            rq, "rq", ["key"], min_dev_mads=8, carry_cols=["seq"]
        )

    q["q_anomaly"] = q_anomaly

    def q_c4_pipeline(spark, sf):  # the composed training-data
        # cleaning pipeline: quality >= 0.55 AND lang 'en' -> exact
        # first-occurrence dedup -> per-source attrition report.
        # Oracle replays every stage (quality/lang marker arithmetic +
        # the dedup keeper window) in SQL.
        from osm_pbf_spark.operators.text import lang_id, quality_score

        base = load(spark, sf, "documents").select(
            "doc_id", "source", "text"
        )
        # planted exact copies so the dedup stage genuinely binds
        d = base.unionAll(
            base.where(F.col("doc_id") < 60).select(
                (F.col("doc_id") + 100000).alias("doc_id"),
                "source",
                "text",
            )
        )
        scored = d.select(
            "doc_id",
            "source",
            "text",
            quality_score(F.col("text")).alias("_q"),
            lang_id(F.col("text")).alias("_lp"),
        )
        filt = scored.where(
            (F.col("_q") >= F.lit(0.55)) & (F.col("_lp") == "en")
        )
        keeper = filt.groupBy(F.md5("text").alias("_fp")).agg(
            F.min("doc_id").alias("_keep")
        )
        kept = filt.withColumn("_fp", F.md5("text")).join(
            keeper, "_fp"
        ).where(F.col("doc_id") == F.col("_keep"))
        n_in = d.groupBy("source").agg(F.count(F.lit(1)).alias("n_in"))
        n_f = filt.groupBy("source").agg(
            F.count(F.lit(1)).alias("n_filtered")
        )
        n_k = kept.groupBy("source").agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.min("doc_id").alias("first_kept"),
        )
        return (
            n_in.join(n_f, "source", "left")
            .join(n_k, "source", "left")
            .select(
                "source",
                "n_in",
                F.coalesce("n_filtered", F.lit(0)).alias("n_filtered"),
                F.coalesce("n_kept", F.lit(0)).alias("n_kept"),
                "first_kept",
            )
        )

    q["q_c4_pipeline"] = q_c4_pipeline

    def q_sequences(spark, sf):  # frequent contiguous 3-step episodes
        # across per-user event streams; exact episode counts
        from osm_pbf_spark.operators.temporal import frequent_sequences

        ev = load(spark, sf, "events").select(
            "user_id", "event_id", "event_type"
        )
        return frequent_sequences(
            ev, "user_id", "event_id", "event_type", k=3, min_support=5
        )

    q["q_sequences"] = q_sequences

    def q_sprt(spark, sf):  # Wald SPRT per event type: micro-nat LLR
        # literals (sprt_llr_micro shared with the oracle), exact int
        # running sum, first bound crossing = the decision point
        from osm_pbf_spark.operators.stats import sprt_decision

        ev = load(spark, sf, "events").select(
            F.col("event_type").alias("exp"),
            F.col("event_id").alias("seq"),
            (
                F.pmod(F.col("event_id") * F.lit(7919), F.lit(100))
                < F.lit(45) + F.pmod(F.length("event_type"), F.lit(20))
            )
            .cast("bigint")
            .alias("y"),
        )
        return sprt_decision(
            ev, "exp", "seq", "y", (1, 2), (11, 20), 2944439, -2944439
        )

    q["q_sprt"] = q_sprt

    def q_osm_diff(spark, sf):  # osmChange replication-diff apply
        # over the decoded fixture nodes: derived modify/delete/create
        # changes + a conflicting higher-version delete; latest
        # version wins, delete beats modify on ties
        from osm_pbf_spark.plans.diff import apply_diff
        from osm_pbf_spark.sources import pbf_source as src

        entities, _hdr = src.read_pbf(spark, _fixture_pbf("multiblob"))
        n = src.nodes(entities).select("id", "lat", "lon")
        mod = n.where(F.pmod("id", F.lit(5)) == 0).select(
            "id",
            (F.col("lat") + F.lit(1.0)).alias("lat"),
            "lon",
            F.lit(2).alias("version"),
            F.lit("modify").alias("action"),
        )
        dele = n.where(F.pmod("id", F.lit(5)) == 1).select(
            "id",
            "lat",
            "lon",
            F.lit(2).alias("version"),
            F.lit("delete").alias("action"),
        )
        crea = n.where(F.pmod("id", F.lit(5)) == 2).select(
            (F.col("id") + F.lit(10_000_000)).alias("id"),
            "lat",
            (F.col("lon") + F.lit(0.5)).alias("lon"),
            F.lit(2).alias("version"),
            F.lit("create").alias("action"),
        )
        late_del = n.where(F.pmod("id", F.lit(10)) == 0).select(
            "id",
            "lat",
            "lon",
            F.lit(3).alias("version"),
            F.lit("delete").alias("action"),
        )
        changes = mod.unionByName(dele).unionByName(crea).unionByName(
            late_del
        )
        return apply_diff(n, changes)

    q["q_osm_diff"] = q_osm_diff

    def q_regression_metrics(spark, sf):  # MAE/RMSE/R2 of a biased
        # integer predictor; exact int64 sums, fixed chains
        from osm_pbf_spark.operators.evals import regression_metrics

        ev = load(spark, sf, "events").select(
            F.floor(F.col("value")).cast("bigint").alias("y"),
            (
                F.floor(F.col("value")).cast("bigint")
                + F.pmod(F.col("event_id"), F.lit(21))
                - F.lit(10)
            ).alias("yhat"),
        )
        return regression_metrics(ev, "y", "yhat")

    q["q_regression_metrics"] = q_regression_metrics

    def q_lift(spark, sf):  # decile gains/lift of the q_rank_metrics
        # score against its planted labels; SQL-standard ntile split
        from osm_pbf_spark.operators.evals import lift_table

        ev = load(spark, sf, "events").select(
            "event_id",
            F.pmod(F.col("event_id") * F.lit(104729), F.lit(100000)).alias(
                "score"
            ),
            F.when(F.pmod(F.col("event_id"), F.lit(7)) == 0, F.lit(1))
            .otherwise(F.lit(0))
            .alias("rel"),
        )
        return lift_table(ev, "score", "rel", "event_id", n_buckets=10)

    q["q_lift"] = q_lift

    def q_taginfo(spark, sf):  # taginfo-style tag-key statistics over
        # ALL decoded entity kinds of the mixed fixture (nodes + ways
        # + relations in one block battery); oracle aggregates the
        # spec-decoded tag rows in SQL
        from osm_pbf_spark.sources import pbf_source as src

        entities, _hdr = src.read_pbf(spark, _fixture_pbf("mixed"))
        t = entities.select(
            "kind",
            F.explode(
                F.coalesce(F.col("tags"), F.expr("map()"))
            ).alias("key", "val"),
        )
        return t.groupBy("key").agg(
            F.sum((F.col("kind") == "node").cast("bigint")).alias("n_nodes"),
            F.sum((F.col("kind") == "way").cast("bigint")).alias("n_ways"),
            F.sum((F.col("kind") == "relation").cast("bigint")).alias(
                "n_rels"
            ),
            F.count(F.lit(1)).alias("n_total"),
            F.count_distinct("val").alias("n_values"),
            F.min("val").alias("first_value"),
        )

    q["q_taginfo"] = q_taginfo

    def q_bootstrap(spark, sf):  # RNG-free percentile bootstrap CI of
        # the mean (200 md5-seeded replicas, exact int sums, exact
        # order-statistic endpoints)
        from osm_pbf_spark.operators.stats import bootstrap_ci

        ev = (
            load(spark, sf, "events")
            .where(F.col("event_id") < 2000)
            .select(F.floor(F.col("value")).cast("bigint").alias("v"))
        )
        return bootstrap_ci(ev, "v", n_replicas=200, alpha_num=5,
                            alpha_den=100)

    q["q_bootstrap"] = q_bootstrap

    def q_woe(spark, sf):  # weight-of-evidence + information value
        # (add-one smoothed, micro-nat quantized) of a 6-way class
        # against a label planted to vary by category
        from osm_pbf_spark.operators.stats import woe_iv

        ev = load(spark, sf, "events").select(
            F.concat(
                F.lit("c"), F.pmod(F.col("event_id") * 11, F.lit(6))
            ).alias("cat"),
            F.when(
                F.pmod(F.col("event_id") * 7919, F.lit(100))
                < F.lit(30) + F.lit(8) * F.pmod(F.col("event_id") * 11, F.lit(6)),
                F.lit(1),
            )
            .otherwise(F.lit(0))
            .alias("y"),
        )
        return woe_iv(ev, "cat", "y")

    q["q_woe"] = q_woe

    def q_multi_split(spark, sf):  # best Gini split across 3 derived
        # features; the planted x2 boundary must win
        from osm_pbf_spark.operators.stats import best_split_multi

        ev = load(spark, sf, "events").select(
            F.pmod(F.col("event_id"), F.lit(50)).alias("x1"),
            F.floor(F.col("value")).cast("bigint").alias("x2"),
            F.pmod(F.col("event_id") * 31, F.lit(17)).alias("x3"),
            F.when(
                F.floor(F.col("value")) > 200,
                (F.pmod(F.col("event_id"), F.lit(10)) < 8).cast("bigint"),
            )
            .otherwise(
                (F.pmod(F.col("event_id"), F.lit(10)) < 2).cast("bigint")
            )
            .alias("y"),
        )
        return best_split_multi(ev, ["x1", "x2", "x3"], "y")

    q["q_multi_split"] = q_multi_split

    def q_nelson_aalen(spark, sf):  # Nelson-Aalen cumulative hazard
        # per type over the q_kaplan_meier fixture (25% censored);
        # micro-quantized increments, exact int running sum
        from osm_pbf_spark.operators.temporal import nelson_aalen

        ev = load(spark, sf, "events").select(
            "event_type",
            F.floor(F.col("value")).cast("bigint").alias("dur"),
            (F.pmod(F.col("event_id"), F.lit(4)) != 0).cast("int").alias(
                "ev"
            ),
        )
        return nelson_aalen(ev, "dur", "ev", group_cols=["event_type"])

    q["q_nelson_aalen"] = q_nelson_aalen

    def q_percent_rank(spark, sf):  # analytic-window surface:
        # percent_rank + cume_dist over a TOTAL order (value,
        # event_id) — both are single divisions of exact ranks
        from pyspark.sql import Window as W

        ev = load(spark, sf, "events").where(F.col("event_id") < 3000)
        w = W.partitionBy("event_type").orderBy(
            F.floor(F.col("value")).cast("bigint"), F.col("event_id")
        )
        return ev.select(
            "event_type",
            "event_id",
            F.floor(F.col("value")).cast("bigint").alias("v"),
            F.percent_rank().over(w).alias("pr"),
            F.cume_dist().over(w).alias("cd"),
        )

    q["q_percent_rank"] = q_percent_rank

    def q_median_survival(spark, sf):  # composed: KM curve -> median
        # survival time per type = first t with survival_ppm <= 5e5
        # (NULL when the curve never crosses half)
        from osm_pbf_spark.operators.temporal import kaplan_meier

        ev = load(spark, sf, "events").select(
            "event_type",
            F.floor(F.col("value")).cast("bigint").alias("dur"),
            (F.pmod(F.col("event_id"), F.lit(4)) != 0).cast("int").alias(
                "ev"
            ),
        )
        km = kaplan_meier(ev, "dur", "ev", group_cols=["event_type"])
        crossed = km.where(F.col("survival_ppm") <= 500_000)
        med = crossed.groupBy("event_type").agg(
            F.min("t").alias("median_t")
        )
        base = km.groupBy("event_type").agg(
            F.count(F.lit(1)).alias("n_times"),
            F.min("survival_ppm").alias("final_ppm"),
        )
        return base.join(med, "event_type", "left")

    q["q_median_survival"] = q_median_survival

    def q_logrank(spark, sf):  # two-group log-rank over the KM
        # fixture split by even/odd user (side-b durations shifted so
        # the curves genuinely differ)
        from osm_pbf_spark.operators.stats import logrank_test

        ev = load(spark, sf, "events").select(
            F.when(
                F.pmod(F.col("user_id"), F.lit(2)) == 0,
                F.floor(F.col("value")).cast("bigint"),
            )
            .otherwise(
                F.floor(F.col("value") / F.lit(2.0)).cast("bigint")
            )
            .alias("dur"),
            (F.pmod(F.col("event_id"), F.lit(4)) != 0).cast("int").alias(
                "ev"
            ),
            F.when(F.pmod(F.col("user_id"), F.lit(2)) == 0, F.lit("a"))
            .otherwise(F.lit("b"))
            .alias("side"),
        )
        return logrank_test(ev, "dur", "ev", "side")

    q["q_logrank"] = q_logrank

    def q_anova(spark, sf):  # one-way ANOVA F across event types
        # (micro-quantized SSB/SSW terms, exact int group moments)
        from osm_pbf_spark.operators.stats import anova_f

        ev = load(spark, sf, "events").select(
            "event_type",
            F.floor(F.col("value") / F.lit(2.0)).cast("bigint").alias("v"),
        )
        return anova_f(ev, "v", "event_type")

    q["q_anova"] = q_anova

    def q_rfm(spark, sf):  # RFM segmentation: per-user recency /
        # frequency / monetary quintiles over total orders, segment =
        # concatenated digits (the marketing-analytics staple)
        from pyspark.sql import Window as W

        ev = load(spark, sf, "events").groupBy("user_id").agg(
            F.max(F.unix_micros(F.to_utc_timestamp("ts", "UTC"))).alias(
                "last_us"
            ),
            F.count(F.lit(1)).alias("freq"),
            F.sum(
                F.floor(F.col("value") * F.lit(100.0) + F.lit(0.5)).cast(
                    "bigint"
                )
            ).alias("mon"),
        )
        wr = W.partitionBy(F.lit(0)).orderBy(
            F.col("last_us").desc(), F.col("user_id")
        )
        wf = W.partitionBy(F.lit(0)).orderBy(
            F.col("freq").desc(), F.col("user_id")
        )
        wm = W.partitionBy(F.lit(0)).orderBy(
            F.col("mon").desc(), F.col("user_id")
        )
        out = ev.select(
            "user_id",
            "last_us",
            "freq",
            "mon",
            F.ntile(5).over(wr).alias("r_q"),
            F.ntile(5).over(wf).alias("f_q"),
            F.ntile(5).over(wm).alias("m_q"),
        )
        return out.withColumn(
            "segment",
            F.concat(F.col("r_q"), F.col("f_q"), F.col("m_q")),
        )

    q["q_rfm"] = q_rfm

    def q_poisson_rate(spark, sf):  # two-sample Poisson rate z:
        # counts = events, exposure = synthetic device-days per side
        from osm_pbf_spark.operators.stats import poisson_rate_test

        ev = load(spark, sf, "events").select(
            F.lit(1).cast("bigint").alias("x"),
            (F.pmod(F.col("event_id"), F.lit(5)) + 1).alias("t"),
            F.when(F.pmod(F.col("user_id"), F.lit(3)) == 0, F.lit("a"))
            .otherwise(F.lit("b"))
            .alias("side"),
        )
        return poisson_rate_test(ev, "x", "t", "side")

    q["q_poisson_rate"] = q_poisson_rate

    def q_rare_collapse(spark, sf):  # rare-category collapse (a
        # long-tail cat with most levels below min_count) composed
        # with smoothed target encoding over the collapsed column
        from osm_pbf_spark.operators.stats import rare_collapse, target_encode

        ev = load(spark, sf, "events").select(
            F.when(
                F.pmod(F.col("event_id"), F.lit(2)) == 0,
                F.concat(
                    F.lit("big"), F.pmod(F.col("event_id"), F.lit(3))
                ),
            )
            .otherwise(
                F.concat(
                    F.lit("c"), F.pmod(F.col("event_id") * 13, F.lit(400))
                )
            )
            .alias("cat"),
            F.floor(F.col("value")).cast("bigint").alias("y"),
        )
        coll = rare_collapse(ev, "cat", min_count=30)
        return target_encode(coll, "cat_collapsed", "y", k=20)

    q["q_rare_collapse"] = q_rare_collapse

    def q_visvalingam(spark, sf):  # area-based simplification beside
        # Douglas-Peucker: exact integer doubled-areas, strict
        # (area, index) removal order; oracle = naive O(n^2) scalar
        # replay vs the engine's lazy heap
        from osm_pbf_spark.operators.simplify import visvalingam_simplify

        e = load(spark, sf, "events").where(F.col("event_id") < 4000)
        pts = e.select(
            (F.col("event_id") % 40).alias("line_id"),
            "event_id",
            (
                (F.col("event_id") % 40) * F.lit(2.0) - F.lit(40.0)
                + ((F.col("event_id") * 7919) % 100) * F.lit(0.002)
                + F.when(
                    F.col("event_id") % 17 == 0, F.lit(5.0)
                ).otherwise(F.lit(0.0))
            ).alias("lat"),
            (
                F.lit(-170.0)
                + (F.col("event_id") - F.col("event_id") % 40)
                / F.lit(40.0)
                * F.lit(1.3)
            ).alias("lon"),
        )
        lines = (
            pts.groupBy("line_id")
            .agg(
                F.array_sort(
                    F.collect_list(F.struct("event_id", "lat", "lon"))
                ).alias("a")
            )
            .select(
                "line_id",
                F.transform("a", lambda x: x["lat"]).alias("lats"),
                F.transform("a", lambda x: x["lon"]).alias("lons"),
            )
        )
        return visvalingam_simplify(lines, min_area2=4000)

    q["q_visvalingam"] = q_visvalingam

    def q_stream_topk(spark, sf):  # streaming top-k: complete-mode
        # windowed counts drained, then the top-2 event types per
        # hour window (rank on the BATCH result of the drain — the
        # batch-parity contract makes the composition oracle-exact)
        from pyspark.sql import Window as W

        from osm_pbf_spark.streaming import (
            run_available_now,
            stream_parquet,
            windowed_counts,
        )

        sdf = stream_parquet(spark, f"{sf}/events.parquet")
        counts = windowed_counts(sdf, "ts", ["event_type"], "1 hour")
        batch = run_available_now(counts, output_mode="complete")
        from osm_pbf_spark.operators.temporal import _epoch_micros

        w = W.partitionBy("window_start").orderBy(
            F.col("n").desc(), F.col("event_type").asc()
        )
        return (
            batch.withColumn("rk", F.row_number().over(w))
            .where(F.col("rk") <= 2)
            .select(
                _epoch_micros(F.col("window_start")).alias("window_start_us"),
                _epoch_micros(F.col("window_end")).alias("window_end_us"),
                "event_type",
                "n",
                "rk",
            )
        )

    q["q_stream_topk"] = q_stream_topk

    # ---- batch r4-1 ----

    def q_hillshade(spark, sf):  # analytical hillshade: slope_aspect's
        # exact Horn gradients -> one fixed IEEE shade chain (repr-
        # literal light constants replayed via strtod in the oracle)
        from osm_pbf_spark.operators.tiling import hillshade

        k = F.col("o_orderkey")
        grid = load(spark, sf, "orders").filter(k < 1024).select(
            (k % 32).alias("x"),
            ((k - k % 32) / 32 % 32).cast("bigint").alias("y"),
            ((k * 7919) % 1000).alias("z"),
        )
        return hillshade(grid)

    q["q_hillshade"] = q_hillshade

    def q_focal_majority(spark, sf):  # 3x3 categorical mode filter:
        # scatter + (x,y,class) agg + min-struct argmax, count==9 guard
        from osm_pbf_spark.operators.tiling import focal_majority

        k = F.col("o_orderkey")
        grid = load(spark, sf, "orders").filter(k < 1024).select(
            (k % 32).alias("x"),
            ((k - k % 32) / 32 % 32).cast("bigint").alias("y"),
            ((k * 13) % 5).alias("v"),
        )
        return focal_majority(grid)

    q["q_focal_majority"] = q_focal_majority

    def q_interval_coverage(spark, sf):  # union-of-intervals sweep:
        # strict-gap component flag + per-component collapse, all int64
        from osm_pbf_spark.operators.temporal import (
            _epoch_micros,
            interval_coverage,
        )

        iv = load(spark, sf, "events").select(
            (F.col("user_id") % 10).alias("key"),
            _epoch_micros(F.col("ts")).alias("s"),
            (
                _epoch_micros(F.col("ts"))
                + (F.col("event_id") % 5 + 1) * F.lit(3_600_000_000)
            ).alias("e"),
        )
        return interval_coverage(iv, "key", "s", "e")

    q["q_interval_coverage"] = q_interval_coverage

    def q_nearest_event(spark, sf):  # abs-nearest temporal join: one
        # key shuffle, two stacked windows (backward + forward carry),
        # tie -> earlier; oracle = brute |l|x|r|-per-key + row_number
        from osm_pbf_spark.operators.temporal import (
            _epoch_micros,
            nearest_event_join,
        )

        e = load(spark, sf, "events")
        left = e.filter(F.col("event_type") == "click").select(
            "event_id", "user_id", "ts", "value"
        )
        right = (
            e.filter(F.col("event_type") == "purchase")
            .groupBy("user_id", "ts")
            .agg(F.max("value").alias("rv"))
        )
        out = nearest_event_join(left, right, on="user_id")
        return out.select(
            "event_id",
            "user_id",
            _epoch_micros(F.col("ts")).alias("ts_us"),
            "value",
            "rv_r",
            "nearest_ts_us_r",
        )

    q["q_nearest_event"] = q_nearest_event

    def q_mcnemar(spark, sf):  # paired-classifier discordance test:
        # 4-cell hash agg, exact ints, one division
        from osm_pbf_spark.operators.stats import mcnemar_test

        d = load(spark, sf, "events").select(
            F.when(F.col("event_id") % 3 == 0, 1).otherwise(0).alias("a"),
            F.when((F.col("event_id") * 7 + 1) % 5 < 2, 1).otherwise(0).alias("b"),
        )
        return mcnemar_test(d, "a", "b")

    q["q_mcnemar"] = q_mcnemar

    def q_trend(spark, sf):  # Cochran-Armitage dose-response trend:
        # exact int T and V*, one pinned 3-sqrt chain for z
        from osm_pbf_spark.operators.stats import cochran_armitage

        d = load(spark, sf, "events").select(
            (F.col("user_id") % 5).alias("w"),
            F.when(F.col("event_id") % 4 == 0, 1).otherwise(0).alias("d"),
        )
        return cochran_armitage(d, "w", "d")

    q["q_trend"] = q_trend

    def q_matching(spark, sf):  # deterministic greedy maximal matching
        # (locally-minimal md5-priority rounds == sequential greedy);
        # oracle = pure-Python greedy replay over the same edges
        from osm_pbf_spark.operators.graph import maximal_matching

        k = F.col("event_id")
        edges = load(spark, sf, "events").filter(k < 2000).select(
            ((k * 7) % 200).alias("src"), ((k * 13 + 3) % 200).alias("dst")
        )
        return maximal_matching(edges).select("u", "v")

    q["q_matching"] = q_matching

    def q_sph_area(spark, sf):  # geodesic ring area: spherical
        # shoelace, per-segment 1e-12 rad^2 quantized terms, exact sum
        from osm_pbf_spark.operators.measures import spherical_ring_area

        nk = F.col("n_nationkey")
        base = load(spark, sf, "nation").select(
            nk.alias("line_id"),
            ((nk * 7) % 120 - 60).cast("double").alias("la"),
            ((nk * 11) % 300 - 150).cast("double").alias("lo"),
        )
        la, lo = F.col("la"), F.col("lo")
        corners = F.array(
            F.struct(la.alias("a"), lo.alias("b")),
            F.struct(la.alias("a"), (lo + 2.0).alias("b")),
            F.struct((la + 1.0).alias("a"), (lo + 2.0).alias("b")),
            F.struct((la + 1.0).alias("a"), lo.alias("b")),
        )
        segs = base.select(
            "line_id", F.posexplode(corners).alias("i", "c0"), corners.alias("_cs")
        ).select(
            "line_id",
            F.col("c0.a").alias("lat0"),
            F.col("c0.b").alias("lon0"),
            F.element_at("_cs", (F.col("i") + 1) % 4 + 1)["a"].alias("lat1"),
            F.element_at("_cs", (F.col("i") + 1) % 4 + 1)["b"].alias("lon1"),
        )
        return spherical_ring_area(segs)

    q["q_sph_area"] = q_sph_area

    def q_lcss(spark, sf):  # noise-tolerant trajectory-similarity
        # join: LCSS DP over the shared cell-cover candidate stage
        # (the q_frechet track corpus with glitch spikes planted so
        # the sup metrics and LCSS genuinely diverge)
        from osm_pbf_spark.operators.distance import lcss_join

        e = load(spark, sf, "events").filter(F.col("event_id") < 240)
        base = F.col("event_id") - (F.col("event_id") % 4)
        j = (F.col("event_id") % 4).cast("double")
        npts = (F.lit(6) + F.col("event_id") % 3).cast("int")
        lat0 = (base % 80) - 40 + F.lit(0.25) + j * F.lit(0.0625)
        lon0 = ((base * 7) % 340) - 170 + F.lit(0.5) + j * F.lit(0.0625)
        tracks = e.select(
            F.col("event_id").alias("track_id"),
            F.transform(
                F.sequence(F.lit(0), npts - 1),
                lambda i: F.struct(
                    # every 5th fix is a +2-deg GPS glitch spike
                    (
                        lat0
                        + i.cast("double") * F.lit(0.125)
                        + F.when(i % 5 == 2, F.lit(2.0)).otherwise(F.lit(0.0))
                    ).alias("lat"),
                    (lon0 + (i % 3).cast("double") * F.lit(0.25)).alias("lon"),
                ),
            ).alias("pts"),
        )
        out = lcss_join(tracks, tracks, radius=0.5, level=8,
                        min_sim_ppm=500_000)
        return out.where(F.col("id_a") < F.col("id_b"))

    q["q_lcss"] = q_lcss

    def q_jaro_winkler(spark, sf):  # exact-rational JW ppm name
        # matching: soundex block join + integer scalar kernel; the
        # oracle replays the identical integer spec pairwise
        from osm_pbf_spark.operators.fuzzy import jaro_winkler_join

        p = load(spark, sf, "part").filter(F.col("p_partkey") < 400)
        names = p.select(
            F.col("p_partkey").alias("id_l"),
            F.element_at(F.split(F.col("p_name"), " "), 1).alias("name_l"),
        )
        probes = p.filter(F.col("p_partkey") % 3 == 0).select(
            F.col("p_partkey").alias("id_r"),
            F.element_at(F.split(F.col("p_name"), " "), 2).alias("name_r"),
        )
        out = jaro_winkler_join(
            names, probes, "name_l", "name_r", min_ppm=800_000
        )
        return out.select("id_l", "id_r", "name_l", "name_r", "jw_ppm")

    q["q_jaro_winkler"] = q_jaro_winkler

    def q_cidr(spark, sf):  # longest-prefix-match IP enrichment:
        # network ranges bucket-exploded on the /16 line, distinct-ip
        # equi-join + BETWEEN refine + min-struct LPM argmax
        from osm_pbf_spark.operators.text import cidr_join

        k = F.col("event_id")
        ips = load(spark, sf, "events").filter(k < 4000).select(
            F.col("event_id"),
            F.concat_ws(
                ".",
                (k % 4 * 10 + 10).cast("string"),
                ((k * 7) % 256).cast("string"),
                ((k * 13) % 256).cast("string"),
                (k % 251).cast("string"),
            ).alias("ip"),
        )
        nk = F.col("n_nationkey")
        nets = load(spark, sf, "nation").select(
            F.concat_ws(
                ".",
                (nk % 4 * 10 + 10).cast("string"),
                ((nk * 37) % 224).cast("string"),
                F.lit("0"),
                F.lit("0"),
            ).alias("base"),
            # mix of /8 (coarse country) and /11-/15 (finer) prefixes
            (F.lit(8) + nk % 8).cast("int").alias("masklen"),
        )
        return cidr_join(ips, nets)

    q["q_cidr"] = q_cidr

    def q_stream_alert(spark, sf):  # stateful threshold alerting: one
        # availableNow drain == GROUP BY HAVING count >= k (alert-once
        # cross-batch suppression pinned by pytest)
        from osm_pbf_spark.streaming import (
            run_available_now,
            stream_parquet,
            stream_threshold_alert,
        )

        sdf = stream_parquet(spark, f"{sf}/events.parquet").select(
            "user_id", "event_type"
        )
        return run_available_now(
            stream_threshold_alert(sdf, ["user_id", "event_type"], k=30),
            output_mode="append",
        )

    q["q_stream_alert"] = q_stream_alert

    def q_kmeans_fit(spark, sf):  # FULL distributed Lloyd: exact-int
        # quantized loop (init = k smallest ids, floor-div centroids,
        # tie -> smallest cluster) — bit-equal to the scalar replay
        from osm_pbf_spark.operators.ann import kmeans_fit

        e = load(spark, sf, "embeddings")
        return kmeans_fit(e, n_clusters=8, n_iters=4)

    q["q_kmeans_fit"] = q_kmeans_fit

    def q_buffer(spark, sf):  # COMPOSED vector buffer: point raster ->
        # integer-disk dilate (G38) -> marching-squares outline (G34)
        # — the raster-space buffer polygonization, each stage already
        # oracle-gated solo; the composition's oracle replays both
        from osm_pbf_spark.functions.cells import _quant_col
        from osm_pbf_spark.operators.tiling import contour_segments, grid_dilate

        pts = customer_points(spark, sf)
        grid = pts.select(
            _quant_col(F.col("lon"), 180.0, 360.0, 7).alias("x"),
            _quant_col(F.col("lat"), 90.0, 180.0, 7).alias("y"),
        ).distinct()
        dil = grid_dilate(grid, 2)
        return contour_segments(dil.select("x", "y", F.lit(1).alias("n")), 1)

    q["q_buffer"] = q_buffer

    def q_node2vec(spark, sf):  # second-order biased walks: integer
        # (return, in, out) weights, cumulative md5 draw over sorted
        # candidates; Python full-replay oracle
        from osm_pbf_spark.operators.graph import node2vec_walks

        return node2vec_walks(
            _md5_graph(spark, sf), n_steps=4, walks_per_node=2,
            w_return=2, w_in=4, w_out=1,
        )

    q["q_node2vec"] = q_node2vec

    def q_quantile_norm(spark, sf):  # cross-feature quantile
        # normalization: per-feature deterministic rank window + exact
        # rank-sum reference + join back; ragged features raise
        from osm_pbf_spark.operators.stats import quantile_normalize

        li = load(spark, sf, "lineitem").filter(F.col("l_orderkey") < 2000)
        base = li.select(
            (F.col("l_orderkey") * 10 + F.col("l_linenumber")).alias("rid"),
            F.col("l_quantity").cast("bigint").alias("qty"),
            F.floor("l_extendedprice").cast("bigint").alias("price"),
            F.floor(F.col("l_discount") * F.lit(100.0) + F.lit(0.5))
            .cast("bigint")
            .alias("disc"),
        )
        longf = base.selectExpr(
            "rid",
            "stack(3, 'qty', qty, 'price', price, 'disc', disc)"
            " AS (feature, value)",
        )
        return quantile_normalize(longf, "rid", "feature", "value")

    q["q_quantile_norm"] = q_quantile_norm

    def q_winnow(spark, sf):  # MOSS winnowing fingerprints: k-gram
        # md5-40 hashes, packed-int sliding min with rightmost ties
        from osm_pbf_spark.operators.text import winnow_fingerprints

        d = load(spark, sf, "documents").filter(F.col("doc_id") < 1500)
        return winnow_fingerprints(d, k=4, window=3)

    q["q_winnow"] = q_winnow

    def q_ppr(spark, sf):  # personalized PageRank: teleport to seeds,
        # exact int64 floor-div rounds (the pagerank discipline)
        from osm_pbf_spark.operators.graph import personalized_pagerank

        seeds = spark.createDataFrame([(3,), (17,)], "node long")
        return personalized_pagerank(
            _md5_graph(spark, sf), seeds, iterations=5
        )

    q["q_ppr"] = q_ppr

    def q_dtw(spark, sf):  # elastic series-similarity join: blocked
        # candidate pairs -> ONE anti-diagonal-vectorized DTW DP
        # refine; exact int64 squared-delta costs, Sakoe-Chiba band 3
        from osm_pbf_spark.operators.temporal import dtw_join

        e = load(spark, sf, "events").filter(F.col("event_id") < 48)
        sid = F.col("event_id")
        series = e.select(
            sid.alias("sid"),
            (sid % 8).alias("blk"),
            F.transform(
                F.sequence(F.lit(0), (F.lit(9) + sid % 5).cast("int")),
                lambda i: (
                    (sid % 7) * 100 + F.pmod(sid * 13 + i * 29, F.lit(50))
                ).cast("long"),
            ).alias("arr"),
        )
        a = series.select(
            F.col("sid").alias("id_a"), F.col("blk"), F.col("arr").alias("a")
        )
        b = series.select(
            F.col("sid").alias("id_b"), F.col("blk"), F.col("arr").alias("b")
        )
        pairs = a.join(b, "blk").where(F.col("id_a") < F.col("id_b")).drop("blk")
        return dtw_join(pairs, max_cost=200_000, band=3)

    q["q_dtw"] = q_dtw

    def q_diameter(spark, sf):  # COMPOSED double-BFS eccentricity
        # (the classic diameter lower bound): BFS from node 0 -> pick
        # the farthest node (hops DESC, node ASC tie) -> BFS again ->
        # the second eccentricity. Both stages are the gated G14 op.
        from osm_pbf_spark.operators.graph import bfs_hops

        edges = _md5_graph(spark, sf)
        s0 = spark.createDataFrame([(0,)], "node long")
        h1 = bfs_hops(edges, s0)
        far = (
            h1.orderBy(F.col("hops").desc(), F.col("node").asc())
            .limit(1)
            .select("node")
        )
        h2 = bfs_hops(edges, far)
        return (
            far.select(F.col("node").alias("far_node"))
            .crossJoin(
                h2.agg(
                    F.max("hops").alias("ecc"),
                    F.count(F.lit(1)).alias("n_reached"),
                )
            )
        )

    q["q_diameter"] = q_diameter

    def q_neg_samples(spark, sf):  # SGNS negatives: dense sorted-vocab
        # index + md5 draws, own-center/context drops (no resample)
        from osm_pbf_spark.operators.graph import (
            negative_samples,
            random_walks,
            walk_pairs,
        )

        g = _md5_graph(spark, sf)
        pairs = walk_pairs(
            random_walks(g, n_steps=3, walks_per_node=1), window=2
        )
        vocab = g.select(F.col("src").alias("node")).unionAll(
            g.select(F.col("dst").alias("node"))
        )
        return negative_samples(pairs, vocab, k=3)

    q["q_neg_samples"] = q_neg_samples

    def q_sink_changes(spark, sf):  # C23 snapshot changelog — COMPOSED
        # C4 time travel x C18 table_diff: row-level inserts/deletes
        # between two retained snapshots, no CDC log needed (the
        # Iceberg changelog-read shape from parts already gated solo)
        import shutil
        import tempfile

        from osm_pbf_spark.operators.checksum import table_diff
        from osm_pbf_spark.plans.ingest import ingest_pbf

        path = _fixture_pbf("sink")
        root = os.path.join(
            tempfile.gettempdir(), "osm_pbf_spark_driver_sink_chg"
        )
        shutil.rmtree(root, ignore_errors=True)
        sink = ingest_pbf(spark, path, root, cell_level=12, blobs_per_split=1)
        s1 = sink.current_snapshot()
        base = sink.read(spark)
        junk = base.where(
            "substring(doc_id, -1) in ('1', '3', '5')"
        ).withColumn("doc_id", F.concat(F.lit("junk/"), F.col("doc_id")))
        sink.write_split(junk, "junk-1", lineage={"op": "append"})
        sink.delete_keys(
            base.where("substring(doc_id, -1) in ('2', '6')").select("doc_id"),
            ["doc_id"],
            "del-1",
        )
        s2 = sink.commit_snapshot({"pipeline": "changes"})
        old = sink.read_snapshot(spark, s1["snapshot_id"]).select(
            "doc_id", "cell", F.size("spans").alias("n_spans")
        )
        new = sink.read_snapshot(spark, s2["snapshot_id"]).select(
            "doc_id", "cell", F.size("spans").alias("n_spans")
        )
        d = table_diff(old, new, ["doc_id"])
        return d.groupBy("diff_status").agg(
            F.count(F.lit(1)).alias("n"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
        )

    q["q_sink_changes"] = q_sink_changes

    def q_media_groups(spark, sf):  # COMPOSED media dedup closure:
        # P38 dHash near-dup pairs -> P15 connected components ->
        # P69 canonical survivors — the full image-dedup pipeline from
        # parts gated solo (the q_media_neardup gallery, verbatim)
        from osm_pbf_spark.operators.graph import (
            dedup_canonical,
            near_dup_groups,
        )
        from osm_pbf_spark.operators.multimodal import (
            dhash64_col,
            media_pixels,
            near_dup_media_pairs,
            synth_media_table,
        )

        media = synth_media_table(spark, 48)
        px = media_pixels(media)
        base_id = F.substring("media_ref", 2, 10).cast("int")
        variants = (
            px.where(base_id < 10)
            .withColumn("_pos", F.pmod(base_id * 5, F.lit(64)))
            .select(
                F.concat(F.lit("dup/"), F.col("media_ref")).alias("media_ref"),
                F.transform(
                    "px",
                    lambda x, i: F.when(
                        i == F.col("_pos"), F.least(x + 1, F.lit(255))
                    ).otherwise(x),
                ).alias("px"),
            )
        )
        gallery = px.unionByName(variants)
        hashed = gallery.select(
            "media_ref", dhash64_col(F.col("px")).alias("phash")
        )
        pairs = near_dup_media_pairs(hashed, max_hamming=3).select(
            "id_a", "id_b"
        )
        groups = near_dup_groups(
            hashed.select("media_ref"), pairs, id_col="media_ref"
        )
        return dedup_canonical(groups, id_col="media_ref")

    q["q_media_groups"] = q_media_groups

    def q_ring_orient(spark, sf):  # OGC winding normalization: exact
        # integer shoelace orientation + conditional position reversal
        from osm_pbf_spark.operators.measures import (
            normalize_ring_orientation,
        )

        pts = customer_points(spark, sf).where(F.col("doc_id") < 4000)
        verts = pts.select(
            F.pmod(F.col("doc_id"), F.lit(40)).alias("line_id"),
            "lat",
            "lon",
            F.col("doc_id").alias("_k"),
        )
        w_pos = Window.partitionBy("line_id").orderBy("_k")
        ring = verts.select(
            "line_id",
            (F.row_number().over(w_pos) - 1).cast("long").alias("pos"),
            "lat",
            "lon",
        )
        out = normalize_ring_orientation(ring)
        return out.select(
            "line_id", "pos", "lat", "lon", "ring_ccw", "was_reversed"
        )

    q["q_ring_orient"] = q_ring_orient

    def q_rle(spark, sf):  # run-length encoding of per-user event-type
        # timelines: NULL-safe change runs (the SCD2 machinery exposed)
        from osm_pbf_spark.operators.temporal import rle_encode

        e = load(spark, sf, "events").filter(F.col("event_id") < 4000)
        s = e.select(
            (F.col("user_id") % 25).alias("k"),
            F.col("event_id").alias("o"),
            F.when(
                F.col("event_id") % 11 == 0, F.lit(None).cast("string")
            ).otherwise(F.col("event_type")).alias("v"),
        )
        return rle_encode(s, "k", "o", "v")

    q["q_rle"] = q_rle

    def q_stream_distinct(spark, sf):  # streaming unique-users-per-
        # window: watermarked dropDuplicates state + windowed count;
        # availableNow drain == batch COUNT(DISTINCT)
        from osm_pbf_spark.operators.temporal import _epoch_micros
        from osm_pbf_spark.streaming import (
            run_available_now,
            stream_parquet,
            stream_windowed_distinct,
        )

        sdf = stream_parquet(spark, f"{sf}/events.parquet").select(
            "ts", "user_id"
        )
        # complete mode: append-mode watermark finalization would hold
        # back the trailing windows at end-of-input (the q_stream_window
        # convention)
        out = run_available_now(
            stream_windowed_distinct(sdf, "ts", ["user_id"], "6 hours"),
            output_mode="complete",
        )
        return out.select(
            _epoch_micros(F.col("window_start")).alias("window_start_us"),
            _epoch_micros(F.col("window_end")).alias("window_end_us"),
            "n_distinct",
        )

    q["q_stream_distinct"] = q_stream_distinct

    def q_youden(spark, sf):  # Youden-J operating point: exact-int
        # argmax of tp*N - fp*P over distinct-score thresholds,
        # smallest-threshold ties
        from osm_pbf_spark.operators.stats import youden_threshold

        e = load(spark, sf, "events").filter(F.col("event_id") < 6000)
        d = e.select(
            # score correlates with the label + noise, so the optimum
            # is a genuine interior threshold
            (
                F.when(F.col("event_id") % 3 == 0, 50).otherwise(0)
                + F.col("event_id") % 40
            ).cast("long").alias("score"),
            F.when(F.col("event_id") % 3 == 0, 1).otherwise(0).alias("y"),
        )
        return youden_threshold(d, "score", "y")

    q["q_youden"] = q_youden

    def q_cross_track(spark, sf):  # spherical route-corridor distances:
        # signed XTD + along-track mm for every point vs a fixed leg,
        # pure codegen trig chains, mm rounding absorbs ulp drift
        from osm_pbf_spark.operators.measures import (
            along_track_mm,
            cross_track_mm,
        )

        pts = customer_points(spark, sf).where(F.col("doc_id") < 3000)
        la1, lo1, la2, lo2 = (
            F.lit(10.0), F.lit(-20.0), F.lit(30.0), F.lit(25.0),
        )
        la, lo = F.col("lat"), F.col("lon")
        return pts.select(
            "doc_id",
            cross_track_mm(la, lo, la1, lo1, la2, lo2).alias("xtd_mm"),
            along_track_mm(la, lo, la1, lo1, la2, lo2).alias("atd_mm"),
        )

    q["q_cross_track"] = q_cross_track

    def q_group_minhash(spark, sf):  # mergeable group-level MinHash:
        # elementwise-min union sketches per source + pairwise
        # agreement Jaccard between sources — corpus-overlap auditing
        # with no document rejoin
        from osm_pbf_spark.operators.dedup import (
            group_minhash,
            group_minhash_similarity,
        )

        d = load(spark, sf, "documents").filter(F.col("doc_id") < 800)
        sk = group_minhash(d, "source")
        return group_minhash_similarity(sk, "source")

    q["q_group_minhash"] = q_group_minhash

    def q_simhash_groups(spark, sf):  # COMPOSED text-dedup closure
        # (the q_media_groups pattern in the text domain): P4 SimHash
        # pairs -> P15 CC -> P69 canonical survivors over the recrawl
        # corpus — every recrawl copy must collapse onto its original
        from osm_pbf_spark.operators.graph import (
            dedup_canonical,
            near_dup_groups,
        )

        d = load(spark, sf, "documents").filter(F.col("doc_id") < 200)
        recrawl = d.withColumn("doc_id", F.col("doc_id") + 1000000)
        corpus = d.unionByName(recrawl)
        pairs = simhash_pairs(corpus, max_hamming=3).select("id_a", "id_b")
        groups = near_dup_groups(corpus, pairs)
        return dedup_canonical(groups)

    q["q_simhash_groups"] = q_simhash_groups

    def q_lorenz(spark, sf):  # Lorenz-curve points (the curve behind
        # R50's Gini): cumulative share of order value by ascending
        # customer spend, ppm-quantized deciles
        o = load(spark, sf, "orders")
        per = o.groupBy("o_custkey").agg(
            F.floor(F.sum("o_totalprice")).cast("bigint").alias("spend")
        )
        w = Window.orderBy("spend", "o_custkey")
        ranked = per.select(
            "spend",
            F.row_number().over(w).alias("rk"),
            F.sum("spend")
            .over(w.rowsBetween(Window.unboundedPreceding, 0))
            .alias("cum"),
        )
        tot = per.agg(
            F.count(F.lit(1)).alias("n"), F.sum("spend").alias("t")
        )
        j = ranked.crossJoin(F.broadcast(tot))
        decile = F.expr("(rk * 10) div n")
        return (
            j.withColumn("decile", decile.cast("int"))
            .groupBy("decile")
            .agg(
                F.max("rk").alias("n_custs"),
                F.expr("max(cum * 1000000 div t)").alias("cum_share_ppm"),
            )
            .where(F.col("decile") >= 1)
        )

    q["q_lorenz"] = q_lorenz

    def q_stream_left_outer(spark, sf):  # S16 stream-stream LEFT OUTER
        # join: click -> purchase attribution INCLUDING the misses. A
        # far-future sentinel row on BOTH streams pushes the global
        # watermark past every real click's horizon (left_ts + upper),
        # so the availableNow drain evicts + emits every unmatched left
        # as a null-joined row and the closed-input result equals the
        # plain batch LEFT JOIN — which IS the oracle.
        import datetime as _dt
        import shutil
        import tempfile

        from osm_pbf_spark.streaming import (
            run_available_now,
            stream_parquet,
            stream_stream_join,
        )

        inst = lambda c: F.to_utc_timestamp(F.col(c), "UTC")  # noqa: E731
        ev_path = f"{sf}/events.parquet"
        max_ts = spark.read.parquet(ev_path).agg(F.max("ts")).first()[0]
        sent_ts = max_ts + _dt.timedelta(hours=1000)
        sdir = os.path.join(
            tempfile.gettempdir(), "osm_pbf_spark_driver_s16_sentinel"
        )
        shutil.rmtree(sdir, ignore_errors=True)
        spark.createDataFrame(
            [(-1, sent_ts, -1)], "user_id long, ts timestamp, event_id long"
        ).coalesce(1).write.parquet(sdir)

        def side(ts_alias, id_alias, etype=None):
            real = stream_parquet(spark, ev_path)
            if etype == "click":
                real = real.filter(
                    (F.col("event_type") == "click")
                    & (F.col("event_id") < 4000)
                )
            else:
                real = real.filter(F.col("event_type") == "purchase")
            real = real.select(
                "user_id",
                inst("ts").alias(ts_alias),
                F.col("event_id").alias(id_alias),
            )
            sent = stream_parquet(spark, sdir).select(
                "user_id",
                inst("ts").alias(ts_alias),
                F.col("event_id").alias(id_alias),
            )
            return real.unionAll(sent)

        j = stream_stream_join(
            side("click_ts", "click_id", "click"),
            side("buy_ts", "buy_id"),
            on=["user_id"],
            left_ts="click_ts",
            right_ts="buy_ts",
            upper="6 hours",
            watermark="12 hours",
            how="left_outer",
        )
        out = run_available_now(j, output_mode="append")
        return out.where(F.col("user_id") >= 0).select(
            "user_id",
            F.unix_micros("click_ts").alias("click_us"),
            "click_id",
            F.unix_micros("buy_ts").alias("buy_us"),
            "buy_id",
        )

    q["q_stream_left_outer"] = q_stream_left_outer

    def q_sink_retention(spark, sf):  # C24 age-based snapshot
        # retention: a YOUNG snapshot survives expiry beyond keep_last
        # (read it back = the base+junk state), then backdating it
        # makes the same expiry call drop it and time travel to it
        # fails loudly. Final read strips the junk -> the pure-ingest
        # spec oracle, reused verbatim.
        import json as _json
        import shutil
        import tempfile

        from osm_pbf_spark.plans.ingest import ingest_pbf

        path = _fixture_pbf("sink")
        root = os.path.join(
            tempfile.gettempdir(), "osm_pbf_spark_driver_sink_ret"
        )
        shutil.rmtree(root, ignore_errors=True)
        sink = ingest_pbf(spark, path, root, cell_level=12, blobs_per_split=1)
        (snap_a,) = [s["snapshot_id"] for s in sink.snapshots()[-1:]]
        base = sink.read(spark)
        junk = base.where("pmod(cell, 4) = 1").withColumn(
            "doc_id", F.concat(F.lit("junk/"), F.col("doc_id"))
        )
        sink.write_split(junk, "junk-1", lineage={"op": "append"})
        sink.commit_snapshot({"pipeline": "junk"})
        # young A is kept beyond keep_last=1 (the older_than form)
        res = sink.expire_snapshots(keep_last=1, max_age_s=3600)
        assert res["expired"] == [], res
        assert sink.read_snapshot(spark, snap_a).count() == base.count()
        # backdate A past the age bound -> the SAME call now drops it
        sdir_ = os.path.join(root, "_snapshots")
        for fn in sorted(os.listdir(sdir_)):
            p = os.path.join(sdir_, fn)
            d = _json.load(open(p))
            if d["snapshot_id"] == snap_a:
                d["committed_at_unix"] = 1_000_000
                _json.dump(d, open(p, "w"))
        res2 = sink.expire_snapshots(keep_last=1, max_age_s=3600)
        assert snap_a in res2["expired"], res2
        try:
            sink.read_snapshot(spark, snap_a)
            raise AssertionError("expired snapshot must not time-travel")
        except (KeyError, ValueError, OSError):
            pass
        lo, hi = SINK_PRUNE_RANGE
        docs = sink.read(spark).filter(
            F.col("cell").between(lo, hi)
            & ~F.col("doc_id").startswith("junk/")
        )
        return docs.groupBy("cell").agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").alias("first_doc"),
            F.sum(F.size("spans")).alias("spans_total"),
            F.sum(
                F.length(F.element_at("spans", -1)["media_ref"])
            ).alias("media_len_total"),
        )

    q["q_sink_retention"] = q_sink_retention

    def q_mis(spark, sf):  # Luby-class maximal independent set over a
        # deterministic events-derived graph; oracle = sequential
        # greedy by the (md5_40(v), v) total order
        from osm_pbf_spark.operators.graph import luby_mis

        ev = load(spark, sf, "events").where(F.col("event_id") < 2000)
        e = ev.select(
            F.pmod(F.col("event_id") * 11, F.lit(240)).alias("src"),
            F.pmod(F.col("event_id") * 17 + 5, F.lit(240)).alias("dst"),
        )
        return luby_mis(e).select("node").orderBy("node")

    q["q_mis"] = q_mis

    def q_scc(spark, sf):  # strongly connected components (directed)
        # over an events-derived graph; oracle = iterative Tarjan
        from osm_pbf_spark.operators.graph import scc

        ev = load(spark, sf, "events").where(F.col("event_id") < 1500)
        e = ev.select(
            F.pmod(F.col("event_id") * 7, F.lit(150)).alias("src"),
            F.pmod(F.col("event_id") * 23 + 1, F.lit(150)).alias("dst"),
        )
        return scc(e).orderBy("node")

    q["q_scc"] = q_scc

    def q_topo_layers(spark, sf):  # DAG longest-path layers; the
        # a < b edge construction guarantees acyclicity
        from osm_pbf_spark.operators.graph import topo_layers

        ev = load(spark, sf, "events").where(F.col("event_id") < 1200)
        a = F.pmod(F.col("event_id"), F.lit(120))
        e = ev.select(
            a.alias("src"),
            (a + 1 + F.pmod(F.col("event_id") * 7, F.lit(20))).alias("dst"),
        )
        return topo_layers(e).orderBy("node")

    q["q_topo_layers"] = q_topo_layers

    def q_adamic_adar(spark, sf):  # degree-weighted link prediction;
        # oracle = verbatim wedge SQL with sum(1/ln(deg))
        from osm_pbf_spark.operators.graph import adamic_adar

        ev = load(spark, sf, "events").where(F.col("event_id") < 450)
        e = ev.select(
            F.pmod(F.col("event_id") * 5, F.lit(400)).alias("src"),
            F.pmod(F.col("event_id") * 7 + 2, F.lit(400)).alias("dst"),
        )
        return adamic_adar(e).orderBy("u", "v")

    q["q_adamic_adar"] = q_adamic_adar

    def q_bh_fdr(spark, sf):  # Benjamini-Hochberg step-up over
        # events-derived ppm p-values, per event_type; exact integer
        # cross-multiplication rule — oracle is verbatim window SQL
        from osm_pbf_spark.operators.stats import bh_fdr

        ev = load(spark, sf, "events").where(F.col("event_id") < 5000)
        t = ev.select(
            F.col("event_type").alias("g"),
            F.pmod(
                F.pmod(F.col("event_id") * 37, F.lit(1009)) * 991,
                F.lit(1_000_001),
            ).alias("p_ppm"),
        )
        return bh_fdr(
            t, alpha_num=5, alpha_den=100, group_cols=["g"]
        ).orderBy("g")

    q["q_bh_fdr"] = q_bh_fdr

    def q_fisher(spark, sf):  # Fisher EXACT 2x2 per event_type: cells
        # from event_id mod 4; exact big-int hypergeometric two-sided
        # p — oracle is the identical Fraction replay
        from osm_pbf_spark.operators.stats import fisher_exact

        ev = load(spark, sf, "events").where(F.col("event_id") < 400)
        m4 = F.pmod(F.col("event_id"), F.lit(4))
        agg = ev.groupBy(F.col("event_type").alias("g")).agg(
            F.sum((m4 == 0).cast("long")).alias("a"),
            F.sum((m4 == 1).cast("long")).alias("b"),
            F.sum((m4 == 2).cast("long")).alias("c"),
            F.sum((m4 == 3).cast("long")).alias("d"),
        )
        return fisher_exact(agg).orderBy("g")

    q["q_fisher"] = q_fisher

    def q_flow_acc(spark, sf):  # D8 flow ACCUMULATION composed on the
        # q_flow_dir grid: topological-wave subtree sizes; oracle =
        # scalar D8 + memoized upstream-count replay
        from osm_pbf_spark.operators.tiling import (
            flow_accumulation,
            flow_direction,
        )

        k = F.col("o_orderkey")
        grid = load(spark, sf, "orders").filter(k < 1024).select(
            (k % 32).alias("x"),
            ((k - k % 32) / 32 % 32).cast("bigint").alias("y"),
            ((k * 7919) % 1000).alias("z"),
        )
        return flow_accumulation(flow_direction(grid)).orderBy("x", "y")

    q["q_flow_acc"] = q_flow_acc

    def q_ams(spark, sf):  # AMS F2 sketch over document sources:
        # exact +-1 md5-nibble signs, 16 mergeable per-sketch sums —
        # oracle replays the identical md5 parity in SQL
        from osm_pbf_spark.operators.sketch import ams_f2

        d = load(spark, sf, "documents").where(F.col("doc_id") < 3000)
        return ams_f2(d.select(F.col("source").alias("v")), "v", n_sketches=16)

    q["q_ams"] = q_ams

    def q_bearing(spark, sf):  # initial great-circle bearing between
        # consecutive customer points, integer millidegrees; oracle =
        # identical atan2 chain in SQL
        from osm_pbf_spark.operators.measures import initial_bearing_mdeg

        pts = customer_points(spark, sf).where(F.col("doc_id") < 3000)
        a = pts.select(
            F.col("doc_id"), F.col("lat").alias("la1"), F.col("lon").alias("lo1")
        )
        b = pts.select(
            (F.col("doc_id") - 1).alias("doc_id"),
            F.col("lat").alias("la2"),
            F.col("lon").alias("lo2"),
        )
        j = a.join(b, "doc_id")
        return j.select(
            "doc_id",
            initial_bearing_mdeg(
                F.col("la1"), F.col("lo1"), F.col("la2"), F.col("lo2")
            ).alias("bearing_mdeg"),
        ).orderBy("doc_id")

    q["q_bearing"] = q_bearing

    def q_destination(spark, sf):  # spherical dead-reckoning: project
        # each point along a derived bearing/distance; 1e-7-degree int
        # outputs; oracle = identical Williams chain in SQL
        from osm_pbf_spark.operators.measures import destination_point

        pts = customer_points(spark, sf).where(F.col("doc_id") < 3000)
        d = pts.select(
            "doc_id",
            destination_point(
                F.col("lat"),
                F.col("lon"),
                F.pmod(F.col("doc_id") * 37, F.lit(360)).cast("double"),
                (F.pmod(F.col("doc_id"), F.lit(5000)) * 100).cast("double"),
            ).alias("_d"),
        )
        return d.select(
            "doc_id", F.col("_d.lat_e7").alias("lat_e7"),
            F.col("_d.lon_e7").alias("lon_e7"),
        ).orderBy("doc_id")

    q["q_destination"] = q_destination

    def q_centroid(spark, sf):  # exact-int shoelace centroid WITH
        # holes, composed on the distributed ring stitcher over the
        # 150-relation fixture; oracle = scalar chain + int shoelace
        from osm_pbf_spark.operators.measures import ring_centroid
        from osm_pbf_spark.sources import pbf_source as src

        entities, _hdr = src.read_pbf(spark, _fixture_pbf("rel_many"))
        rings = src.relation_rings(
            src.relations(entities), src.ways(entities), src.nodes(entities)
        )
        # 1e-5-degree scale: the fixture's 0.8-degree rings exceed the
        # default scale's cubic int64 budget (the loud guard), and
        # ~1.1 m quantization is far below the centroid tolerance
        return ring_centroid(rings, scale=100_000).orderBy("poly_id")

    q["q_centroid"] = q_centroid

    def q_scrub(spark, sf):  # text scrub: control strip + whitespace
        # collapse + trim (+ lowercase variant) over doctored docs
        from osm_pbf_spark.operators.text import scrub_text

        d = load(spark, sf, "documents").where(F.col("doc_id") < 500)
        t2 = F.concat(
            F.lit("\t"), F.col("text"), F.lit("\x07"), F.lit("  x ")
        )
        return d.select(
            "doc_id",
            scrub_text(t2).alias("scrubbed"),
            scrub_text(t2, lowercase=True).alias("scrubbed_lower"),
        ).orderBy("doc_id")

    q["q_scrub"] = q_scrub

    def q_flesch(spark, sf):  # Flesch reading ease: exact integer
        # word/sentence/vowel-group counts, rational score
        from osm_pbf_spark.operators.text import flesch_score

        d = load(spark, sf, "documents").where(F.col("doc_id") < 2000)
        return flesch_score(d).orderBy("doc_id")

    q["q_flesch"] = q_flesch

    def q_sink_branch(spark, sf):  # C25 branches + WAP: stage junk ->
        # branch 'audit' -> rollback main (clean) -> audit reads the
        # branch -> publish -> main adopts. Final read strips junk ->
        # the pure-ingest spec oracle, reused verbatim.
        import shutil
        import tempfile

        from osm_pbf_spark.plans.ingest import ingest_pbf

        path = _fixture_pbf("sink")
        root = os.path.join(
            tempfile.gettempdir(), "osm_pbf_spark_driver_sink_branch"
        )
        shutil.rmtree(root, ignore_errors=True)
        sink = ingest_pbf(spark, path, root, cell_level=12, blobs_per_split=1)
        snap_a = sink.current_snapshot()
        base_n = sink.read(spark).count()
        junk = sink.read(spark).withColumn(
            "doc_id", F.concat(F.lit("junk/"), F.col("doc_id"))
        )
        sink.write_split(junk, "junk-1", lineage={"op": "append"})
        sink.commit_snapshot({"pipeline": "staged"})
        sink.branch_snapshot("audit")
        sink.rollback_to(snap_a["snapshot_id"])
        assert sink.read(spark).count() == base_n  # main is clean
        assert sink.read_branch(spark, "audit").count() > base_n
        sink.publish_branch("audit")
        lo, hi = SINK_PRUNE_RANGE
        docs = sink.read(spark).filter(
            F.col("cell").between(lo, hi)
            & ~F.col("doc_id").startswith("junk/")
        )
        return docs.groupBy("cell").agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").alias("first_doc"),
            F.sum(F.size("spans")).alias("spans_total"),
            F.sum(
                F.length(F.element_at("spans", -1)["media_ref"])
            ).alias("media_len_total"),
        )

    q["q_sink_branch"] = q_sink_branch

    def q_coloring(spark, sf):  # iterated-MIS proper coloring over an
        # events-derived graph; oracle = phase-by-phase greedy replay
        from osm_pbf_spark.operators.graph import mis_coloring

        ev = load(spark, sf, "events").where(F.col("event_id") < 1600)
        e = ev.select(
            F.pmod(F.col("event_id") * 13, F.lit(200)).alias("src"),
            F.pmod(F.col("event_id") * 29 + 7, F.lit(200)).alias("dst"),
        )
        return mis_coloring(e).orderBy("node")

    q["q_coloring"] = q_coloring

    def q_perm_test(spark, sf):  # deterministic permutation test:
        # md5-ranked size-preserving reshuffles, exact integer
        # cross-multiplied mean-difference comparisons
        from osm_pbf_spark.operators.stats import perm_test

        ev = load(spark, sf, "events").where(F.col("event_id") < 600)
        t = ev.select(
            F.col("event_id").alias("rid"),
            F.when(F.pmod(F.col("event_id"), F.lit(3)) == 0, F.lit("a"))
            .otherwise(F.lit("b"))
            .alias("g"),
            (
                F.floor(F.col("value")).cast("bigint")
                + F.when(F.pmod(F.col("event_id"), F.lit(3)) == 0, F.lit(7))
                .otherwise(F.lit(0))
            ).alias("v"),
        )
        return perm_test(t, "v", "g", "rid", n_perms=99, seed=7)

    q["q_perm_test"] = q_perm_test

    def q_fk_check(spark, sf):  # referential integrity: lineitem part
        # keys against an artificially truncated part dimension
        from osm_pbf_spark.operators.dq import fk_check

        li = load(spark, sf, "lineitem").where(F.col("l_orderkey") < 2000)
        part = load(spark, sf, "part").where(F.col("p_partkey") % 5 != 0)
        return fk_check(li, part, "l_partkey", "p_partkey")

    q["q_fk_check"] = q_fk_check

    def q_betweenness(spark, sf):  # sampled BFS-tree betweenness:
        # md5-ranked landmarks, canonical min-id parent trees, exact
        # int descendant credits; oracle = scalar replay
        from osm_pbf_spark.operators.graph import tree_betweenness

        ev = load(spark, sf, "events").where(F.col("event_id") < 1000)
        e = ev.select(
            F.pmod(F.col("event_id") * 7, F.lit(120)).alias("src"),
            F.pmod(F.col("event_id") * 13 + 3, F.lit(120)).alias("dst"),
        )
        return tree_betweenness(e, n_landmarks=6).orderBy("node")

    q["q_betweenness"] = q_betweenness

    def q_densify(spark, sf):  # great-circle slerp densification of
        # consecutive-customer legs; 1e-7-degree int outputs; oracle =
        # identical trig chain in SQL
        from osm_pbf_spark.operators.measures import densify_route

        pts = customer_points(spark, sf).where(F.col("doc_id") < 2000)
        a = pts.select(
            "doc_id", F.col("lat").alias("lat1"), F.col("lon").alias("lon1")
        )
        b = pts.select(
            (F.col("doc_id") - 1).alias("doc_id"),
            F.col("lat").alias("lat2"),
            F.col("lon").alias("lon2"),
        )
        legs = a.join(b, "doc_id")
        return densify_route(legs, n_points=3).select(
            "doc_id", "seq", "lat_e7", "lon_e7"
        ).orderBy("doc_id", "seq")

    q["q_densify"] = q_densify

    def q_url_dedup(spark, sf):  # COMPOSED crawl dedup: url_normalize
        # -> canonical-key grouping -> min-id survivor + dup count
        # (the exact-dedup pattern on the URL key instead of content)
        from osm_pbf_spark.operators.text import url_normalize

        k = F.col("o_orderkey")
        o = load(spark, sf, "orders").filter(k < 3000)
        url = F.concat(
            F.element_at(
                F.array(F.lit("http"), F.lit("HTTPS"), F.lit("ftp")),
                (k % 3 + 1).cast("int"),
            ),
            F.lit("://"),
            F.lit("WWW.Site"), (k % 50).cast("string"), F.lit(".Example.COM"),
            F.element_at(
                F.array(F.lit(""), F.lit(":80"), F.lit(":443"), F.lit(":8080")),
                (k % 4 + 1).cast("int"),
            ),
            F.element_at(
                F.array(F.lit(""), F.lit("/"), F.lit("/a/b"), F.lit("/a/b/"),
                        F.lit("/idx.html")),
                (k % 5 + 1).cast("int"),
            ),
            F.element_at(
                F.array(F.lit(""), F.lit("?x=1&y=2")), (k % 2 + 1).cast("int")
            ),
            F.when(k % 7 == 0, F.lit("#sec")).otherwise(F.lit("")),
        )
        n = url_normalize(o.select("o_orderkey", url.alias("url")))
        return (
            n.groupBy("url_norm")
            .agg(
                F.min("o_orderkey").alias("canonical"),
                F.count(F.lit(1)).alias("n_dups"),
            )
            .orderBy("url_norm")
        )

    q["q_url_dedup"] = q_url_dedup

    def q_stream_upsert(spark, sf):  # S19 streaming CDC apply: keyed
        # changelog drains into the sink as last-write-wins state via
        # per-batch MERGE; oracle = plain argmax-per-key SQL
        import shutil
        import tempfile

        from osm_pbf_spark.sink.iceberg_like import IcebergLikeSink
        from osm_pbf_spark.streaming import stream_parquet, stream_upsert

        root = os.path.join(
            tempfile.gettempdir(), "osm_pbf_spark_driver_stream_upsert"
        )
        shutil.rmtree(root, ignore_errors=True)
        sink = IcebergLikeSink(os.path.join(root, "t"), stats_col="k")
        ch = stream_parquet(spark, f"{sf}/events.parquet").where(
            F.col("event_id") < 5000
        ).select(
            F.col("user_id").alias("k"),
            F.col("event_id").alias("ver"),
            F.col("event_type").alias("payload"),
        )
        stream_upsert(
            ch, sink, ["k"],
            checkpoint_dir=os.path.join(root, "ck"),
            dedup_order_col="ver",
        ).awaitTermination()
        return sink.read(spark).select("k", "ver", "payload").orderBy("k")

    q["q_stream_upsert"] = q_stream_upsert

    def q_attribution(spark, sf):  # last-touch attribution: credit
        # each purchase to the user's most recent click within 6 hours
        # (ties to the larger event id), NULL = organic
        from osm_pbf_spark.operators.temporal import attribution_last_touch

        ev = load(spark, sf, "events").where(F.col("event_id") < 6000)
        return attribution_last_touch(
            ev,
            F.col("event_type") == "purchase",
            F.col("event_type") == "click",
            "6 hours",
        ).select(
            "user_id", "conv_id",
            F.unix_micros(F.col("conv_ts").cast("timestamp")).alias("conv_us"),
            "touch_id",
            F.unix_micros(F.col("touch_ts").cast("timestamp")).alias("touch_us"),
        ).orderBy("conv_id")

    q["q_attribution"] = q_attribution

    def q_lisa(spark, sf):  # LOCAL Moran's I (Anselin LISA) on the
        # q_morans_i grid: per-cell cluster cores + outliers, exact
        # integer numerators, one final division
        from osm_pbf_spark.operators.spatialstats import (
            grid_cell_counts,
            local_morans_i,
        )

        return local_morans_i(
            grid_cell_counts(customer_points(spark, sf), 5.0)
        ).orderBy("cx", "cy")

    q["q_lisa"] = q_lisa

    def q_interleave(spark, sf):  # deterministic source-interleaved
        # training order: per-source md5 ranks, round-robin read order
        from osm_pbf_spark.operators.packing import interleave_sources

        d = load(spark, sf, "documents").where(F.col("doc_id") < 3000)
        return interleave_sources(d).orderBy("pos_in_round", "source")

    q["q_interleave"] = q_interleave

    def q_semantic_dedup(spark, sf):  # COMPOSED embedding-level dedup
        # over a recrawl corpus (every 3rd vector duplicated at +10000
        # ids): exact cosine pairs -> CC closure -> min-id canonical
        # survivors — the media_groups pattern in the EMBEDDING
        # modality
        from osm_pbf_spark.operators.ann import cosine_topk
        from osm_pbf_spark.operators.graph import (
            dedup_canonical,
            near_dup_groups,
        )

        base = load(spark, sf, "embeddings").where(F.col("vec_id") < 300)
        emb = base.unionAll(
            base.where(F.pmod(F.col("vec_id"), F.lit(3)) == 0).withColumn(
                "vec_id", F.col("vec_id") + 10_000
            )
        ).select("vec_id", "embedding")
        nn = cosine_topk(emb, emb, k=4)
        pairs = (
            nn.where(F.col("cos") > 0.99)
            .select(
                F.least("query_id", "neighbor_id").alias("id_a"),
                F.greatest("query_id", "neighbor_id").alias("id_b"),
            )
            .distinct()
        )
        groups = near_dup_groups(
            emb.select(F.col("vec_id").alias("doc_id")), pairs
        )
        return dedup_canonical(groups).orderBy("group_id", "doc_id")

    q["q_semantic_dedup"] = q_semantic_dedup

    def q_quality_filter(spark, sf):  # COMPOSED quality gate: Flesch
        # readability + repetition ratio votes -> keep decision per doc
        # (the multi-signal filter every corpus pipeline ships)
        from osm_pbf_spark.operators.text import flesch_score

        d = load(spark, sf, "documents").where(F.col("doc_id") < 2000)
        fl = flesch_score(d)
        toks = F.filter(F.split(F.col("text"), " "), lambda t: t != "")
        rep = d.select(
            "doc_id",
            F.size(toks).alias("n_toks"),
            F.size(F.array_distinct(toks)).alias("n_uniq"),
        )
        j = fl.join(rep, "doc_id")
        keep = (
            (F.col("n_words") >= 5)
            & (F.col("flesch") > -100.0)
            & (F.col("n_uniq") * 10 >= F.col("n_toks") * 3)  # <=70% repeats
        )
        return j.select(
            "doc_id", "n_words", "n_uniq", "n_toks", keep.alias("keep")
        ).orderBy("doc_id")

    q["q_quality_filter"] = q_quality_filter

    return q


# ---------------------------------------------------------------------------
# VALUES-literal oracles for the decode / LSH surface
#
# These queries consume deterministic inputs (golden PBF fixtures, the
# fixed-seed synth media table, or LSH-banded candidates over the sf
# tables), so their expected outputs are computable by ENGINE-INDEPENDENT
# pure-Python spec oracles (tests/oracle_pbf.py, oracle_render.py,
# oracle_geo.py — scalar loops, no Spark, no numpy decode) and emitted as
# SQL literals DuckDB replays. For the LSH families the oracle is HYBRID:
# the candidate set (which pairs collide in a band/bucket — not
# SQL-expressible) comes from a single-process run of the deterministic
# hash spec, while the verification metric (exact shingle Jaccard /
# hamming distance) is recomputed BY DUCKDB from the raw tables, so the
# distributed join/shuffle plumbing AND the verify math are both checked.
# ---------------------------------------------------------------------------

ORACLE_SF_DIR = os.environ.get("SPARK_GRAFT_ORACLE_SF", "/root/testdata/sf0.01")


def _sql_lit(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, (bool, np.bool_)):
        return "TRUE" if v else "FALSE"
    if isinstance(v, float):
        # QUOTED: a bare decimal literal would be typed DECIMAL(18,n) by
        # DuckDB (losing ulps) before the outer CAST; the VARCHAR->DOUBLE
        # cast parses with correct rounding, so repr round-trips exactly
        return f"'{v!r}'"
    if isinstance(v, (int, np.integer)):
        return str(int(v))
    s = str(v).replace("'", "''")
    return f"'{s}'"


def _ora_isotonic() -> str:
    """Independent isotonic replay via the MINIMAX formula
    fitted(i) = max_{j<=i} min_{k>=j} mean(y[j..k]) with exact
    Fractions — a different algorithm from the engine's PAVA stack;
    blocks are reconstructed as maximal equal-fitted runs (the engine
    merges equal-mean neighbors, so its blocks ARE the level sets)."""
    import math
    from fractions import Fraction

    import pyarrow.parquet as pq

    t = pq.read_table(
        os.path.join(ORACLE_SF_DIR, "events.parquet"),
        columns=["event_id", "event_type", "value"],
    )
    per: dict[str, dict[int, list[int]]] = {}
    for eid, et, v in zip(
        t.column("event_id").to_pylist(),
        t.column("event_type").to_pylist(),
        t.column("value").to_pylist(),
    ):
        x = int(math.floor(float(v) * 2.0))
        lab = 1 if eid % 3 == 0 else 0
        d = per.setdefault(et, {}).setdefault(x, [0, 0])
        d[0] += 1
        d[1] += lab
    rows = []
    for et in per:
        xs = sorted(per[et])
        ns = [per[et][x][0] for x in xs]
        sys_ = [per[et][x][1] for x in xs]
        m = len(xs)
        # prefix sums for O(1) range means
        cn = [0] * (m + 1)
        cs = [0] * (m + 1)
        for i in range(m):
            cn[i + 1] = cn[i] + ns[i]
            cs[i + 1] = cs[i] + sys_[i]
        fitted = []
        for i in range(m):
            best = None
            for j in range(i + 1):
                worst = None
                for kk in range(i, m):
                    mean = Fraction(cs[kk + 1] - cs[j], cn[kk + 1] - cn[j])
                    if worst is None or mean < worst:
                        worst = mean
                if best is None or worst > best:
                    best = worst
            fitted.append(best)
        # maximal equal-fitted runs -> block sums
        i = 0
        while i < m:
            j = i
            while j + 1 < m and fitted[j + 1] == fitted[i]:
                j += 1
            ps = cs[j + 1] - cs[i]
            pc = cn[j + 1] - cn[i]
            for kk in range(i, j + 1):
                rows.append(
                    (et, xs[kk], ns[kk], ps, pc, float(ps) / float(pc))
                )
            i = j + 1
    return _values_sql(
        [
            ("event_type", "VARCHAR"),
            ("x", "BIGINT"),
            ("n", "BIGINT"),
            ("pool_sum", "BIGINT"),
            ("pool_cnt", "BIGINT"),
            ("fitted", "DOUBLE"),
        ],
        rows,
    )


def _ora_chaikin() -> str:
    """Pure-Python scalar replay of two Chaikin passes (plain loops —
    independent plumbing from the engine's window/Generate plan, same
    exact-integer spec)."""
    import math

    import pyarrow.parquet as pq

    t = pq.read_table(
        os.path.join(ORACLE_SF_DIR, "customer.parquet"), columns=["c_custkey"]
    )
    lines: dict[int, list[tuple[int, int, int]]] = {}
    for k in t.column("c_custkey").to_pylist():
        if k >= 2000:
            continue
        lat = -60.0 + ((k * 7919) % 120000) / 1000.0
        lon = -150.0 + ((k * 104729) % 300000) / 1000.0
        ix = math.floor(lat * 100.0 + 0.5)
        iy = math.floor(lon * 100.0 + 0.5)
        lines.setdefault(k % 20, []).append((k, ix, iy))
    rows = []
    for lid in sorted(lines):
        pts = [(x, y) for _, x, y in sorted(lines[lid])]
        for _ in range(2):
            if len(pts) == 1:
                pts = [(pts[0][0] * 4, pts[0][1] * 4)]
                continue
            out = [(pts[0][0] * 4, pts[0][1] * 4)]
            for (x1, y1), (x2, y2) in zip(pts, pts[1:]):
                out.append((3 * x1 + x2, 3 * y1 + y2))
                out.append((x1 + 3 * x2, y1 + 3 * y2))
            out.append((pts[-1][0] * 4, pts[-1][1] * 4))
            pts = out
        for pos, (x, y) in enumerate(pts):
            rows.append((lid, pos, x, y, 2))
    return _values_sql(
        [
            ("line_id", "BIGINT"),
            ("pos", "BIGINT"),
            ("ix", "BIGINT"),
            ("iy", "BIGINT"),
            ("scale_pow4", "INTEGER"),
        ],
        rows,
    )


def _ora_logreg() -> str:
    """Scalar replay of the exact-integer GD spec: int dots, the one
    fixed z/p chain, HALF-UP s_q, int gradient sums, python floor-div
    updates — identical arithmetic, independent plumbing."""
    import math

    import pyarrow.parquet as pq

    t = pq.read_table(
        os.path.join(ORACLE_SF_DIR, "events.parquet"),
        columns=["event_id", "user_id", "value"],
    )
    rows = [
        (
            1,
            int(math.floor(float(v))) % 8,
            int(u % 5),
            1 if e % 3 == 0 else 0,
        )
        for e, u, v in zip(
            t.column("event_id").to_pylist(),
            t.column("user_id").to_pylist(),
            t.column("value").to_pylist(),
        )
    ]
    w = [0, 0, 0]
    n = len(rows)
    for _ in range(5):
        G = [0, 0, 0]
        for x0, x1, x2, y in rows:
            dot = w[0] * x0 + w[1] * x1 + w[2] * x2
            z = float(dot) / 1e6
            try:
                ez = math.exp(-z)
            except OverflowError:  # IEEE exp overflows to +inf
                ez = float("inf")
            p = 1.0 / (1.0 + ez)
            diff = (p - float(y)) * 1e6
            s_q = (
                int(math.floor(diff + 0.5))
                if diff >= 0
                else -int(math.floor(-diff + 0.5))
            )
            G[0] += s_q * x0
            G[1] += s_q * x1
            G[2] += s_q * x2
        for j in range(3):
            w[j] = w[j] - (1 * G[j]) // (50 * n)
    return _values_sql(
        [("feature", "VARCHAR"), ("w_micro", "BIGINT")],
        [("one", w[0]), ("xv", w[1]), ("xu", w[2])],
    )


def _ora_areal() -> str:
    """Independent replay of the areal transfer: axis-aligned zones
    let the inside test be plain interval comparisons (vs the engine's
    crossing-number kernel); same dyadic centers, counts, and DIV
    quantization."""
    res, lat0, lon0 = 0.5, -90.0, -180.0
    src = {"s1": (0.0, 10.0, 0.0, 10.0, 1000), "s2": (0.0, 10.0, 10.0, 20.0, 500)}
    tgt = {
        "ta": (0.0, 10.0, 5.0, 15.0),
        "tb": (0.0, 5.0, 0.0, 5.0),
        "tc": (40.0, 45.0, 40.0, 45.0),
    }

    def cells(la0, la1, lo0, lo1):
        import math

        out = set()
        gy0 = math.floor((la0 - lat0) / res)
        gy1 = math.floor((la1 - lat0) / res)
        gx0 = math.floor((lo0 - lon0) / res)
        gx1 = math.floor((lo1 - lon0) / res)
        for gy in range(gy0, gy1 + 1):
            cy = lat0 + (gy + 0.5) * res
            if not (la0 < cy < la1):
                continue
            for gx in range(gx0, gx1 + 1):
                cx = lon0 + (gx + 0.5) * res
                if lo0 < cx < lo1:
                    out.add((gx, gy))
        return out

    sc = {k: cells(*v[:4]) for k, v in src.items()}
    tc = {k: cells(*v) for k, v in tgt.items()}
    rows = []
    for t in sorted(tgt):
        est, n_src = 0, 0
        for s in sorted(src):
            ov = len(sc[s] & tc[t])
            if ov:
                n_src += 1
                est += (src[s][4] * ov * 1_000_000) // len(sc[s])
        rows.append((t, len(tc[t]), est, n_src))
    return _values_sql(
        [
            ("tgt_id", "VARCHAR"),
            ("n_cells", "BIGINT"),
            ("est_micro", "BIGINT"),
            ("n_src", "BIGINT"),
        ],
        rows,
    )


def _ora_sample_points() -> str:
    """Scalar replay of the seeded in-polygon sampling spec: same md5
    bbox draws + an INDEPENDENT plain-loop even-odd ray cast (scalar,
    not the numpy kernel), first k inside by draw order."""
    import hashlib

    polys = {
        "rect": [[(10.0005, -20.0005), (10.0005, 10.0005), (30.0005, 10.0005), (30.0005, -20.0005)]],
        "tri": [[(-30.0001517, -100.0003711), (-5.0007013, -60.0001291), (-45.0002903, -50.0009617)]],
        "donut": [
            [(50.0, 50.0), (50.0, 70.0), (70.0, 70.0), (70.0, 50.0)],
            [(58.0, 58.0), (58.0, 62.0), (62.0, 62.0), (62.0, 58.0)],
        ],
    }
    k, seed, m = 25, 7, 25 * 8
    two40 = float(1 << 40)

    def in_ring(y, x, ring):
        inside = False
        j = len(ring) - 1
        for i in range(len(ring)):
            yi, xi = ring[i]
            yj, xj = ring[j]
            if (yi > y) != (yj > y):
                xint = (xj - xi) * (y - yi) / (yj - yi) + xi
                if x < xint:
                    inside = not inside
            j = i
        return inside

    rows = []
    for pid, rings in polys.items():
        lat0 = min(p[0] for r in rings for p in r)
        lat1 = max(p[0] for r in rings for p in r)
        lon0 = min(p[1] for r in rings for p in r)
        lon1 = max(p[1] for r in rings for p in r)
        rank = 0
        for j in range(1, m + 1):
            hu = int(hashlib.md5(f"{seed}:{pid}:{j}:u".encode()).hexdigest()[:10], 16)
            hv = int(hashlib.md5(f"{seed}:{pid}:{j}:v".encode()).hexdigest()[:10], 16)
            lat = lat0 + (float(hu) / two40) * (lat1 - lat0)
            lon = lon0 + (float(hv) / two40) * (lon1 - lon0)
            inside = False
            for r in rings:
                if in_ring(lat, lon, r):
                    inside = not inside
            if inside:
                rank += 1
                rows.append((pid, rank, j, lat, lon))
                if rank == k:
                    break
    return _values_sql(
        [
            ("poly_id", "VARCHAR"),
            ("rank", "INTEGER"),
            ("j", "BIGINT"),
            ("lat", "DOUBLE"),
            ("lon", "DOUBLE"),
        ],
        rows,
    )


def _ora_benford_sql() -> str:
    """Verbatim replay of the Benford spec with the operator's own
    micro-probability literals and the same fixed 9-term chi2 chain
    (dev squared in DOUBLE, exactly as the engine does)."""
    from osm_pbf_spark.operators.dq import benford_probs_micro

    probs = benford_probs_micro()
    nd = ", ".join(
        f"CAST(sum(CASE WHEN d = {d} THEN 1 ELSE 0 END) AS BIGINT) AS n{d}"
        for d in range(1, 10)
    )
    terms = "\n                 + ".join(
        f"(CAST(CAST(n{d} * 1000000 - n * {probs[d - 1]} AS BIGINT) AS DOUBLE)"
        f" * CAST(CAST(n{d} * 1000000 - n * {probs[d - 1]} AS BIGINT) AS DOUBLE))"
        f" / CAST(n * {probs[d - 1]} * 1000000 AS DOUBLE)"
        for d in range(1, 10)
    )
    cols = ", ".join(f"n{d}" for d in range(1, 10))
    return f"""
        WITH s AS (SELECT CAST(floor(o_totalprice) AS BIGINT) AS x
                   FROM orders),
        d0 AS (SELECT CAST(substr(CAST(x AS VARCHAR), 1, 1) AS INT) AS d
               FROM s),
        a AS (SELECT count(*) AS n, {nd} FROM d0)
        SELECT n, {cols},
               CASE WHEN n > 0 THEN {terms} END AS chi2
        FROM a
    """


def _ora_cluster_hulls() -> str:
    """Independent replay of BOTH composed stages: brute-force all-
    pairs Python DBSCAN (vs the engine's 3x3 grid join + distributed
    CC) + the Jarvis-march hull oracle (vs the monotone chain)."""
    import math

    import pyarrow.parquet as pq

    from osm_pbf_spark.operators.hull import hull_py

    t = pq.read_table(
        os.path.join(ORACLE_SF_DIR, "customer.parquet"), columns=["c_custkey"]
    )
    ids = sorted(k for k in t.column("c_custkey").to_pylist() if k < 1200)
    pts = {
        k: (
            -60.0 + ((k * 7919) % 120000) / 1000.0,
            -150.0 + ((k * 104729) % 300000) / 1000.0,
        )
        for k in ids
    }
    eps2, min_pts = 8.0 * 8.0, 5
    nbrs: dict[int, list[int]] = {i: [] for i in ids}
    for a, i in enumerate(ids):
        xi, yi = pts[i]
        for j in ids[a:]:
            xj, yj = pts[j]
            dx, dy = xi - xj, yi - yj
            if dx * dx + dy * dy <= eps2:
                nbrs[i].append(j)
                if i != j:
                    nbrs[j].append(i)
    cores = {i for i in ids if len(nbrs[i]) >= min_pts}
    cluster: dict[int, int] = {}
    for c in sorted(cores):  # first visit of a component IS its min id
        if c in cluster:
            continue
        cluster[c] = c
        stack = [c]
        while stack:
            u = stack.pop()
            for v in nbrs[u]:
                if v in cores and v not in cluster:
                    cluster[v] = c
                    stack.append(v)
    for i in ids:
        if i in cores:
            continue
        cands = [cluster[v] for v in nbrs[i] if v != i and v in cores]
        if cands:
            cluster[i] = min(cands)
    groups: dict[int, set] = {}
    for i, cl in cluster.items():
        lat, lon = pts[i]
        ix = math.floor(lat * 1000.0 + 0.5)
        iy = math.floor(lon * 1000.0 + 0.5)
        groups.setdefault(cl, set()).add((ix, iy))
    rows = []
    for cl in sorted(groups):
        for pos, (ix, iy) in enumerate(hull_py(sorted(groups[cl]))):
            rows.append((cl, pos, ix, iy))
    return _values_sql(
        [
            ("cluster", "BIGINT"),
            ("hull_pos", "INTEGER"),
            ("ix", "BIGINT"),
            ("iy", "BIGINT"),
        ],
        rows,
    )


def _values_sql(cols: list[tuple[str, str]], rows: list[tuple]) -> str:
    """rows -> SELECT CAST(..) AS name.. FROM (VALUES ...) with explicit
    per-column SQL types (so DuckDB's schema matches Spark's exactly)."""
    names = ", ".join(f"c{i}" for i in range(len(cols)))
    sel = ", ".join(f"CAST(c{i} AS {t}) AS {n}" for i, (n, t) in enumerate(cols))
    vals = ", ".join("(" + ", ".join(_sql_lit(x) for x in r) + ")" for r in rows)
    return f"SELECT {sel} FROM (VALUES {vals}) AS t({names})"


import functools


@functools.lru_cache(maxsize=None)
def _fixture_decoded(kind: str):
    from tests import oracle_pbf

    return oracle_pbf.decode_file(_fixture_pbf(kind))


def _ora_pbf_decode() -> str:
    d = _fixture_decoded("multiblob")
    rows = [(n["id"], n["lat"], n["lon"], len(n["tags"])) for n in d["nodes"]]
    return _values_sql(
        [("id", "BIGINT"), ("lat", "DOUBLE"), ("lon", "DOUBLE"), ("n_tags", "INTEGER")],
        rows,
    )


def _ora_pbf_meta() -> str:
    d = _fixture_decoded("denseinfo")
    rows = [
        (n["id"], n["version"], n["ts_ms"], n["changeset"], n["uid"], n["user"], n["visible"])
        for n in d["nodes"]
    ]
    return _values_sql(
        [("id", "BIGINT"), ("version", "INTEGER"), ("ts_ms", "BIGINT"),
         ("changeset", "BIGINT"), ("uid", "INTEGER"), ("user", "VARCHAR"),
         ("visible", "BOOLEAN")],
        rows,
    )


def _ora_pbf_granularity() -> str:
    d = _fixture_decoded("granularity")
    rows = [
        (n["id"], n["lat"], n["lon"], n["version"], n["visible"]) for n in d["nodes"]
    ]
    return _values_sql(
        [("id", "BIGINT"), ("lat", "DOUBLE"), ("lon", "DOUBLE"),
         ("version", "INTEGER"), ("visible", "BOOLEAN")],
        rows,
    )


def _ora_way_assembly() -> str:
    d = _fixture_decoded("mixed")
    coords = {n["id"]: (n["lat"], n["lon"]) for n in d["nodes"]}
    rows = []
    for w in d["ways"]:
        pts = [coords[r] for r in w["refs"] if r in coords]  # inner join drops unresolved
        if not pts:
            continue
        rows.append((w["id"], len(pts), pts[0] == pts[-1]))
    return _values_sql(
        [("way_id", "BIGINT"), ("n_points", "INTEGER"), ("is_closed", "BOOLEAN")], rows
    )


def _ora_doc_render() -> str:
    from tests import oracle_render

    docs = oracle_render.render_file(_fixture_decoded("mixed"))
    rows = [(doc["doc_id"], len(doc["spans"]), doc["spans"][0]["text"]) for doc in docs]
    return _values_sql(
        [("doc_id", "VARCHAR"), ("n_spans", "INTEGER"), ("head_text", "VARCHAR")], rows
    )


def _ora_doc_spans() -> str:
    from tests import oracle_render

    docs = oracle_render.render_file(_fixture_decoded("mixed"))
    rows = [
        (d["doc_id"], i, s["kind"], s["text"], s["media_ref"], s["offset"])
        for d in docs
        for i, s in enumerate(d["spans"])
    ]
    return _values_sql(
        [("doc_id", "VARCHAR"), ("span_pos", "INTEGER"), ("kind", "VARCHAR"),
         ("text", "VARCHAR"), ("media_ref", "VARCHAR"), ("offset", "INTEGER")],
        rows,
    )


def _ora_span_resolve() -> str:
    """The span/doc VALUES come from the pure-Python render replay (same
    trust level as _ora_doc_spans); DuckDB independently parses the
    member refs and performs the resolve join."""
    from tests import oracle_render

    docs = oracle_render.render_file(_fixture_decoded("members"))
    span_rows = [
        (d["doc_id"], i, s["kind"], s["media_ref"])
        for d in docs
        for i, s in enumerate(d["spans"])
    ]
    doc_rows = [(d["doc_id"], d["doc_id"].split("/")[0], len(d["spans"])) for d in docs]
    spans_sql = _values_sql(
        [("doc_id", "VARCHAR"), ("span_pos", "INTEGER"), ("kind", "VARCHAR"),
         ("media_ref", "VARCHAR")],
        span_rows,
    )
    docs_sql = _values_sql(
        [("target_id", "VARCHAR"), ("target_kind", "VARCHAR"),
         ("target_n_spans", "INTEGER")],
        doc_rows,
    )
    return f"""
        WITH spans AS ({spans_sql}), docs AS ({docs_sql}),
        med AS (
            SELECT doc_id, span_pos, string_split(media_ref, ':')[2] AS target_id
            FROM spans WHERE kind = 'media')
        SELECT m.doc_id, m.span_pos, m.target_id,
               d.target_kind, d.target_n_spans
        FROM med m LEFT JOIN docs d ON d.target_id = m.target_id
    """


def _ora_geohash() -> str:
    """VALUES replay: geohash_py mirrors the native expression order;
    the algorithm itself is pinned against an independent textbook
    bisection implementation and published values in pytest."""
    import pyarrow.parquet as pq

    from osm_pbf_spark.functions.geohash import geohash_py

    t = pq.read_table(os.path.join(ORACLE_SF_DIR, "customer.parquet"), columns=["c_custkey"])
    keys = sorted(int(k) for k in t.column("c_custkey").to_pylist() if int(k) <= 500)
    rows = []
    for k in keys:
        lat = -60.0 + ((k * 7919) % 120000) / 1000.0
        lon = -150.0 + ((k * 104729) % 300000) / 1000.0
        rows.append((k, geohash_py(lat, lon, 8), geohash_py(lat, lon, 4)))
    return _values_sql(
        [("doc_id", "BIGINT"), ("gh8", "VARCHAR"), ("gh4", "VARCHAR")], rows
    )


def _ora_map_match() -> str:
    """Full pure-Python replay of the Viterbi map-matching spec
    (matching.map_match_py: brute-force candidates + scalar DP, the
    engine runs a cell join + vectorized numpy DP — independent
    plumbing, same integer-cost spec)."""
    import pyarrow.parquet as pq

    from osm_pbf_spark.operators.matching import map_match_py

    t = pq.read_table(
        os.path.join(ORACLE_SF_DIR, "events.parquet"),
        columns=["event_id", "user_id"],
    )
    eids = t.column("event_id").to_pylist()
    uids = t.column("user_id").to_pylist()
    segs = []
    pts = []
    for eid, uid in zip(eids, uids):
        k = int(eid)
        if k < 200:
            lat = 40.0 + float(k // 10) * 0.002
            segs.append(
                (k, lat, -74.0 + float(k % 10) * 0.01,
                 lat, -74.0 + float(k % 10 + 1) * 0.01)
            )
        if k < 3000:
            u = int(uid)
            lat = 40.0 + float(u % 20) * 0.002 + float((k * 13) % 25 - 12) / 10000.0
            lon = -74.0 + float((k * 37) % 1000) / 10000.0
            pts.append((u, k, lat, lon))
    rows = map_match_py(pts, segs, 0.004, 3000)
    return _values_sql(
        [("user_id", "BIGINT"), ("event_id", "BIGINT"),
         ("seg_id", "BIGINT"), ("emit", "BIGINT")],
        rows,
    )


def _ora_pca() -> str:
    """Hybrid (the PQ-codebook convention): the projection matrix is
    the operator's exported state (trained in-process from the same
    parquet — partition-invariant exact-integer Gram, deterministic
    eigh); pure-Python naive loops replay quantize + integer GEMM."""
    import math

    import pyarrow.parquet as pq

    from osm_pbf_spark.operators.ann import pca_train
    from osm_pbf_spark.session import get_spark

    spark = get_spark("oracle-pca-train")
    e = spark.read.parquet(os.path.join(ORACLE_SF_DIR, "embeddings.parquet"))
    proj = pca_train(e, dim=64, out_dim=8)
    t = pq.read_table(
        os.path.join(ORACLE_SF_DIR, "embeddings.parquet"),
        columns=["vec_id", "embedding"],
    )
    rows = []
    for vid, v in zip(t.column("vec_id").to_pylist(), t.column("embedding").to_pylist()):
        if int(vid) >= 200:
            continue
        q = [math.floor(float(x) * 256.0 + 0.5) for x in v]
        for j in range(8):
            acc = 0
            for d in range(64):
                acc += q[d] * int(proj[j, d])
            rows.append((int(vid), j, acc))
    return _values_sql(
        [("vec_id", "BIGINT"), ("dim_idx", "INTEGER"), ("q", "BIGINT")], rows
    )


def _ora_stay_points() -> str:
    """Pure-Python replay of the stay-point spec (stay_points_py is
    the scalar reference the engine's applyInPandas kernel mirrors)."""
    import pyarrow.parquet as pq

    from osm_pbf_spark.operators.matching import stay_points_py

    t = pq.read_table(
        os.path.join(ORACLE_SF_DIR, "events.parquet"),
        columns=["event_id", "user_id"],
    )
    pts = []
    for eid, uid in zip(t.column("event_id").to_pylist(), t.column("user_id").to_pylist()):
        k, u = int(eid), int(uid)
        if k >= 4000:
            continue
        wander = (k * 31) % 10 >= 6
        home_lat = 40.0 + float(u % 50) * 0.01
        home_lon = -74.0 + float(u % 37) * 0.01
        if wander:
            lat = home_lat + float((k * 17) % 1000 - 500) / 10000.0
            lon = home_lon + float((k * 19) % 1000 - 500) / 10000.0
        else:
            lat = home_lat + float((k * 13) % 9 - 4) / 1000000.0
            lon = home_lon + float((k * 23) % 9 - 4) / 1000000.0
        pts.append((u, k, k * 60_000_000, lat, lon))
    rows = stay_points_py(pts, 0.0005, 50 * 60_000_000)
    return _values_sql(
        [("user_id", "BIGINT"), ("start_seq", "BIGINT"), ("end_seq", "BIGINT"),
         ("n_pts", "BIGINT"), ("dur_us", "BIGINT"), ("cx", "BIGINT"), ("cy", "BIGINT")],
        rows,
    )


def _ora_convex_hull() -> str:
    """Jarvis-march replay (a different algorithm from the engine's
    monotone chain) over the same exact integer grid -> VALUES."""
    import math

    import pyarrow.parquet as pq

    from osm_pbf_spark.operators.hull import hull_py

    t = pq.read_table(os.path.join(ORACLE_SF_DIR, "customer.parquet"), columns=["c_custkey"])
    keys = sorted(int(k) for k in t.column("c_custkey").to_pylist() if int(k) <= 2000)
    groups: dict[int, set] = {}
    for k in keys:
        lat = -60.0 + ((k * 7919) % 120000) / 1000.0
        lon = -150.0 + ((k * 104729) % 300000) / 1000.0
        ix = math.floor(lon * 1000.0 + 0.5)
        iy = math.floor(lat * 1000.0 + 0.5)
        groups.setdefault(k % 8, set()).add((ix, iy))
    rows = []
    for g in sorted(groups):
        for pos, (ix, iy) in enumerate(hull_py(sorted(groups[g]))):
            rows.append((g, pos, ix, iy))
    return _values_sql(
        [("group_id", "BIGINT"), ("hull_pos", "INTEGER"), ("ix", "BIGINT"), ("iy", "BIGINT")],
        rows,
    )


def _ora_tile_encode() -> str:
    """Full pure-Python replay of the tile-encode chain (synth segments
    -> linear scale -> supercover -> Liang-Barsky clip -> quantize ->
    payload bytes) with its OWN varint/zigzag encoder, mirroring every
    Spark IEEE expression in the same order (the q_line_clip oracle
    already pins the clip arithmetic bit-for-bit in SQL)."""
    import hashlib
    import math

    import pyarrow.parquet as pq

    t = pq.read_table(os.path.join(ORACLE_SF_DIR, "events.parquet"), columns=["event_id"])
    ids = sorted(int(i) for i in t.column("event_id").to_pylist() if int(i) < 800)

    zoom, n, nmax, extent = 5, 32.0, 31, 4096
    tiles: dict[tuple, list] = {}
    for e in ids:
        lat0 = (e % 160 - 80) + 0.5
        lon0 = ((e * 7) % 350 - 175) + 0.25
        lat1 = lat0 + (e % 7 - 3) * 1.7
        lon1 = lon0 + (e % 11 - 5) * 2.3
        sx0 = (lon0 + 180.0) / 360.0 * n
        sy0 = (90.0 - lat0) / 180.0 * n
        sx1 = (lon1 + 180.0) / 360.0 * n
        sy1 = (90.0 - lat1) / 180.0 * n
        xa, xb = min(sx0, sx1), max(sx0, sx1)
        dx, dy = sx1 - sx0, sy1 - sy0
        ix_lo, ix_hi = max(math.floor(xa), 0), min(math.floor(xb), nmax)
        for tx in range(ix_lo, ix_hi + 1):
            cl, cr = max(float(tx), xa), min(tx + 1.0, xb)
            if sx1 == sx0:
                ymin, ymax = min(sy0, sy1), max(sy0, sy1)
            else:
                y_l = sy0 + (cl - sx0) / dx * dy
                y_r = sy0 + (cr - sx0) / dx * dy
                ymin, ymax = min(y_l, y_r), max(y_l, y_r)
            iy_lo, iy_hi = max(math.floor(ymin), 0), min(math.floor(ymax), nmax)
            for ty in range(iy_lo, iy_hi + 1):
                if dx != 0.0:
                    txf, txc = (tx - sx0) / dx, (tx + 1 - sx0) / dx
                    txa, txb_ = min(txf, txc), max(txf, txc)
                else:
                    txa, txb_ = 0.0, 1.0
                if dy != 0.0:
                    tyf, tyc = (ty - sy0) / dy, (ty + 1 - sy0) / dy
                    tya, tyb = min(tyf, tyc), max(tyf, tyc)
                else:
                    tya, tyb = 0.0, 1.0
                t0 = max(0.0, txa, tya)
                t1 = max(t0, min(1.0, txb_, tyb))
                cx0, cy0 = sx0 + dx * t0, sy0 + dy * t0
                cx1, cy1 = sx0 + dx * t1, sy0 + dy * t1
                qq = lambda c, base: min(extent, max(0, math.floor((c - base) * float(extent))))
                tiles.setdefault((zoom, tx, ty), []).append(
                    (e, qq(cx0, tx), qq(cy0, ty), qq(cx1, tx), qq(cy1, ty))
                )

    def vi(v: int) -> bytes:
        out = bytearray()
        while True:
            b = v & 0x7F
            v >>= 7
            if v:
                out.append(b | 0x80)
            else:
                out.append(b)
                return bytes(out)

    def zz(v: int) -> int:
        return (v << 1) ^ (v >> 63) if v < 0 else v << 1

    rows = []
    for (z, tx, ty), feats in tiles.items():
        payload = bytearray()
        for fid, x0, y0, x1, y1 in sorted(feats):
            geom = vi(9) + vi(zz(x0)) + vi(zz(y0)) + vi(10) + vi(zz(x1 - x0)) + vi(zz(y1 - y0))
            payload += b"\x08" + vi(fid) + b"\x12" + vi(len(geom)) + geom
        rows.append(
            (z, tx, ty, len(feats), len(payload), hashlib.md5(bytes(payload)).hexdigest())
        )
    return _values_sql(
        [("tile_z", "INTEGER"), ("tile_x", "BIGINT"), ("tile_y", "BIGINT"),
         ("n_features", "INTEGER"), ("n_bytes", "INTEGER"), ("payload_md5", "VARCHAR")],
        rows,
    )


def _ora_way_pip() -> str:
    from tests import oracle_geo

    d = _fixture_decoded("way_pip")
    coords = {n["id"]: (n["lat"], n["lon"]) for n in d["nodes"]}
    polys = []
    for w in d["ways"]:
        pts = [coords[r] for r in w["refs"] if r in coords]
        if len(pts) >= 4 and pts[0] == pts[-1]:
            polys.append((f"way/{w['id']}", [pts[:-1]]))
    rows = []
    for n in d["nodes"]:
        for pid, rings in polys:
            if oracle_geo.point_in_polygon(n["lat"], n["lon"], rings):
                rows.append((str(n["id"]), pid))
    return _values_sql([("doc_id", "VARCHAR"), ("poly_id", "VARCHAR")], rows)


def _ora_rel_pip(kind: str = "rel_pip", probe_filter=None) -> str:
    """Scalar replay of the multipolygon lifecycle: decode via the spec
    oracle, stitch member ways into rings with an INDEPENDENT greedy
    chainer, even-odd PIP with the hole as a second ring."""
    from tests import oracle_geo

    d = _fixture_decoded(kind)
    coords = {n["id"]: (n["lat"], n["lon"]) for n in d["nodes"]}
    way_by_id = {w["id"]: w for w in d["ways"]}

    def chain(way_ids: list[int]) -> list[list[tuple[float, float]]]:
        segs = []
        for wid in way_ids:
            w = way_by_id.get(wid)
            if w is None or any(r not in coords for r in w["refs"]):
                continue
            segs.append(list(w["refs"]))
        rings = []
        closed = [s for s in segs if s[0] == s[-1] and len(s) >= 4]
        opens = [s for s in segs if s[0] != s[-1]]
        rings.extend(s[:-1] for s in closed)
        while opens:
            cur = opens.pop(0)
            changed = True
            while cur[0] != cur[-1] and changed:
                changed = False
                for i, s in enumerate(opens):
                    if s[0] == cur[-1]:
                        cur, changed = cur + s[1:], True
                    elif s[-1] == cur[-1]:
                        cur, changed = cur + s[-2::-1], True
                    else:
                        continue
                    opens.pop(i)
                    break
            if cur[0] == cur[-1] and len(cur) >= 4:
                rings.append(cur[:-1])
        return [[coords[r] for r in ring] for ring in rings]

    rows = []
    for rel in d["relations"]:
        if rel["tags"].get("type") != "multipolygon":
            continue
        outer_ids = [m["ref"] for m in rel["members"] if m["type"] == "way" and m["role"] == "outer"]
        inner_ids = [m["ref"] for m in rel["members"] if m["type"] == "way" and m["role"] == "inner"]
        outers = chain(outer_ids)
        inners = chain(inner_ids)
        if not outers:
            continue
        for i, outer in enumerate(outers):
            holes = [
                h for h in inners if oracle_geo.point_in_ring(h[0][0], h[0][1], outer)
            ]
            pid = f"relation/{rel['id']}" if len(outers) == 1 else f"relation/{rel['id']}/{i}"
            rings = [outer] + holes
            for n in d["nodes"]:
                if probe_filter is not None and not probe_filter(n["id"]):
                    continue
                if oracle_geo.point_in_polygon(n["lat"], n["lon"], rings):
                    rows.append((str(n["id"]), pid))
    return _values_sql([("doc_id", "VARCHAR"), ("poly_id", "VARCHAR")], rows)


def _ora_pbf_raw() -> str:
    d = _fixture_decoded("raw")
    rows = [(n["id"], n["lat"], n["lon"], n["tags"].get("note")) for n in d["nodes"]]
    return _values_sql(
        [("id", "BIGINT"), ("lat", "DOUBLE"), ("lon", "DOUBLE"), ("note", "VARCHAR")],
        rows,
    )


def _ora_pbf_header() -> str:
    h = _fixture_decoded("minimal")["header"]
    bb = h["bbox"]
    rows = [(
        bb["left"], bb["right"], bb["top"], bb["bottom"],
        ",".join(h["required_features"]), ",".join(h["optional_features"]),
    )]
    return _values_sql(
        [("left", "DOUBLE"), ("right", "DOUBLE"), ("top", "DOUBLE"),
         ("bottom", "DOUBLE"), ("required", "VARCHAR"), ("optional", "VARCHAR")],
        rows,
    )


def _cell_scalar(lat: float, lon: float, level: int) -> int:
    """Independent SCALAR replay of the Morton cell spec (functions/
    cells.py layout): same float64 quantization op order, bit-by-bit
    interleave in plain Python ints."""
    import math

    n = 1 << level
    x = min(max(int(math.floor((lon + 180.0) / 360.0 * n)), 0), n - 1)
    y = min(max(int(math.floor((lat + 90.0) / 180.0 * n)), 0), n - 1)
    m = 0
    for b in range(level):
        m |= ((x >> b) & 1) << (2 * b)
        m |= ((y >> b) & 1) << (2 * b + 1)
    return (m << 5) | level


def _ora_sink_roundtrip() -> str:
    """Scalar replay of the FULL sink lifecycle result: spec-oracle
    decode -> oracle span render -> scalar Morton cell -> the same
    stats-range predicate -> per-cell aggregates. What the committed
    table must read back as, independent of Spark, the manifest
    protocol, and parquet."""
    from tests import oracle_render

    d = _fixture_decoded("sink")
    docs = oracle_render.render_file(d)
    coords = {f"node/{n['id']}": (n["lat"], n["lon"]) for n in d["nodes"]}
    lo, hi = SINK_PRUNE_RANGE
    agg: dict[int, list] = {}
    for doc in docs:
        ll = coords.get(doc["doc_id"])
        cell = _cell_scalar(ll[0], ll[1], 12) if ll else -1
        if not (lo <= cell <= hi):
            continue
        a = agg.setdefault(cell, [0, None, 0, 0])
        a[0] += 1
        a[1] = doc["doc_id"] if a[1] is None else min(a[1], doc["doc_id"])
        a[2] += len(doc["spans"])
        a[3] += len(doc["spans"][-1]["media_ref"])
    rows = [(c, *agg[c]) for c in sorted(agg)]
    return _values_sql(
        [("cell", "BIGINT"), ("n_docs", "BIGINT"), ("first_doc", "VARCHAR"),
         ("spans_total", "BIGINT"), ("media_len_total", "BIGINT")],
        rows,
    )


def _ora_bpe() -> str:
    """Independent scalar replay of the BPE-apply spec over the gate
    subset (doc_id % 17 == 0 of ORACLE_SF_DIR documents): per word,
    repeatedly merge all occurrences of the lowest-rank adjacent pair.
    The merge mechanics are written differently from the engine kernel
    (index-walk rebuild vs list append) but the spec is the same."""
    import pyarrow.parquet as pq

    ranks = {p: i for i, p in enumerate(BPE_MERGES)}

    def enc(word: str) -> list[str]:
        sym = list(word)
        while len(sym) > 1:
            cand = [
                (ranks[p], j)
                for j, p in enumerate(zip(sym, sym[1:]))
                if p in ranks
            ]
            if not cand:
                break
            r = min(c[0] for c in cand)
            a, b = BPE_MERGES[r]
            j = 0
            while j < len(sym) - 1:
                if sym[j] == a and sym[j + 1] == b:
                    sym[j : j + 2] = [a + b]
                else:
                    j += 1
            # note: after an in-place merge at j, the NEW symbol at j may
            # pair with its successor — re-checking j (not j+1) matches
            # left-to-right merge-all semantics
        return sym

    t = pq.read_table(
        os.path.join(ORACLE_SF_DIR, "documents.parquet"), columns=["doc_id", "text"]
    )
    rows = []
    for did, text in zip(t.column("doc_id").to_pylist(), t.column("text").to_pylist()):
        if did % 17 != 0:
            continue
        words = [w for w in (text or "").split(" ") if w]
        toks: list[str] = []
        for w in words:
            toks.extend(enc(w))
        rows.append((did, len(words), len(toks), " ".join(toks)))
    rows.sort()
    return _values_sql(
        [("doc_id", "BIGINT"), ("n_words", "INTEGER"), ("n_tokens", "INTEGER"),
         ("tokens_s", "VARCHAR")],
        rows,
    )


def _ora_incr_mv() -> str:
    """Scalar replay for the incremental-MV gate: per-cell counts of
    the base docs plus one extra copy for cells with cell % 4 == 2,
    emitted under BOTH labels — merged state must equal full recompute."""
    from tests import oracle_render

    d = _fixture_decoded("sink")
    docs = oracle_render.render_file(d)
    coords = {f"node/{n['id']}": (n["lat"], n["lon"]) for n in d["nodes"]}
    agg: dict[int, int] = {}
    for doc in docs:
        ll = coords.get(doc["doc_id"])
        cell = _cell_scalar(ll[0], ll[1], 12) if ll else -1
        agg[cell] = agg.get(cell, 0) + (2 if cell % 4 == 2 else 1)
    rows = [(src, c, agg[c]) for src in ("merged", "full") for c in sorted(agg)]
    return _values_sql(
        [("src", "VARCHAR"), ("cell", "BIGINT"), ("n_docs", "BIGINT")], rows
    )


def _ora_media_neardup() -> str:
    """Independent scalar replay of the media near-dup gate: rebuild
    the synth payloads + fake decode + planted perturbations, compute
    dHash with a plain bit loop, and BRUTE all-pairs hamming — the
    oracle is band-free, so it also proves the pigeonhole candidate
    join lost no pair."""
    import hashlib as _hl

    def pix(i: int) -> list[int]:
        payload = _hl.blake2b(i.to_bytes(4, "little"), digest_size=32).digest()
        return list(_hl.blake2b(payload, digest_size=64).digest())

    items: dict[str, list[int]] = {f"m{i}": pix(i) for i in range(48)}
    for i in range(10):
        p = list(items[f"m{i}"])
        pos = (i * 5) % 64
        p[pos] = min(p[pos] + 1, 255)
        items[f"dup/m{i}"] = p

    def dh(p: list[int]) -> int:
        v = 0
        for i in range(64):
            if p[i] > p[(i + 1) % 64]:
                v |= 1 << i
        return v

    hs = {r: dh(p) for r, p in items.items()}
    refs = sorted(hs)
    rows = []
    for x in range(len(refs)):
        for y in range(x + 1, len(refs)):
            a, b = refs[x], refs[y]
            ham = bin(hs[a] ^ hs[b]).count("1")
            if ham <= 3:
                rows.append((a, b, ham))
    rows.sort()
    return _values_sql(
        [("id_a", "VARCHAR"), ("id_b", "VARCHAR"), ("hamming", "INTEGER")], rows
    )


def _ora_debounce() -> str:
    """Scalar replay of the cooldown sweep (events < 4000, gap 3600 s,
    (ts, event_id) tie-break), aggregated per user — VALUES literal."""
    import pyarrow.parquet as pq

    t = pq.read_table(
        os.path.join(ORACLE_SF_DIR, "events.parquet"),
        columns=["event_id", "user_id", "ts"],
    )
    micros = t.column("ts").cast("int64").to_pylist()
    rows = [
        (u, e, m)
        for e, u, m in zip(
            t.column("event_id").to_pylist(), t.column("user_id").to_pylist(), micros
        )
        if e < 4000
    ]
    by_user: dict[int, list] = {}
    for u, e, m in rows:
        by_user.setdefault(u, []).append((m, e))
    gap_us = 3600 * 1_000_000
    out = []
    for u in sorted(by_user):
        kept = []
        last = None
        for m, e in sorted(by_user[u]):
            if last is None or m - last >= gap_us:
                kept.append(e)
                last = m
        out.append((u, len(kept), min(kept), sum(kept)))
    return _values_sql(
        [("user_id", "BIGINT"), ("n_kept", "BIGINT"), ("first_event", "BIGINT"),
         ("id_sum", "BIGINT")],
        out,
    )


def _soundex_vocab_values() -> str:
    """VALUES (w, code) mapping every distinct corpus word (plus the
    phonetic probes) to its replayed Soundex code — the hybrid-oracle
    candidate table; DuckDB recomputes all aggregates/refines itself."""
    import pyarrow.parquet as pq

    t = pq.read_table(os.path.join(ORACLE_SF_DIR, "documents.parquet"), columns=["text"])
    vocab: set[str] = set()
    for text in t.column("text").to_pylist():
        vocab.update(w for w in (text or "").split(" ") if w)
    rows = [(w, _soundex_py(w)) for w in sorted(vocab)]
    return _values_sql([("w", "VARCHAR"), ("code", "VARCHAR")], rows)


def _ora_sink_incremental() -> str:
    """Scalar replay for the incremental append scan: window w1 holds
    the 'inc/' copies of docs whose cell pmod 4 == 3 (cell -1 way/rel
    docs included: pmod(-1,4)=3 in Spark AND Python), window w12 adds
    the 'inc2/' copies of cell pmod 4 == 0 — per-cell (n_docs,
    min doc_id) each, exactly what the appended splits contain."""
    from tests import oracle_render

    d = _fixture_decoded("sink")
    docs = oracle_render.render_file(d)
    coords = {f"node/{n['id']}": (n["lat"], n["lon"]) for n in d["nodes"]}

    def cell_of(doc):
        ll = coords.get(doc["doc_id"])
        return _cell_scalar(ll[0], ll[1], 12) if ll else -1

    w1 = [
        (cell_of(doc), "inc/" + doc["doc_id"]) for doc in docs
        if cell_of(doc) % 4 == 3
    ]
    w2 = [
        (cell_of(doc), "inc2/" + doc["doc_id"]) for doc in docs
        if cell_of(doc) % 4 == 0
    ]
    rows = []
    for src, items in (("w1", w1), ("w12", w1 + w2)):
        agg: dict[int, list] = {}
        for cell, did in items:
            a = agg.setdefault(cell, [0, None])
            a[0] += 1
            a[1] = did if a[1] is None else min(a[1], did)
        rows += [(src, c, *agg[c]) for c in sorted(agg)]
    return _values_sql(
        [("src", "VARCHAR"), ("cell", "BIGINT"), ("n_docs", "BIGINT"),
         ("first_doc", "VARCHAR")],
        rows,
    )


def _ora_sink_compact() -> str:
    """Scalar replay for the compaction/time-travel gate: the spec
    pipeline's per-cell (n_docs, min doc_id) — emitted once under
    src='pre' (time-travel read of the pre-compaction snapshot) and
    once under src='post' (current read after the atomic replace):
    compaction must be lossless in both directions."""
    from tests import oracle_render

    d = _fixture_decoded("sink")
    docs = oracle_render.render_file(d)
    coords = {f"node/{n['id']}": (n["lat"], n["lon"]) for n in d["nodes"]}
    agg: dict[int, list] = {}
    for doc in docs:
        ll = coords.get(doc["doc_id"])
        cell = _cell_scalar(ll[0], ll[1], 12) if ll else -1
        a = agg.setdefault(cell, [0, None])
        a[0] += 1
        a[1] = doc["doc_id"] if a[1] is None else min(a[1], doc["doc_id"])
    rows = [(src, c, *agg[c]) for src in ("pre", "post") for c in sorted(agg)]
    return _values_sql(
        [("src", "VARCHAR"), ("cell", "BIGINT"), ("n_docs", "BIGINT"),
         ("first_doc", "VARCHAR")],
        rows,
    )


def _ora_sink_delete() -> str:
    """Scalar replay for the equality-delete gate: per-cell (n_docs,
    min doc_id) of the spec pipeline under three views — 'pre' (the
    pre-delete snapshot: everything), 'mor' (merge-on-read after
    DELETE WHERE pmod(cell,4)=1), 'post' (after the compaction applied
    the delete physically; must equal 'mor' exactly)."""
    from tests import oracle_render

    d = _fixture_decoded("sink")
    docs = oracle_render.render_file(d)
    coords = {f"node/{n['id']}": (n["lat"], n["lon"]) for n in d["nodes"]}

    def agg_rows(src: str, drop_deleted: bool) -> list[tuple]:
        agg: dict[int, list] = {}
        for doc in docs:
            ll = coords.get(doc["doc_id"])
            cell = _cell_scalar(ll[0], ll[1], 12) if ll else -1
            if drop_deleted and cell % 4 == 1:  # Python % == Spark pmod
                continue
            a = agg.setdefault(cell, [0, None])
            a[0] += 1
            a[1] = doc["doc_id"] if a[1] is None else min(a[1], doc["doc_id"])
        return [(src, c, *agg[c]) for c in sorted(agg)]

    rows = (
        agg_rows("pre", False) + agg_rows("mor", True) + agg_rows("post", True)
    )
    return _values_sql(
        [("src", "VARCHAR"), ("cell", "BIGINT"), ("n_docs", "BIGINT"),
         ("first_doc", "VARCHAR")],
        rows,
    )


def _ora_sink_upsert() -> str:
    """Scalar replay for the upsert gate: spec-pipeline docs where
    cells pmod 4 == 2 are REPLACED by single-span versions, cells
    pmod 4 == 3 gain a 'copy/<doc_id>' twin, everything else is
    untouched; per-cell (n_docs, min doc_id, total spans)."""
    from tests import oracle_render

    d = _fixture_decoded("sink")
    docs = oracle_render.render_file(d)
    coords = {f"node/{n['id']}": (n["lat"], n["lon"]) for n in d["nodes"]}
    rows_in: list[tuple[str, int, int]] = []  # (doc_id, cell, n_spans)
    for doc in docs:
        ll = coords.get(doc["doc_id"])
        cell = _cell_scalar(ll[0], ll[1], 12) if ll else -1
        n_spans = len(doc["spans"])
        if cell % 4 == 2:
            rows_in.append((doc["doc_id"], cell, 1))
        else:
            rows_in.append((doc["doc_id"], cell, n_spans))
            if cell % 4 == 3:
                rows_in.append((f"copy/{doc['doc_id']}", cell, n_spans))
    agg: dict[int, list] = {}
    for doc_id, cell, n_spans in rows_in:
        a = agg.setdefault(cell, [0, None, 0])
        a[0] += 1
        a[1] = doc_id if a[1] is None else min(a[1], doc_id)
        a[2] += n_spans
    rows = [(c, *agg[c]) for c in sorted(agg)]
    return _values_sql(
        [("cell", "BIGINT"), ("n_docs", "BIGINT"), ("first_doc", "VARCHAR"),
         ("spans_total", "BIGINT")],
        rows,
    )


def _poly_overlap_ctes(n: int) -> str:
    """Shared CTE block for the polygon-overlay oracles: synth diamonds
    (mirrors _synth_diamonds), snapped integer vertices/edges, bbox
    candidates, brute edge-pair crossings, and SUM-parity containment.
    Callers append their own final SELECT (pair classification for
    q_poly_overlap, recursive closure for q_poly_dissolve)."""
    return f"""base AS (
              SELECT event_id AS id,
                     event_id % 9 = 0 AS tiny,
                     event_id + (CASE WHEN event_id % 18 = 0 THEN 3 ELSE -3 END) AS host
              FROM events WHERE event_id < {n}),
            p AS (
              SELECT id,
                     CASE WHEN tiny THEN (host % 120) - 60 + CAST(0.75 AS DOUBLE)
                          ELSE (id % 120) - 60 + CAST(0.5 AS DOUBLE) END AS cx,
                     CASE WHEN tiny THEN ((host * 13) % 80) - 40 + CAST(0.375 AS DOUBLE)
                          ELSE ((id * 13) % 80) - 40 + CAST(0.25 AS DOUBLE) END AS cy,
                     CASE WHEN tiny THEN CAST(0.0625 AS DOUBLE)
                          ELSE CAST(0.5 AS DOUBLE) + (id % 5) * CAST(0.625 AS DOUBLE) END AS hx,
                     CASE WHEN tiny THEN CAST(0.0625 AS DOUBLE)
                          ELSE CAST(0.5 AS DOUBLE) + (id % 7) * CAST(0.25 AS DOUBLE) END AS hy
              FROM base),
            v AS (
              SELECT id, k,
                     CAST(floor((CASE WHEN k = 0 THEN cx + hx WHEN k = 2 THEN cx - hx
                                      ELSE cx END) * 1000000 + 0.5) AS BIGINT) AS x,
                     CAST(floor((CASE WHEN k = 1 THEN cy + hy WHEN k = 3 THEN cy - hy
                                      ELSE cy END) * 1000000 + 0.5) AS BIGINT) AS y
              FROM p, unnest([0, 1, 2, 3]) AS t(k)),
            e AS (
              SELECT a.id, a.x AS x0, a.y AS y0, b.x AS x1, b.y AS y1
              FROM v a JOIN v b ON a.id = b.id AND b.k = (a.k + 1) % 4),
            bb AS (SELECT id, min(x) mnx, max(x) mxx, min(y) mny, max(y) mxy
                   FROM v GROUP BY id),
            cand AS (
              SELECT a.id AS id_a, b.id AS id_b FROM bb a JOIN bb b
              ON a.id < b.id AND a.mnx <= b.mxx AND b.mnx <= a.mxx
                 AND a.mny <= b.mxy AND b.mny <= a.mxy),
            ep AS (
              SELECT ea.id AS id_a, eb.id AS id_b,
                     (ea.x1-ea.x0)*(eb.y0-ea.y0) - (ea.y1-ea.y0)*(eb.x0-ea.x0) AS d1,
                     (ea.x1-ea.x0)*(eb.y1-ea.y0) - (ea.y1-ea.y0)*(eb.x1-ea.x0) AS d2,
                     (eb.x1-eb.x0)*(ea.y0-eb.y0) - (eb.y1-eb.y0)*(ea.x0-eb.x0) AS d3,
                     (eb.x1-eb.x0)*(ea.y1-eb.y0) - (eb.y1-eb.y0)*(ea.x1-eb.x0) AS d4,
                     ea.x0 AS ax0, ea.y0 AS ay0, ea.x1 AS ax1, ea.y1 AS ay1,
                     eb.x0 AS bx0, eb.y0 AS by0, eb.x1 AS bx1, eb.y1 AS by1
              FROM e ea JOIN e eb ON ea.id < eb.id),
            crossed AS (
              SELECT DISTINCT id_a, id_b FROM ep
              WHERE (((d1 > 0 AND d2 < 0) OR (d1 < 0 AND d2 > 0))
                     AND ((d3 > 0 AND d4 < 0) OR (d3 < 0 AND d4 > 0)))
                 OR (d1 = 0 AND bx0 BETWEEN least(ax0, ax1) AND greatest(ax0, ax1)
                            AND by0 BETWEEN least(ay0, ay1) AND greatest(ay0, ay1))
                 OR (d2 = 0 AND bx1 BETWEEN least(ax0, ax1) AND greatest(ax0, ax1)
                            AND by1 BETWEEN least(ay0, ay1) AND greatest(ay0, ay1))
                 OR (d3 = 0 AND ax0 BETWEEN least(bx0, bx1) AND greatest(bx0, bx1)
                            AND ay0 BETWEEN least(by0, by1) AND greatest(by0, by1))
                 OR (d4 = 0 AND ax1 BETWEEN least(bx0, bx1) AND greatest(bx0, bx1)
                            AND ay1 BETWEEN least(by0, by1) AND greatest(by0, by1))),
            ins AS (
              SELECT pt.id AS pid, eq.id AS qid
              FROM (SELECT id, x AS px, y AS py FROM v WHERE k = 0) pt
              JOIN e eq ON pt.id <> eq.id
              GROUP BY pt.id, eq.id, pt.px, pt.py
              HAVING sum(CASE WHEN ((eq.y0 <= pt.py AND pt.py < eq.y1)
                                    AND (eq.x1-eq.x0)*(pt.py-eq.y0)
                                        - (eq.y1-eq.y0)*(pt.px-eq.x0) > 0)
                                OR ((eq.y1 <= pt.py AND pt.py < eq.y0)
                                    AND (eq.x1-eq.x0)*(pt.py-eq.y0)
                                        - (eq.y1-eq.y0)*(pt.px-eq.x0) < 0)
                         THEN 1 ELSE 0 END) % 2 = 1)"""


def _ora_frame_sample() -> str:
    rows = [
        (f"m{i}", ts)
        for i in range(64)
        if i % 3 == 2  # synth_media_table: every 3rd row is video, 4000 ms
        for ts in range(0, 4000, 1000)
    ]
    return _values_sql([("media_ref", "VARCHAR"), ("frame_ts_ms", "INTEGER")], rows)


def _ora_media_features() -> str:
    import hashlib

    rows = []
    for i in range(64):
        payload = hashlib.blake2b(i.to_bytes(4, "little"), digest_size=32).digest()
        px = (
            np.frombuffer(
                hashlib.blake2b(payload, digest_size=64).digest(), dtype=np.uint8
            ).astype(np.float64)
            / 255.0
        )
        rows.append(
            (f"m{i}", ["image", "audio", "video"][i % 3],
             float(px.mean()), float(px.std()), 16, "fake")
        )
    return _values_sql(
        [("media_ref", "VARCHAR"), ("modality", "VARCHAR"), ("feat_mean", "DOUBLE"),
         ("feat_std", "DOUBLE"), ("n_feat", "INTEGER"), ("decoder", "VARCHAR")],
        rows,
    )


def _ora_redact_spans() -> str:
    """Pre-redaction span VALUES from the pure-Python render replay
    (same trust level as _ora_doc_spans); DuckDB INDEPENDENTLY performs
    the redaction (its own RE2 regexp_replace) and re-derives offsets
    with a window prefix sum — a different algorithm from the engine's
    per-row aggregate fold."""
    from tests import oracle_render

    docs = oracle_render.render_file(_fixture_decoded("mixed"))
    rows = [
        (d["doc_id"], i, s["kind"], s["text"], s["media_ref"])
        for d in docs
        for i, s in enumerate(d["spans"])
    ]
    spans_sql = _values_sql(
        [("doc_id", "VARCHAR"), ("span_pos", "INTEGER"), ("kind", "VARCHAR"),
         ("text", "VARCHAR"), ("media_ref", "VARCHAR")],
        rows,
    )
    return f"""
        WITH spans AS ({spans_sql}),
        r AS (SELECT doc_id, span_pos, kind, media_ref,
                     regexp_replace(text, '[0-9]+', '#', 'g') AS text
              FROM spans)
        SELECT doc_id, span_pos, kind, text, media_ref,
               CAST(coalesce(sum(len(text) + 1) OVER (PARTITION BY doc_id
                    ORDER BY span_pos ROWS BETWEEN UNBOUNDED PRECEDING
                    AND 1 PRECEDING), 0) AS INTEGER) AS offset
        FROM r
    """


def _ora_rp_reduce() -> str:
    """Fully independent pure-Python replay of the sign-RP spec (no
    numpy, naive loops — exactness is the operator's contract: every
    post-quantization op is int64)."""
    import math

    import pyarrow.parquet as pq

    t = pq.read_table(
        os.path.join(ORACLE_SF_DIR, "embeddings.parquet"),
        columns=["vec_id", "embedding"],
    )
    ids = t.column("vec_id").to_pylist()
    vecs = t.column("embedding").to_pylist()
    dim, out_dim, scale = 64, 16, 256
    sgn = []
    for j in range(out_dim):
        bits = []
        for blk in range((dim + 511) // 512):
            h = hashlib.blake2b(
                b"rp" + j.to_bytes(4, "little") + blk.to_bytes(4, "little"),
                digest_size=64,
            ).digest()
            for byte in h:
                for b in range(8):
                    bits.append((byte >> (7 - b)) & 1)
        sgn.append([2 * b - 1 for b in bits[:dim]])
    rows = []
    for vid, v in zip(ids, vecs):
        if vid >= 200:
            continue
        q = [math.floor(float(x) * float(scale) + 0.5) for x in v]
        for j in range(out_dim):
            rows.append(
                (vid, j, sum(si * qi for si, qi in zip(sgn[j], q)))
            )
    return _values_sql(
        [("vec_id", "BIGINT"), ("dim_idx", "INTEGER"), ("q", "BIGINT")], rows
    )


@functools.lru_cache(maxsize=None)
def _oracle_docs(limit_id: int = 200) -> tuple:
    """(id, text) rows of ORACLE_SF_DIR documents with doc_id < limit_id,
    plus the +1000000 recrawl copies (the dedup-query corpus)."""
    import pyarrow.parquet as pq

    t = pq.read_table(
        os.path.join(ORACLE_SF_DIR, "documents.parquet"), columns=["doc_id", "text"]
    )
    base = [
        (int(i), s)
        for i, s in zip(t.column("doc_id").to_pylist(), t.column("text").to_pylist())
        if int(i) < limit_id
    ]
    return tuple(base + [(i + 1_000_000, s) for i, s in base])


def _minhash_cand_vals() -> str:
    """Python replay of the deterministic MinHash banding spec over the
    q_minhash corpus — returns the candidate pair set as a VALUES body.
    Shared by _ora_minhash_pairs and _ora_dedup_groups."""
    import hashlib

    from osm_pbf_spark.operators.dedup import _BANDS, _N_PERM, _minhash_sig, _shingle_hashes

    rpb = _N_PERM // _BANDS
    buckets: dict[int, list[int]] = {}
    for i, s in _oracle_docs():
        sig = _minhash_sig(_shingle_hashes(s or "", 5))
        for b in range(_BANDS):
            h = hashlib.blake2b(
                sig[b * rpb : (b + 1) * rpb].tobytes(), digest_size=8,
                key=b.to_bytes(2, "little"),
            )
            key = (b << 56) | (int.from_bytes(h.digest(), "little") & ((1 << 56) - 1))
            buckets.setdefault(key, []).append(i)
    pairs = set()
    for v in buckets.values():
        v = sorted(set(v))
        for x in range(len(v)):
            for y in range(x + 1, len(v)):
                pairs.add((v[x], v[y]))
    return ", ".join(f"({a}, {b})" for a, b in sorted(pairs))


def _ora_minhash_pairs() -> str:
    """Hybrid: Python replays the deterministic MinHash banding spec to
    get the candidate pair set; DuckDB recomputes the exact 5-shingle
    Jaccard of every candidate from the raw table and applies the
    threshold. (Docs are ASCII, so char-window == byte-window shingles,
    and 64-bit shingle-hash Jaccard == substring-set Jaccard.)"""
    cand_vals = _minhash_cand_vals()
    return f"""
        WITH unioned AS (
            SELECT doc_id, text FROM documents WHERE doc_id < 200
            UNION ALL SELECT doc_id + 1000000, text FROM documents WHERE doc_id < 200),
        cand(id_a, id_b) AS (VALUES {cand_vals}),
        grams AS (
            SELECT doc_id AS id,
                   unnest(list_distinct([substr(text, CAST(i AS INT), 5)
                                         for i in generate_series(1, len(text) - 4)])) AS gram
            FROM unioned),
        sizes AS (SELECT id, count(*) AS n FROM grams GROUP BY id),
        inter AS (
            SELECT c.id_a, c.id_b, count(*) AS inter
            FROM cand c
            JOIN grams ga ON ga.id = c.id_a
            JOIN grams gb ON gb.id = c.id_b AND gb.gram = ga.gram
            GROUP BY c.id_a, c.id_b)
        SELECT CAST(i.id_a AS BIGINT) AS id_a, CAST(i.id_b AS BIGINT) AS id_b,
               i.inter / (sa.n + sb.n - i.inter) AS jaccard
        FROM inter i JOIN sizes sa ON sa.id = i.id_a JOIN sizes sb ON sb.id = i.id_b
        WHERE i.inter / (sa.n + sb.n - i.inter) >= 0.5
    """


def _ora_pbf_multi() -> str:
    """Pure-Python spec-oracle decode of BOTH files, summed — the
    multi-file manifest union must be exactly the union of the
    single-file decodes."""
    import math

    agg: dict[str, list] = {}
    for kind_fixture in ("mixed", "granularity"):
        d = _fixture_decoded(kind_fixture)
        for kind, ents in (("node", d["nodes"]), ("way", d["ways"]),
                           ("relation", d["relations"])):
            a = agg.setdefault(kind, [0, 0, 0])
            for ent in ents:
                a[0] += 1
                a[1] += int(ent["id"])
                if kind == "node":
                    a[2] += math.floor(float(ent["lat"]) * 1e7 + 0.5)
    rows = [(k, n, s, l) for k, (n, s, l) in sorted(agg.items())]
    return _values_sql(
        [("kind", "VARCHAR"), ("n", "BIGINT"), ("id_sum", "BIGINT"),
         ("lat_e7_sum", "BIGINT")],
        rows,
    )


def _ora_validate_spans() -> str:
    """Span VALUES from the pure-Python render replay; DuckDB
    recomputes the offset invariant with a window (an independent
    formulation of the engine's array fold)."""
    from tests import oracle_render

    docs = oracle_render.render_file(_fixture_decoded("mixed"))
    rows = [
        (d["doc_id"], pos, s["text"], s["media_ref"], s["offset"])
        for d in docs
        for pos, s in enumerate(d["spans"])
    ]
    spans_sql = _values_sql(
        [("doc_id", "VARCHAR"), ("span_pos", "INTEGER"), ("text", "VARCHAR"),
         ("media_ref", "VARCHAR"), ("offset", "INTEGER")],
        rows,
    )
    return f"""
        WITH s AS ({spans_sql}),
        e AS (
            SELECT doc_id, span_pos, "offset", text, media_ref,
                   CAST(coalesce(sum(CASE WHEN len(text) > 0
                                          THEN len(text) + 1 ELSE 0 END)
                        OVER (PARTITION BY doc_id ORDER BY span_pos
                              ROWS BETWEEN UNBOUNDED PRECEDING
                              AND 1 PRECEDING), 0) AS INTEGER) AS expected
            FROM s)
        SELECT doc_id,
               CAST(count(*) AS BIGINT) AS n_spans,
               CAST(sum(CASE WHEN len(text) > 0 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_text,
               CAST(sum(len(text)) AS BIGINT) AS text_chars,
               bool_and("offset" = expected) AS offsets_ok,
               bool_and(len(text) = 0 OR media_ref = '') AS width_ok
        FROM e GROUP BY doc_id
    """


def _ora_minhash_join() -> str:
    """Hybrid (same trust level as _ora_minhash_pairs): Python replays
    the banding spec over BOTH sides to get the cross-side candidate
    pairs; DuckDB recomputes exact 5-shingle Jaccard + threshold."""
    import hashlib

    import pyarrow.parquet as pq

    from osm_pbf_spark.operators.dedup import (
        _BANDS,
        _N_PERM,
        _minhash_sig,
        _shingle_hashes,
    )

    t = pq.read_table(
        os.path.join(ORACLE_SF_DIR, "documents.parquet"), columns=["doc_id", "text"]
    )
    docs = list(zip(t.column("doc_id").to_pylist(), t.column("text").to_pylist()))
    corpus = [(int(i), s) for i, s in docs if int(i) < 200]
    new = [(int(i) + 1_000_000, s) for i, s in docs if 100 <= int(i) < 300]
    rpb = _N_PERM // _BANDS
    buckets: dict[int, tuple[list[int], list[int]]] = {}
    for side, rows in ((0, new), (1, corpus)):
        for i, s in rows:
            sig = _minhash_sig(_shingle_hashes(s or "", 5))
            for b in range(_BANDS):
                h = hashlib.blake2b(
                    sig[b * rpb : (b + 1) * rpb].tobytes(), digest_size=8,
                    key=b.to_bytes(2, "little"),
                )
                key = (b << 56) | (int.from_bytes(h.digest(), "little") & ((1 << 56) - 1))
                buckets.setdefault(key, ([], []))[side].append(i)
    pairs = set()
    for ns, cs in buckets.values():
        for a in ns:
            for b in cs:
                pairs.add((a, b))
    cand_vals = ", ".join(f"({a}, {b})" for a, b in sorted(pairs))
    return f"""
        WITH corpus AS (SELECT doc_id, text FROM documents WHERE doc_id < 200),
        newb AS (SELECT doc_id + 1000000 AS doc_id, text FROM documents
                 WHERE doc_id >= 100 AND doc_id < 300),
        unioned AS (SELECT * FROM corpus UNION ALL SELECT * FROM newb),
        cand(new_id, corpus_id) AS (VALUES {cand_vals}),
        grams AS (
            SELECT doc_id AS id,
                   unnest(list_distinct([substr(text, CAST(i AS INT), 5)
                                         for i in generate_series(1, len(text) - 4)])) AS gram
            FROM unioned),
        sizes AS (SELECT id, count(*) AS n FROM grams GROUP BY id),
        inter AS (
            SELECT c.new_id, c.corpus_id, count(*) AS inter
            FROM cand c
            JOIN grams ga ON ga.id = c.new_id
            JOIN grams gb ON gb.id = c.corpus_id AND gb.gram = ga.gram
            GROUP BY c.new_id, c.corpus_id)
        SELECT CAST(i.new_id AS BIGINT) AS new_id,
               CAST(i.corpus_id AS BIGINT) AS corpus_id,
               i.inter / (sa.n + sb.n - i.inter) AS jaccard
        FROM inter i JOIN sizes sa ON sa.id = i.new_id
        JOIN sizes sb ON sb.id = i.corpus_id
        WHERE i.inter / (sa.n + sb.n - i.inter) >= 0.5
    """


def _ora_dedup_groups() -> str:
    """Near-dup GROUP assignment: the MinHash banding replay supplies
    candidates (same trust level as _ora_minhash_pairs); DuckDB then
    independently (a) verifies exact shingle Jaccard >= 0.5 and (b)
    computes the transitive closure with a recursive CTE — an entirely
    different connected-components algorithm (min-label reachability)
    from the engine's large-star/small-star rounds."""
    cand_vals = _minhash_cand_vals()
    return f"""
        WITH RECURSIVE unioned AS (
            SELECT doc_id, text FROM documents WHERE doc_id < 200
            UNION ALL SELECT doc_id + 1000000, text FROM documents WHERE doc_id < 200),
        cand(id_a, id_b) AS (VALUES {cand_vals}),
        grams AS (
            SELECT doc_id AS id,
                   unnest(list_distinct([substr(text, CAST(i AS INT), 5)
                                         for i in generate_series(1, len(text) - 4)])) AS gram
            FROM unioned),
        sizes AS (SELECT id, count(*) AS n FROM grams GROUP BY id),
        inter AS (
            SELECT c.id_a, c.id_b, count(*) AS inter
            FROM cand c
            JOIN grams ga ON ga.id = c.id_a
            JOIN grams gb ON gb.id = c.id_b AND gb.gram = ga.gram
            GROUP BY c.id_a, c.id_b),
        verified AS (
            SELECT i.id_a, i.id_b
            FROM inter i JOIN sizes sa ON sa.id = i.id_a JOIN sizes sb ON sb.id = i.id_b
            WHERE i.inter / (sa.n + sb.n - i.inter) >= 0.5),
        sym AS (SELECT id_a AS u, id_b AS v FROM verified
                UNION SELECT id_b, id_a FROM verified),
        reach(node, lbl) AS (
            SELECT u, u FROM sym
            UNION
            SELECT s.u, r.lbl FROM reach r JOIN sym s ON s.v = r.node),
        comp AS (SELECT node, min(lbl) AS component FROM reach GROUP BY node)
        SELECT CAST(d.doc_id AS BIGINT) AS doc_id,
               CAST(coalesce(c.component, d.doc_id) AS BIGINT) AS group_id
        FROM unioned d LEFT JOIN comp c ON c.node = d.doc_id
    """


def _ora_dedup_canonical() -> str:
    """Survivor-set wrap of _ora_dedup_groups: min-id + count per
    closure group (the recursive-CTE closure stays the independent
    half; the canonical pick is a plain GROUP BY on top)."""
    return f"""
        SELECT min(doc_id) AS doc_id, group_id,
               CAST(count(*) AS BIGINT) AS group_size
        FROM ({_ora_dedup_groups()}) g
        GROUP BY group_id
    """


def _ora_rasterize() -> str:
    """q_rasterize oracle: per-polygon bbox grid via generate_series,
    centers on the identical dyadic-exact IEEE chain, inside test =
    the half-plane SQL (convex gate polygons; no center lies on an
    edge — the polygon coords carry micro-degree offsets)."""
    import math

    res, lat0, lon0 = 0.5, -90.0, -180.0
    lat_c = (
        "(CAST(gy AS DOUBLE) + CAST(0.5 AS DOUBLE)) * CAST(0.5 AS DOUBLE)"
        " + CAST(-90 AS DOUBLE)"
    )
    lon_c = (
        "(CAST(gx AS DOUBLE) + CAST(0.5 AS DOUBLE)) * CAST(0.5 AS DOUBLE)"
        " + CAST(-180 AS DOUBLE)"
    )
    parts = []
    for p in PIP_POLYGONS:
        outer = p.rings[0]
        la, lo = outer[:, 0], outer[:, 1]
        gy0 = math.floor((float(la.min()) - lat0) / res)
        gy1 = math.floor((float(la.max()) - lat0) / res)
        gx0 = math.floor((float(lo.min()) - lon0) / res)
        gx1 = math.floor((float(lo.max()) - lon0) / res)
        parts.append(
            f"""SELECT poly_id, gx, gy FROM (
              SELECT '{p.poly_id}' AS poly_id, gx, gy,
                     {lat_c} AS lat, {lon_c} AS lon
              FROM generate_series({gx0}, {gx1}) g1(gx),
                   generate_series({gy0}, {gy1}) g2(gy))
            WHERE {_halfplane_sql(_poly_cw(p.rings[0]))}"""
        )
    return " UNION ALL ".join(parts)


def _ora_walk_sql() -> str:
    """Shared recursive-walk CTE chain for q_random_walks /
    q_walk_pairs: DuckDB's own recursion + list indexing re-walks the
    md5 sorted-neighbor-index spec (n_steps=4, walks_per_node=2,
    seed 'w') over the md5 graph."""
    h = _hexn_bigint_sql(
        "md5('w:' || CAST(w.start AS VARCHAR) || ':'"
        " || CAST(w.rep AS VARCHAR) || ':'"
        " || CAST(w.step AS VARCHAR) || ':'"
        " || CAST(w.node AS VARCHAR))",
        1,
        10,
    )
    return f"""
        WITH RECURSIVE {_MD5_GRAPH_SQL},
        e AS (SELECT DISTINCT src AS a, dst AS b FROM ed WHERE src <> dst),
        adj AS (SELECT a AS node, list_sort(list(b)) AS nbrs,
                       count(*) AS deg
                FROM e GROUP BY a),
        nodes AS (SELECT DISTINCT node FROM
                    (SELECT a AS node FROM e
                     UNION ALL SELECT b AS node FROM e)),
        walk AS (
          SELECT n.node AS start, r.rep, 0 AS step, n.node AS node
          FROM nodes n CROSS JOIN (VALUES (0), (1)) r(rep)
          UNION ALL
          SELECT w.start, w.rep, w.step + 1,
                 a.nbrs[CAST({h} % a.deg AS BIGINT) + 1]
          FROM walk w JOIN adj a ON a.node = w.node
          WHERE w.step < 4)
    """


def _ora_pii_scan() -> str:
    """q_pii_scan oracle: the SAME engine-portable patterns evaluated by
    DuckDB's RE2 (Spark runs Java regex — two independent regex engines
    must agree on every span). The pattern list is imported from the
    operator so the two sides can never drift."""
    from osm_pbf_spark.operators.text import _PII_PATTERNS

    src = """
        src AS (
          SELECT c_custkey AS doc_id,
                 c_name || ' mail u' || CAST(c_custkey AS VARCHAR)
                 || '@ex' || CAST(c_custkey % 7 AS VARCHAR) || '.com'
                 || CASE WHEN c_custkey % 3 = 0 THEN ' call none'
                    ELSE ' call +1-555-'
                         || lpad(CAST(c_custkey % 10000 AS VARCHAR), 4, '0')
                    END
                 || ' ip 10.' || CAST(c_custkey % 256 AS VARCHAR)
                 || '.0.' || CAST(c_custkey % 100 AS VARCHAR) || ' ok'
                     AS text
          FROM customer
          UNION ALL
          SELECT doc_id + 1000000, text FROM documents WHERE doc_id < 300)
    """
    ctes = [src]
    prev_txt, prev_cte = "text", "src"
    carried: list[str] = []
    for i, (name, pat, tag) in enumerate(_PII_PATTERNS):
        lit = pat.replace("'", "''")
        nxt = f"m{i}"
        out_txt = "masked" if i == len(_PII_PATTERNS) - 1 else f"t{i}"
        cols = ", ".join(["doc_id"] + carried)
        ctes.append(
            f"""{nxt} AS (
              SELECT {cols},
                     CAST(len(regexp_extract_all({prev_txt}, '{lit}'))
                          AS BIGINT) AS n_{name},
                     regexp_replace({prev_txt}, '{lit}', '{tag}', 'g')
                         AS {out_txt}
              FROM {prev_cte})"""
        )
        carried.append(f"n_{name}")
        prev_txt, prev_cte = out_txt, nxt
    total = " + ".join(carried)
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"\nSELECT doc_id, {', '.join(carried)}, {total} AS n_pii, masked"
        + f"\nFROM {prev_cte}"
    )


def _ora_mmr() -> str:
    """Pure-Python scalar replay of the MMR spec (mmr_topk_py: brute
    loops, no numpy — independent plumbing from the engine's vectorized
    applyInPandas kernel, same integer score spec; the map_match_py
    oracle convention)."""
    import math

    import pyarrow.parquet as pq

    from osm_pbf_spark.operators.ann import mmr_topk_py

    t = pq.read_table(
        os.path.join(ORACLE_SF_DIR, "embeddings.parquet"),
        columns=["vec_id", "embedding"],
    )
    groups: dict[int, list] = {}
    for vid, v in zip(t.column("vec_id").to_pylist(), t.column("embedding").to_pylist()):
        if vid >= 200:
            continue
        qv = [math.floor(float(x) * 256.0 + 0.5) for x in v]
        rel = (vid * 37) % 1000 + 500
        groups.setdefault(vid % 8, []).append((vid, rel, qv))
    rows = []
    for qid, rws in groups.items():
        for rank, did, num in mmr_topk_py(rws, 5, 7, 10):
            rows.append((qid, rank, did, num))
    return _values_sql(
        [
            ("q_id", "BIGINT"),
            ("rank", "INTEGER"),
            ("doc_id", "BIGINT"),
            ("mmr_num", "BIGINT"),
        ],
        rows,
    )


def _ora_simhash_pairs() -> str:
    """Hybrid: Python replays the simhash + 16-bit-quarter bucketing spec
    for signatures and candidates; DuckDB verifies hamming <= 3 via
    xor + bit_count on the emitted signatures."""
    from osm_pbf_spark.operators.dedup import _simhash64

    docs = _oracle_docs()
    sig = {i: np.int64(np.uint64(_simhash64(s))) for i, s in docs}
    buckets: dict[int, list[int]] = {}
    for i, _s in docs:
        u = int(np.uint64(sig[i]))
        for q in range(4):
            buckets.setdefault((q << 16) | ((u >> (16 * q)) & 0xFFFF), []).append(i)
    pairs = set()
    for v in buckets.values():
        v = sorted(set(v))
        for x in range(len(v)):
            for y in range(x + 1, len(v)):
                pairs.add((v[x], v[y]))
    sig_vals = ", ".join(f"({i}, {int(sh)})" for i, sh in sorted(sig.items()))
    cand_vals = ", ".join(f"({a}, {b})" for a, b in sorted(pairs))
    return f"""
        WITH sig(id, sh) AS (VALUES {sig_vals}),
        cand(id_a, id_b) AS (VALUES {cand_vals})
        SELECT CAST(c.id_a AS BIGINT) AS id_a, CAST(c.id_b AS BIGINT) AS id_b,
               CAST(bit_count(xor(CAST(sa.sh AS BIGINT), CAST(sb.sh AS BIGINT))) AS INTEGER) AS hamming
        FROM cand c JOIN sig sa ON sa.id = c.id_a JOIN sig sb ON sb.id = c.id_b
        WHERE bit_count(xor(CAST(sa.sh AS BIGINT), CAST(sb.sh AS BIGINT))) <= 3
    """


def _ora_near_dup_lsh() -> str:
    """Scalar replay of the LSH near-dup spec: same hyperplane buckets,
    own-bucket + 1-bit-flip candidate pairs, exact float64 cosine fold,
    over the planted-duplicate corpus of q_near_dup_lsh."""
    import math

    import pyarrow.parquet as pq

    from osm_pbf_spark.operators.ann import _hyperplanes

    t = pq.read_table(
        os.path.join(ORACLE_SF_DIR, "embeddings.parquet"), columns=["vec_id", "embedding"]
    )
    base = [
        (int(i), v)
        for i, v in zip(t.column("vec_id").to_pylist(), t.column("embedding").to_pylist())
        if int(i) < 200
    ]
    docs = base + [(i + 1_000_000, v) for i, v in base]
    n_planes = 10
    planes = _hyperplanes(64, n_planes)
    m = np.asarray([v for _i, v in docs], dtype=np.float64)
    signs = (m @ planes.T) > 0
    bucket = (signs * (1 << np.arange(n_planes, dtype=np.int64))[None, :]).sum(axis=1)

    def fold_dot(a, b):
        acc = 0.0
        for x, y in zip(a, b):
            acc += float(x) * float(y)
        return acc

    by_bucket: dict[int, list[int]] = {}
    for idx, b in enumerate(bucket):
        by_bucket.setdefault(int(b), []).append(idx)
    pairs = set()
    for idx, b in enumerate(bucket):
        probes = {int(b)} | {int(b) ^ (1 << p) for p in range(n_planes)}
        for p in probes:
            for j in by_bucket.get(p, []):
                if docs[idx][0] < docs[j][0]:
                    pairs.add((idx, j))
    rows = []
    for i, j in sorted(pairs, key=lambda ij: (docs[ij[0]][0], docs[ij[1]][0])):
        va, vb = docs[i][1], docs[j][1]
        cos = fold_dot(va, vb) / math.sqrt(fold_dot(va, va) * fold_dot(vb, vb))
        if cos >= 0.9:
            rows.append((docs[i][0], docs[j][0], cos))
    return _values_sql(
        [("id_a", "BIGINT"), ("id_b", "BIGINT"), ("cos", "DOUBLE")], rows
    )


def _ora_lsh_topk() -> str:
    """Scalar replay of the hyperplane-LSH top-k spec: same deterministic
    hyperplanes, bucket + 1-bit multiprobe candidate generation in plain
    Python sets, and the EXACT left-to-right float64 cosine fold Spark's
    dot_f64 performs — emitted as a VALUES literal."""
    import math

    import pyarrow.parquet as pq

    from osm_pbf_spark.operators.ann import _hyperplanes

    t = pq.read_table(
        os.path.join(ORACLE_SF_DIR, "embeddings.parquet"), columns=["vec_id", "embedding"]
    )
    ids = [int(i) for i in t.column("vec_id").to_pylist()]
    vecs = t.column("embedding").to_pylist()
    n_planes = 10
    planes = _hyperplanes(64, n_planes)
    m = np.asarray(vecs, dtype=np.float64)
    signs = (m @ planes.T) > 0
    bucket = (signs * (1 << np.arange(n_planes, dtype=np.int64))[None, :]).sum(axis=1)
    by_bucket: dict[int, list[int]] = {}
    for idx, b in enumerate(bucket):
        by_bucket.setdefault(int(b), []).append(idx)

    def fold_dot(a: list, b: list) -> float:
        acc = 0.0
        for x, y in zip(a, b):
            acc += float(x) * float(y)
        return acc

    def fold_norm2(a: list) -> float:
        acc = 0.0
        for x in a:
            acc += float(x) * float(x)
        return acc

    rows = []
    for qi, qid in enumerate(ids):
        if qid >= 50:
            continue
        probes = {int(bucket[qi])} | {int(bucket[qi]) ^ (1 << p) for p in range(n_planes)}
        cand_idx = sorted({c for p in probes for c in by_bucket.get(p, [])})
        scored = []
        for ci in cand_idx:
            if ids[ci] == qid:
                continue
            cos = fold_dot(vecs[qi], vecs[ci]) / math.sqrt(
                fold_norm2(vecs[qi]) * fold_norm2(vecs[ci])
            )
            scored.append((-cos, ids[ci]))
        scored.sort()
        for rank, (neg_cos, nid) in enumerate(scored[:3], start=1):
            rows.append((qid, nid, rank, -neg_cos))
    return _values_sql(
        [("query_id", "BIGINT"), ("neighbor_id", "BIGINT"), ("rank", "INTEGER"),
         ("cos", "DOUBLE")],
        rows,
    )


def _ora_ivf_topk() -> str:
    """Scalar replay of the IVF top-k spec: the same deterministic
    spherical k-means (id-sorted sample, evenly spaced init, fixed
    Lloyd iterations — engine kernel imported for candidate
    generation, per the hybrid-oracle convention), nearest-list
    assignment + nprobe probing replayed in numpy, and the EXACT
    left-to-right float64 cosine fold for the rerank — emitted as a
    VALUES literal."""
    import math

    import pyarrow.parquet as pq

    from osm_pbf_spark.operators.ann import _kmeans_centroids

    t = pq.read_table(
        os.path.join(ORACLE_SF_DIR, "embeddings.parquet"), columns=["vec_id", "embedding"]
    )
    ids = [int(i) for i in t.column("vec_id").to_pylist()]
    vecs = t.column("embedding").to_pylist()
    order = sorted(range(len(ids)), key=lambda i: ids[i])
    sample = np.asarray([vecs[i] for i in order[:4096]], dtype=np.float64)
    cent = _kmeans_centroids(sample, 16)
    m = np.asarray(vecs, dtype=np.float64)
    norms = np.linalg.norm(m, axis=1, keepdims=True)
    mn = m / np.where(norms == 0.0, 1.0, norms)
    dots = mn @ cent.T
    bucket = np.argmax(dots, axis=1)
    probes = np.argsort(-dots, axis=1, kind="stable")[:, :4]
    by_bucket: dict[int, list[int]] = {}
    for idx, b in enumerate(bucket):
        by_bucket.setdefault(int(b), []).append(idx)

    def fold_dot(a: list, b: list) -> float:
        acc = 0.0
        for x, y in zip(a, b):
            acc += float(x) * float(y)
        return acc

    rows = []
    for qi, qid in enumerate(ids):
        if qid >= 50:
            continue
        cand_idx = sorted({c for p in probes[qi] for c in by_bucket.get(int(p), [])})
        scored = []
        for ci in cand_idx:
            if ids[ci] == qid:
                continue
            cos = fold_dot(vecs[qi], vecs[ci]) / math.sqrt(
                fold_dot(vecs[qi], vecs[qi]) * fold_dot(vecs[ci], vecs[ci])
            )
            scored.append((-cos, ids[ci]))
        scored.sort()
        for rank, (neg_cos, nid) in enumerate(scored[:3], start=1):
            rows.append((qid, nid, rank, -neg_cos))
    return _values_sql(
        [("query_id", "BIGINT"), ("neighbor_id", "BIGINT"), ("rank", "INTEGER"),
         ("cos", "DOUBLE")],
        rows,
    )


def _ora_bpe_train() -> str:
    """Independent pure-Python replay of the BPE training loop (word
    frequencies -> weighted pair counts -> argmax with (cnt desc, a, b)
    tie-break -> left-to-right scan merge), emitted as VALUES."""
    from collections import Counter

    import pyarrow.parquet as pq

    t = pq.read_table(
        os.path.join(ORACLE_SF_DIR, "documents.parquet"), columns=["text"]
    )
    freq: Counter = Counter()
    for text in t.column("text").to_pylist():
        for w in (text or "").split(" "):
            if w:
                freq[w] += 1
    toks = {w: list(w) for w in freq}
    rows = []
    for rank in range(12):
        counts: Counter = Counter()
        for w, sym in toks.items():
            f = freq[w]
            for p in zip(sym, sym[1:]):
                counts[p] += f
        if not counts:
            break
        best = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))
        (a, b), cnt = best
        if cnt < 2:
            break
        rows.append((rank, a, b, cnt))
        merged = a + b
        for w, sym in toks.items():
            if len(sym) < 2:
                continue
            out = []
            i = 0
            while i < len(sym):
                if i + 1 < len(sym) and sym[i] == a and sym[i + 1] == b:
                    out.append(merged)
                    i += 2
                else:
                    out.append(sym[i])
                    i += 1
            toks[w] = out
    return _values_sql(
        [("rank", "INTEGER"), ("left", "VARCHAR"), ("right", "VARCHAR"),
         ("pair_count", "BIGINT")],
        rows,
    )


def _ora_pq_topk() -> str:
    """Scalar replay of the PQ/ADC top-k spec: the codebook is the
    engine's exported state (same deterministic trainer on the same
    id-sorted capped sample — hybrid-oracle convention, like IVF), but
    encode, LUT, and the ADC scan are replayed in PURE PYTHON integer
    arithmetic (math.floor per dimension, left-to-right int sums) —
    the quantized spec makes numpy's and Python's bits identical."""
    import math

    import pyarrow.parquet as pq

    from osm_pbf_spark.operators.ann import _pq_train_mat

    t = pq.read_table(
        os.path.join(ORACLE_SF_DIR, "embeddings.parquet"),
        columns=["vec_id", "embedding"],
    )
    ids = [int(i) for i in t.column("vec_id").to_pylist()]
    vecs = t.column("embedding").to_pylist()
    order = sorted(range(len(ids)), key=lambda i: ids[i])
    sample = np.asarray([vecs[i] for i in order[:4096]], dtype=np.float64)
    m, n_codes = 4, 16
    book = _pq_train_mat(sample, m, n_codes)
    dsub = book.shape[2]
    scale = float(1 << 20)

    def d2q(vec: list, cent, lo: int) -> int:
        s = 0
        for d in range(dsub):
            diff = float(vec[lo + d]) - float(cent[d])
            s += math.floor(diff * diff * scale + 0.5)
        return s

    codes = []
    for v in vecs:
        cs = []
        for s in range(m):
            dists = [d2q(v, book[s][j], s * dsub) for j in range(n_codes)]
            cs.append(dists.index(min(dists)))  # ties -> lowest code
        codes.append(cs)

    rows = []
    for qi, qid in enumerate(ids):
        if qid >= 30:
            continue
        lut = [
            [d2q(vecs[qi], book[s][j], s * dsub) for j in range(n_codes)]
            for s in range(m)
        ]
        scored = []
        for ci, nid in enumerate(ids):
            if nid == qid:
                continue
            adc = 0
            for s in range(m):
                adc += lut[s][codes[ci][s]]
            scored.append((adc, nid))
        scored.sort()
        for rank, (adc, nid) in enumerate(scored[:3], start=1):
            rows.append((qid, nid, rank, adc))
    return _values_sql(
        [("query_id", "BIGINT"), ("neighbor_id", "BIGINT"), ("rank", "INTEGER"),
         ("adc_d2q", "BIGINT")],
        rows,
    )


def _ora_ivfpq() -> str:
    """Pure-Python integer replay of the IVF-PQ spec: codebooks are the
    engine's exported state (deterministic trainers on the id-sorted
    capped sample — hybrid convention), but coarse assignment, probe
    order, residual codes, and the ADC scan are replayed with
    math.floor loops — the quantized spec makes every bit identical."""
    import math

    import pyarrow.parquet as pq

    from osm_pbf_spark.operators.ann import _pq_d2q, _pq_train_mat

    t = pq.read_table(
        os.path.join(ORACLE_SF_DIR, "embeddings.parquet"),
        columns=["vec_id", "embedding"],
    )
    ids = [int(i) for i in t.column("vec_id").to_pylist()]
    vecs = t.column("embedding").to_pylist()
    order = sorted(range(len(ids)), key=lambda i: ids[i])
    sample = np.asarray([vecs[i] for i in order[:4096]], dtype=np.float64)
    n_lists, nprobe, m, n_codes, k = 16, 4, 4, 16, 3
    coarse = _pq_train_mat(sample, 1, n_lists)[0]
    assign = np.argmin(_pq_d2q(sample, coarse), axis=1)
    book = _pq_train_mat(sample - coarse[assign], m, n_codes)
    dsub = book.shape[2]
    scale = float(1 << 20)

    def d2q(vec, cent, lo=0) -> int:
        s = 0
        for d in range(len(cent)):
            diff = float(vec[lo + d]) - float(cent[d])
            s += math.floor(diff * diff * scale + 0.5)
        return s

    # candidate pass: list assignment + residual codes, pure Python
    lists, codes = [], []
    for v in vecs:
        li = min(range(n_lists), key=lambda j: (d2q(v, coarse[j]), j))
        lists.append(li)
        res = [float(v[d]) - float(coarse[li][d]) for d in range(len(v))]
        codes.append(
            [
                min(
                    range(n_codes),
                    key=lambda j: (d2q(res, book[s][j], s * dsub), j),
                )
                for s in range(m)
            ]
        )
    by_list: dict[int, list[int]] = {}
    for idx, li in enumerate(lists):
        by_list.setdefault(li, []).append(idx)

    rows = []
    for qi, qid in enumerate(ids):
        if qid >= 20:
            continue
        qv = vecs[qi]
        probe = sorted(range(n_lists), key=lambda j: (d2q(qv, coarse[j]), j))[
            :nprobe
        ]
        scored = []
        for li in probe:
            res = [float(qv[d]) - float(coarse[li][d]) for d in range(len(qv))]
            lut = [
                [d2q(res, book[s][j], s * dsub) for j in range(n_codes)]
                for s in range(m)
            ]
            for ci in by_list.get(li, []):
                if ids[ci] == qid:
                    continue
                adc = 0
                for s in range(m):
                    adc += lut[s][codes[ci][s]]
                scored.append((adc, ids[ci]))
        scored.sort()
        for rank, (adc, nid) in enumerate(scored[:k], start=1):
            rows.append((qid, nid, rank, adc))
    return _values_sql(
        [("query_id", "BIGINT"), ("neighbor_id", "BIGINT"), ("rank", "INTEGER"),
         ("adc_d2q", "BIGINT")],
        rows,
    )


def _ora_pack_bins() -> str:
    """Scalar replay of the FFD bin-packing spec (operators/packing.py
    bin_pack_ffd): md5-mod grouping, per-group sort by (tokens desc,
    id), first-fit placement — independent fold over the same parquet,
    emitted as a VALUES literal."""
    import hashlib

    import pyarrow.parquet as pq

    t = pq.read_table(
        os.path.join(ORACLE_SF_DIR, "documents.parquet"), columns=["doc_id", "text"]
    )
    budget, n_groups = 256, 8
    groups: dict[int, list[tuple[int, int]]] = {}
    for doc_id, text in zip(t.column("doc_id").to_pylist(), t.column("text").to_pylist()):
        if doc_id >= 400:
            continue
        g = int(hashlib.md5(str(doc_id).encode()).hexdigest()[:8], 16) % n_groups
        groups.setdefault(g, []).append((int(doc_id), len(text.split(" "))))
    rows = []
    for g, docs in groups.items():
        fill: list[int] = []
        counts: list[int] = []
        for doc_id, tk in sorted(docs, key=lambda dt: (-dt[1], dt[0])):
            placed = -1
            for b, used in enumerate(fill):
                if used + tk <= budget:
                    placed = b
                    break
            if placed < 0:
                placed = len(fill)
                fill.append(0)
                counts.append(0)
            rows.append(((g << 32) | placed, doc_id, tk, counts[placed]))
            fill[placed] += tk
            counts[placed] += 1
    return _values_sql(
        [("bin_id", "BIGINT"), ("doc_id", "BIGINT"), ("n_tokens", "BIGINT"),
         ("bin_pos", "BIGINT")],
        rows,
    )


def _ora_way_measures() -> str:
    """Pure-Python replay of measures over the spec-decoded fixture
    ways (same haversine expression order as operators/measures.py,
    same mm/1e-8deg2/1e-7deg integer units, HALF_UP rounding like
    Spark/DuckDB round — Python's round() is banker's and must not be
    used). Length compared at meter granularity (libm vs JVM trig)."""
    import math

    d = _fixture_decoded("mixed")
    coords = {n["id"]: (n["lat"], n["lon"]) for n in d["nodes"]}
    deg2rad = 0.017453292519943295

    def hround(x: float) -> int:  # HALF_UP, away from zero
        return int(math.floor(x + 0.5)) if x >= 0 else int(math.ceil(x - 0.5))

    rows = []
    for w in d["ways"]:
        pts = [coords[r] for r in w["refs"] if r in coords]
        if len(pts) < 2:
            continue
        smm = sc = sla = slo = 0
        for (la0, lo0), (la1, lo1) in zip(pts, pts[1:]):
            sdlat = math.sin((la1 - la0) * deg2rad / 2.0)
            sdlon = math.sin((lo1 - lo0) * deg2rad / 2.0)
            a = sdlat * sdlat + math.cos(la0 * deg2rad) * math.cos(la1 * deg2rad) * (
                sdlon * sdlon
            )
            a = min(max(a, 0.0), 1.0)
            hav = 12742017.6 * math.asin(math.sqrt(a))
            smm += hround(hav * 1000.0)
            sc += hround((lo0 * la1 - lo1 * la0) * 1e8)
            sla += hround((la0 + la1) / 2.0 * 1e7)
            slo += hround((lo0 + lo1) / 2.0 * 1e7)
        rows.append((w["id"], len(pts) - 1, hround(smm / 1000.0), sc, sla, slo))
    return _values_sql(
        [("way_id", "BIGINT"), ("n_segs", "BIGINT"), ("len_m", "BIGINT"),
         ("cross2_u", "BIGINT"), ("mid_lat_u", "BIGINT"), ("mid_lon_u", "BIGINT")],
        rows,
    )


def _ora_simplify() -> str:
    """Scalar replay of the Douglas-Peucker spec (operators/simplify.py):
    INDEPENDENT recursive implementation (engine is stack-iterative
    numpy) with the same IEEE expression order — cross = dx*(y0-yp) -
    dy*(x0-xp), keep iff cross^2 > tol^2*seg2, first-max tie-break —
    over the same synthetic polylines, emitted as a VALUES literal."""
    import pyarrow.parquet as pq

    t = pq.read_table(os.path.join(ORACLE_SF_DIR, "events.parquet"), columns=["event_id"])
    lines: dict[int, list[tuple[int, float, float]]] = {}
    for eid in t.column("event_id").to_pylist():
        eid = int(eid)
        lid = eid % 40
        lat = (
            lid * 2.0 - 40.0
            + ((eid * 7919) % 100) * 0.002
            + (5.0 if eid % 17 == 0 else 0.0)
        )
        lon = -170.0 + (eid - eid % 40) / 40.0 * 1.3
        lines.setdefault(lid, []).append((eid, lat, lon))
    tol = 0.3
    tol2 = tol * tol

    def rec(xs, ys, keep, i0, i1):
        if i1 - i0 < 2:
            return
        x0, y0, x1, y1 = xs[i0], ys[i0], xs[i1], ys[i1]
        dx, dy = x1 - x0, y1 - y0
        seg2 = dx * dx + dy * dy
        thr = tol2 if seg2 == 0.0 else tol2 * seg2
        best, bj = -1.0, -1
        for j in range(i0 + 1, i1):
            if seg2 == 0.0:
                d2 = (xs[j] - x0) * (xs[j] - x0) + (ys[j] - y0) * (ys[j] - y0)
            else:
                cr = dx * (y0 - ys[j]) - dy * (x0 - xs[j])
                d2 = cr * cr
            if d2 > best:
                best, bj = d2, j
        if best > thr:
            keep[bj] = True
            rec(xs, ys, keep, i0, bj)
            rec(xs, ys, keep, bj, i1)

    rows = []
    for lid in sorted(lines):
        pts = sorted(lines[lid])
        ys = [p[1] for p in pts]  # lat
        xs = [p[2] for p in pts]  # lon
        n = len(pts)
        keep = [False] * n
        if n:
            keep[0] = keep[-1] = True
        if n > 2:
            rec(xs, ys, keep, 0, n - 1)
        idx = 0
        for j in range(n):
            if keep[j]:
                rows.append((lid, idx, ys[j], xs[j]))
                idx += 1
    return _values_sql(
        [("line_id", "BIGINT"), ("pt_idx", "INTEGER"), ("lat", "DOUBLE"), ("lon", "DOUBLE")],
        rows,
    )


def _ora_kmeans() -> str:
    """Scalar replay of the k-means assignment spec (operators/ann.py
    kmeans_assign): the same deterministic spherical k-means training
    (engine kernel imported for centroid generation, per the
    hybrid-oracle convention) and an independent numpy argmax
    assignment over the full table — emitted as a VALUES literal."""
    import pyarrow.parquet as pq

    from osm_pbf_spark.operators.ann import _kmeans_centroids

    t = pq.read_table(
        os.path.join(ORACLE_SF_DIR, "embeddings.parquet"), columns=["vec_id", "embedding"]
    )
    ids = [int(i) for i in t.column("vec_id").to_pylist()]
    vecs = t.column("embedding").to_pylist()
    order = sorted(range(len(ids)), key=lambda i: ids[i])[:4096]
    cent = _kmeans_centroids(
        np.asarray([vecs[i] for i in order], dtype=np.float64), 16
    )
    m = np.asarray(vecs, dtype=np.float64)
    norms = np.linalg.norm(m, axis=1, keepdims=True)
    mn = m / np.where(norms == 0.0, 1.0, norms)
    best = np.argmax(mn @ cent.T, axis=1)
    rows = [(ids[i], int(best[i])) for i in range(len(ids))]
    return _values_sql([("vec_id", "BIGINT"), ("cluster", "BIGINT")], rows)


# ---------------------------------------------------------------------------
# oracles
# ---------------------------------------------------------------------------


def _ora_chunk_spans() -> str:
    """Span VALUES come from the pure-Python render replay (same trust
    level as _ora_doc_spans); DuckDB independently computes the chunk
    assignment and the per-chunk aggregates."""
    from tests import oracle_render

    docs = oracle_render.render_file(_fixture_decoded("mixed"))
    rows = [
        (d["doc_id"], s["kind"], s["text"], s["offset"])
        for d in docs
        for s in d["spans"]
    ]
    spans_sql = _values_sql(
        [("doc_id", "VARCHAR"), ("kind", "VARCHAR"), ("text", "VARCHAR"),
         ("offset", "INTEGER")],
        rows,
    )
    return f"""
        WITH s AS ({spans_sql})
        SELECT doc_id,
               CAST(floor("offset" / CAST(48 AS DOUBLE)) AS BIGINT) AS chunk_idx,
               count(*) AS n_spans,
               CAST(sum(CASE WHEN len(text) > 0 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_text_spans,
               CAST(sum(CASE WHEN kind = 'media' THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_media,
               CAST(sum(len(text)) AS BIGINT) AS chars
        FROM s GROUP BY doc_id, chunk_idx
    """


# RAKE stopword list imported from the operator (oracle cannot drift)
from osm_pbf_spark.operators.text import RAKE_STOPWORDS as _RAKE_SW  # noqa: E402

_RAKE_SW_SQL = ", ".join(f"'{s}'" for s in _RAKE_SW)

# Fellegi-Sunter micro-nat weights from the operator's own quantizer
from osm_pbf_spark.operators.fuzzy import fs_weights as _fs_weights  # noqa: E402

_FS_W = _fs_weights({"seg": (0.9, 0.2), "ab": (0.95, 0.05)})


def _hex40_bigint_sql(hexpr: str) -> str:
    """SQL turning the first 10 hex chars of ``hexpr`` into the same
    bigint Spark's conv(substr(h,1,10),16,10) yields — DuckDB has no
    conv(), so each nibble is shifted into place (digit values are
    exact; << on BIGINT never overflows at 40 bits)."""
    terms = [
        f"(CAST(strpos('0123456789abcdef', substr({hexpr}, {i}, 1)) - 1 AS BIGINT)"
        f" << {4 * (10 - i)})"
        for i in range(1, 11)
    ]
    return "(" + " + ".join(terms) + ")"


# the identical float chain hll_estimate uses (alpha_256 * m^2 * 2^41);
# repr() round-trips, so both engines parse the same double
_HLL_EST_NUM = (0.7213 / (1 + 1.079 / 256.0)) * 256.0 * 256.0 * float(1 << 41)


def _disk2_consts():
    from osm_pbf_spark.operators.tiling import _disk_offsets

    offs = _disk_offsets(2)
    return ", ".join(f"({dx}, {dy})" for dx, dy in offs), len(offs)


_DISK2_VALS, _DISK2_N = _disk2_consts()


def _hexn_bigint_sql(hexpr: str, start: int, n: int) -> str:
    """SQL for Spark's conv(substr(h, start, n), 16, 10) — the
    variable-width sibling of _hex40_bigint_sql (n <= 15 keeps the
    shifted sum exact in BIGINT)."""
    terms = [
        f"(CAST(strpos('0123456789abcdef', substr({hexpr}, {start + i}, 1)) - 1 AS BIGINT)"
        f" << {4 * (n - 1 - i)})"
        for i in range(n)
    ]
    return "(" + " + ".join(terms) + ")"


def _zq_sql(e: str, lo: float, hi: float, bits: int) -> str:
    """Replay of zorder._quant_range_col: same IEEE op order."""
    n = float(1 << bits)
    return (
        f"least(greatest(CAST(floor((({e}) - ({lo!r})) / ({hi - lo!r}) "
        f"* {n!r}) AS BIGINT), 0), {(1 << bits) - 1})"
    )


def _zinterleave_sql(qnames: list[str], bits: int) -> str:
    """Unrolled Z-order interleave: bit b of column i -> b*k+i."""
    k = len(qnames)
    terms = [
        f"((({qnames[i]} >> {b}) & 1) * {1 << (b * k + i)})"
        for b in range(bits)
        for i in range(k)
    ]
    return "(" + " + ".join(terms) + ")"


_MD5_GRAPH_SQL = f"""ed AS (
        SELECT {_hex40_bigint_sql("md5(CAST(event_id AS VARCHAR))")} % 100
                   AS src,
               {_hex40_bigint_sql(
                   "md5(CAST(event_id AS VARCHAR) || ':d')")} % 100 AS dst
        FROM events WHERE event_id < 900)"""


def _kcore_sql(k: int, rounds: int) -> str:
    """Unrolled peeling replay for q_kcore (same convention as the
    PageRank oracle: one CTE pair per round)."""
    parts = [
        _MD5_GRAPH_SQL,
        """e0 AS (SELECT DISTINCT a, b FROM (
                    SELECT src AS a, dst AS b FROM ed WHERE src <> dst
                    UNION ALL
                    SELECT dst AS a, src AS b FROM ed WHERE src <> dst))""",
    ]
    for i in range(rounds):
        parts.append(
            f"k{i} AS (SELECT a FROM e{i} GROUP BY a HAVING count(*) >= {k})"
        )
        parts.append(
            f"""e{i + 1} AS (SELECT e.a, e.b FROM e{i} e
                 WHERE EXISTS (SELECT 1 FROM k{i} x WHERE x.a = e.a)
                   AND EXISTS (SELECT 1 FROM k{i} y WHERE y.a = e.b))"""
        )
    body = ",\n".join(parts)
    return (
        f"WITH {body}\n"
        f"SELECT a AS node, count(*) AS degree FROM e{rounds} GROUP BY a"
    )


def _quadkey_sql(z: int) -> str:
    """Digit-concat replay of functions/tiles.quadkey_col for fixed z.
    ``//`` (floor division) mirrors Spark's (x / s) CAST BIGINT, which
    truncates — DuckDB's CAST would ROUND, so it must not appear here."""
    digits = []
    for i in range(1, z + 1):
        s = 1 << (z - i)
        digits.append(f"CAST((x // {s}) % 2 + ((y // {s}) % 2) * 2 AS VARCHAR)")
    return " || ".join(digits)


def _ora_pagerank(iters: int = 6, scale: int = 10**12, num: int = 85, den: int = 100) -> str:
    """Independent DuckDB PageRank: the fixed iteration count unrolls
    into a CTE chain (aggregates over a recursive reference are not
    legal SQL, so recursion is spelled out). Integer floor division
    (``//``) replicates Spark's ``div`` exactly on the non-negative
    ranks, making every iterate bit-identical."""
    base = (scale * (den - num)) // den
    ctes = [
        "e AS (SELECT DISTINCT event_id % 180 AS src,"
        " (event_id * 31 + 7) % 180 AS dst FROM events"
        " WHERE event_id < 900 AND event_id % 180 <> (event_id * 31 + 7) % 180)",
        "nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e)",
        "od AS (SELECT src, count(*) AS outdeg FROM e GROUP BY src)",
        f"r0 AS (SELECT node, CAST({scale} AS BIGINT) AS rank FROM nodes)",
    ]
    for i in range(1, iters + 1):
        ctes.append(
            f"c{i} AS (SELECT e.dst AS node, SUM(r.rank // o.outdeg) AS s"
            f" FROM e JOIN r{i - 1} r ON e.src = r.node"
            f" JOIN od o ON o.src = e.src GROUP BY e.dst)"
        )
        ctes.append(
            f"r{i} AS (SELECT n.node,"
            f" CAST({base} + ({num} * COALESCE(c.s, 0)) // {den} AS BIGINT) AS rank"
            f" FROM nodes n LEFT JOIN c{i} c ON c.node = n.node)"
        )
    return (
        "WITH " + ",\n".join(ctes)
        + f"\nSELECT CAST(node AS BIGINT) AS node, rank FROM r{iters}"
    )


def _ora_cdc_chunks() -> str:
    """Hybrid: boundaries from the pure-Python ring-recurrence replay
    (tests/oracle_cdc.py — a different formulation of the window hash
    than the engine's convolution kernel); DuckDB recomputes every
    chunk's md5 from the raw documents table, so slicing and hashing
    are verified engine-side."""
    import pyarrow.parquet as pq

    from tests import oracle_cdc

    t = pq.read_table(
        os.path.join(ORACLE_SF_DIR, "documents.parquet"), columns=["doc_id", "text"]
    )
    rows = []
    for did, text in zip(t.column("doc_id").to_pylist(), t.column("text").to_pylist()):
        if int(did) >= 120:
            continue
        for idx, start, length in oracle_cdc.chunks(text or ""):
            rows.append((int(did), idx, start, length))
    vals = _values_sql(
        [("doc_id", "BIGINT"), ("chunk_idx", "INTEGER"),
         ("c_start", "INTEGER"), ("c_len", "INTEGER")],
        rows,
    )
    return f"""
        WITH v AS ({vals})
        SELECT v.doc_id, v.chunk_idx, v.c_start, v.c_len,
               md5(substr(d.text, v.c_start + 1, v.c_len)) AS chunk_md5
        FROM v JOIN documents d ON d.doc_id = v.doc_id
    """


def _ora_hilbert(bits: int = 8) -> str:
    """Unrolled replay of functions/hilbert.py's xy2d walk: one CTE per
    level running the identical integer shift/mask/xor/add chain
    (distinct column names per level — no lateral-alias ambiguity)."""
    mask = (1 << bits) - 1
    parts = [
        f"WITH pts AS ({SQL_POINTS}), h{bits} AS (SELECT doc_id, "
        f"{_zq_sql('lon', -180.0, 180.0, bits)} AS x{bits}, "
        f"{_zq_sql('lat', -90.0, 90.0, bits)} AS y{bits}, "
        f"CAST(0 AS BIGINT) AS d{bits} FROM pts)"
    ]
    for k in range(bits - 1, -1, -1):
        p = k + 1
        rx = f"((x{p} >> {k}) & 1)"
        ry = f"((y{p} >> {k}) & 1)"
        parts.append(
            f", h{k} AS (SELECT doc_id, "
            f"d{p} + {1 << (2 * k)} * CAST(xor(3 * {rx}, {ry}) AS BIGINT) AS d{k}, "
            f"CASE WHEN {ry} = 1 THEN x{p} WHEN {rx} = 1 "
            f"THEN xor(y{p}, {mask}) ELSE y{p} END AS x{k}, "
            f"CASE WHEN {ry} = 1 THEN y{p} WHEN {rx} = 1 "
            f"THEN xor(x{p}, {mask}) ELSE x{p} END AS y{k} "
            f"FROM h{p})"
        )
    parts.append(f" SELECT doc_id, d0 AS hkey FROM h0")
    return "".join(parts)


def _ora_frechet() -> str:
    """Pure-Python replay of q_frechet: brute-force ALL track pairs +
    the SCALAR Frechet DP (distance.frechet_py) — independent of the
    engine's cell-cover candidate stage and anti-diagonal numpy kernel.
    Track generation mirrors the query's dyadic-literal arithmetic
    (every value is exactly representable, so replay is bit-trivial);
    snapping replays _snap_arr's floor(v * 1e6 + 0.5)."""
    import math

    import pyarrow.parquet as pq

    from osm_pbf_spark.operators.distance import frechet_py

    t = pq.read_table(
        os.path.join(ORACLE_SF_DIR, "events.parquet"), columns=["event_id"]
    )
    tracks = {}
    for eid in t.column("event_id").to_pylist():
        k = int(eid)
        if k >= 240:
            continue
        base = k - (k % 4)
        j = float(k % 4)
        npts = 6 + k % 3
        lat0 = (base % 80) - 40 + 0.25 + j * 0.0625
        lon0 = ((base * 7) % 340) - 170 + 0.5 + j * 0.0625
        pts = []
        for i in range(npts):
            lat = lat0 + float(i) * 0.125
            lon = lon0 + float(i % 3) * 0.25
            pts.append(
                (math.floor(lon * 1_000_000.0 + 0.5),
                 math.floor(lat * 1_000_000.0 + 0.5))
            )
        tracks[k] = pts
    r2 = 500_000 ** 2
    ids = sorted(tracks)
    rows = []
    for ai, a in enumerate(ids):
        for b in ids[ai + 1:]:
            f2 = frechet_py(tracks[a], tracks[b])
            if f2 <= r2:
                rows.append((a, b, f2))
    return _values_sql(
        [("id_a", "BIGINT"), ("id_b", "BIGINT"), ("f2", "BIGINT")], rows
    )


def _ora_snapshot_drift() -> str:
    """Independent scalar replay of q_snapshot_drift: recompute the
    two append windows from the pure-Python spec pipeline (the
    _ora_sink_incremental cell derivation), then the exact-integer KS
    spec with plain loops — one float division at the end."""
    from tests import oracle_render

    d = _fixture_decoded("sink")
    docs = oracle_render.render_file(d)
    coords = {f"node/{n['id']}": (n["lat"], n["lon"]) for n in d["nodes"]}

    def cell_of(doc):
        ll = coords.get(doc["doc_id"])
        return _cell_scalar(ll[0], ll[1], 12) if ll else -1

    cells = [cell_of(doc) for doc in docs]
    va = sorted(c % 64 for c in cells if c % 4 in (1, 3))
    vb = sorted((c + 7) % 64 for c in cells if c % 4 in (0, 2))
    na, nb = len(va), len(vb)
    best = 0
    for v in sorted(set(va) | set(vb)):
        ca = sum(1 for x in va if x <= v)
        cb = sum(1 for x in vb if x <= v)
        best = max(best, abs(ca * nb - cb * na))
    ks = float(best) / float(na * nb)
    return _values_sql(
        [("n_a", "BIGINT"), ("n_b", "BIGINT"), ("ks_d", "DOUBLE")],
        [(na, nb, ks)],
    )


def _ora_sink_changes() -> str:
    """Independent scalar replay of q_sink_changes: re-derive BOTH
    snapshots' doc sets from the pure-Python spec pipeline (the
    doc-id sets), diff them in plain Python (added = the junk/
    appends of odd-final-digit ids, removed = the deleted final-digit
    {2,6} set, changed = none — n_spans is untouched), then
    per-status counts."""
    from tests import oracle_render

    d = _fixture_decoded("sink")
    docs = oracle_render.render_file(d)
    keys = [doc["doc_id"] for doc in docs]
    added = sorted("junk/" + k for k in keys if k[-1] in "135")
    removed = sorted(k for k in keys if k[-1] in "26")
    rows = []
    if added:
        rows.append(("added", len(added), added[0], added[-1]))
    if removed:
        rows.append(("removed", len(removed), removed[0], removed[-1]))
    return _values_sql(
        [("diff_status", "VARCHAR"), ("n", "BIGINT"),
         ("first_doc", "VARCHAR"), ("last_doc", "VARCHAR")],
        rows,
    )


def _ora_pbf_roundtrip() -> str:
    """Per-kind content aggregates of the ORIGINAL mixed fixture from
    the pure-Python spec decoder — the write+read path must be the
    identity, so the re-decoded aggregates equal these VALUES."""
    import math

    d = _fixture_decoded("mixed")
    ns, ws, rs = d["nodes"], d["ways"], d["relations"]
    rows = [
        (
            "node", len(ns), sum(n["id"] for n in ns),
            sum(int(math.floor(n["lat"] * 1e7 + 0.5)) for n in ns),
            sum(len(n["tags"]) for n in ns), 0, 0,
        ),
        (
            "way", len(ws), sum(w["id"] for w in ws), 0,
            sum(len(w["tags"]) for w in ws),
            sum(sum(w["refs"]) for w in ws), 0,
        ),
        (
            "relation", len(rs), sum(r["id"] for r in rs), 0,
            sum(len(r["tags"]) for r in rs), 0,
            sum(len(r["members"]) for r in rs),
        ),
    ]
    return _values_sql(
        [
            ("kind", "VARCHAR"), ("n", "BIGINT"), ("id_sum", "BIGINT"),
            ("lat_e7_sum", "BIGINT"), ("n_tags", "BIGINT"),
            ("ref_sum", "BIGINT"), ("n_members", "BIGINT"),
        ],
        rows,
    )


def _ora_lttb(k: int = 24) -> str:
    """Independent scalar LTTB replay of q_lttb: plain Python loops
    (no numpy, no bucket vectorization) over the same exact-integer
    triangle-area spec — argmax by strict >, so ties keep the earliest
    point, matching the engine's np.argmax convention."""
    import pyarrow.parquet as pq

    t = pq.read_table(
        os.path.join(ORACLE_SF_DIR, "events.parquet"), columns=["event_id"]
    )
    series: dict[int, list[tuple[int, int]]] = {}
    for eid in t.column("event_id").to_pylist():
        e = int(eid)
        if e >= 900:
            continue
        series.setdefault(e % 6, []).append((e, (e * 7919) % 1000))
    rows = []
    for sid in sorted(series):
        pts = sorted(series[sid])
        n = len(pts)
        if n <= k:
            rows += [(sid, x, y) for x, y in pts]
            continue
        edges = [1 + (b * (n - 2)) // (k - 2) for b in range(k - 1)]
        keep = [0]
        prev = 0
        for b in range(k - 2):
            lo, hi = edges[b], edges[b + 1]
            if b + 1 < k - 2:
                nlo, nhi = edges[b + 1], edges[b + 2]
            else:
                nlo, nhi = n - 1, n
            m = nhi - nlo
            sx = sum(x for x, _ in pts[nlo:nhi])
            sy = sum(y for _, y in pts[nlo:nhi])
            xp, yp = pts[prev]
            best, best_a = None, -1
            for i in range(lo, hi):
                xc, yc = pts[i]
                a = abs((xp * m - sx) * (yc - yp) - (xp - xc) * (sy - yp * m))
                if a > best_a:
                    best, best_a = i, a
            prev = best
            keep.append(prev)
        keep.append(n - 1)
        rows += [(sid, pts[i][0], pts[i][1]) for i in keep]
    return _values_sql(
        [("series_id", "BIGINT"), ("x", "BIGINT"), ("y", "BIGINT")], rows
    )


def _ora_hilbert_range(
    qx0: int, qx1: int, qy0: int, qy1: int, bits: int = 8
) -> str:
    """_ora_hilbert's unrolled walk with the quantized coords threaded
    through every CTE so the final filter never touches the curve —
    matching output proves the Hilbert range decomposition."""
    mask = (1 << bits) - 1
    parts = [
        f"WITH pts AS ({SQL_POINTS}), h{bits} AS (SELECT doc_id, "
        f"{_zq_sql('lon', -180.0, 180.0, bits)} AS x{bits}, "
        f"{_zq_sql('lat', -90.0, 90.0, bits)} AS y{bits}, "
        f"{_zq_sql('lon', -180.0, 180.0, bits)} AS qx_, "
        f"{_zq_sql('lat', -90.0, 90.0, bits)} AS qy_, "
        f"CAST(0 AS BIGINT) AS d{bits} FROM pts)"
    ]
    for k in range(bits - 1, -1, -1):
        p = k + 1
        rx = f"((x{p} >> {k}) & 1)"
        ry = f"((y{p} >> {k}) & 1)"
        parts.append(
            f", h{k} AS (SELECT doc_id, qx_, qy_, "
            f"d{p} + {1 << (2 * k)} * CAST(xor(3 * {rx}, {ry}) AS BIGINT) AS d{k}, "
            f"CASE WHEN {ry} = 1 THEN x{p} WHEN {rx} = 1 "
            f"THEN xor(y{p}, {mask}) ELSE y{p} END AS x{k}, "
            f"CASE WHEN {ry} = 1 THEN y{p} WHEN {rx} = 1 "
            f"THEN xor(x{p}, {mask}) ELSE x{p} END AS y{k} "
            f"FROM h{p})"
        )
    parts.append(
        f" SELECT doc_id, d0 AS hkey FROM h0 "
        f"WHERE qx_ BETWEEN {qx0} AND {qx1} AND qy_ BETWEEN {qy0} AND {qy1}"
    )
    return "".join(parts)


def _ora_labelprop(rounds: int = 3) -> str:
    """Unrolled synchronous-LPA replay (the pagerank/kcore CTE-chain
    convention): per round a neighbor-label count + a window-rank
    argmax — an independent formulation of the engine's
    max(struct(cnt, -label)) pick."""
    parts = [
        f"WITH {_MD5_GRAPH_SQL}, "
        "eu AS (SELECT src AS a, dst AS b FROM ed WHERE src <> dst "
        "UNION SELECT dst, src FROM ed WHERE src <> dst), "
        "nd AS (SELECT DISTINCT a AS node FROM eu), "
        "l0 AS (SELECT node, node AS label FROM nd)"
    ]
    for r in range(1, rounds + 1):
        parts.append(
            f", c{r} AS (SELECT e.a AS node, l.label, count(*) AS c "
            f"FROM eu e JOIN l{r - 1} l ON l.node = e.b GROUP BY 1, 2), "
            f"p{r} AS (SELECT node, label FROM ("
            f"SELECT node, label, row_number() OVER (PARTITION BY node "
            f"ORDER BY c DESC, label ASC) AS rn FROM c{r}) WHERE rn = 1), "
            f"l{r} AS (SELECT n.node, coalesce(p.label, n.node) AS label "
            f"FROM nd n LEFT JOIN p{r} p ON p.node = n.node)"
        )
    parts.append(f" SELECT node, label FROM l{rounds}")
    return "".join(parts)


def _ora_hex_cte(size: float = 0.25) -> str:
    """CTE chain replaying functions/hexgrid.hex_cell_df's exact IEEE
    op sequence over SQL_POINTS (constants injected via repr through a
    VARCHAR cast = strtod, correctly rounded — the same doubles Spark
    gets from F.lit; floor(v+0.5) is the engine-portable HALF-UP).
    Yields a CTE named ``hex`` with (doc_id, hq, hr)."""
    from osm_pbf_spark.functions.hexgrid import C_2THIRD, C_SQRT3_3, C_THIRD

    c1 = f"CAST('{C_SQRT3_3!r}' AS DOUBLE)"
    c2 = f"CAST('{C_THIRD!r}' AS DOUBLE)"
    c3 = f"CAST('{C_2THIRD!r}' AS DOUBLE)"
    sz = f"CAST('{size!r}' AS DOUBLE)"
    return f"""
        pts AS ({SQL_POINTS}),
        hx0 AS (SELECT doc_id,
                       (lon * {c1} - lat * {c2}) / {sz} AS xf,
                       (lat * {c3}) / {sz} AS zf
                FROM pts),
        hx1 AS (SELECT doc_id, xf, zf, (0.0 - xf) - zf AS yf FROM hx0),
        hx2 AS (SELECT doc_id, xf, yf, zf,
                       CAST(floor(xf + 0.5) AS DOUBLE) AS fx,
                       CAST(floor(yf + 0.5) AS DOUBLE) AS fy,
                       CAST(floor(zf + 0.5) AS DOUBLE) AS fz
                FROM hx1),
        hx3 AS (SELECT doc_id, fx, fy, fz,
                       abs(fx - xf) AS dx, abs(fy - yf) AS dy,
                       abs(fz - zf) AS dz
                FROM hx2),
        hex AS (SELECT doc_id,
                       CAST(CASE WHEN dx > dy AND dx > dz
                                 THEN (0.0 - fy) - fz ELSE fx END
                            AS BIGINT) AS hq,
                       CAST(CASE WHEN dx > dy AND dx > dz THEN fz
                                 WHEN dy > dz THEN fz
                                 ELSE (0.0 - fx) - fy END
                            AS BIGINT) AS hr
                FROM hx3)"""


def _ora_rank_metrics() -> str:
    """nDCG@10/MRR/P@10 replay with the operator's own integer
    discount literals (ndcg_discounts(10) — the spec IS the table)."""
    from osm_pbf_spark.operators.evals import ndcg_discounts

    discs = ", ".join(str(d) for d in ndcg_discounts(10))
    return f"""
        WITH s AS (
          SELECT event_type AS query, event_id AS item,
                 (event_id * 104729) % 100000 AS score,
                 CASE WHEN event_id % 7 = 0 THEN 2
                      WHEN event_id % 3 = 0 THEN 1 ELSE 0 END AS rel
          FROM events),
        r AS (SELECT *,
                     row_number() OVER (PARTITION BY query
                                        ORDER BY score DESC, item ASC)
                         AS rnk,
                     row_number() OVER (PARTITION BY query
                                        ORDER BY rel DESC, item ASC)
                         AS irnk
              FROM s),
        g AS (SELECT query, count(*) AS n,
                     CAST(sum(CASE WHEN rel > 0 THEN 1 ELSE 0 END)
                          AS BIGINT) AS n_rel,
                     CAST(sum(CASE WHEN rel > 0 AND rnk <= 10
                                   THEN 1 ELSE 0 END) AS BIGINT)
                         AS n_rel_at_k,
                     CAST(sum(CASE WHEN rnk <= 10
                                   THEN rel * list_extract([{discs}], rnk)
                                   ELSE 0 END) AS BIGINT) AS dcg_u,
                     CAST(sum(CASE WHEN irnk <= 10
                                   THEN rel * list_extract([{discs}], irnk)
                                   ELSE 0 END) AS BIGINT) AS idcg_u,
                     min(CASE WHEN rel > 0 THEN rnk END) AS first_rel_rank
              FROM r GROUP BY query)
        SELECT query, n, n_rel, n_rel_at_k, dcg_u, idcg_u,
               CASE WHEN idcg_u > 0
                    THEN CAST(dcg_u AS DOUBLE) / CAST(idcg_u AS DOUBLE)
               END AS ndcg,
               first_rel_rank,
               CAST(1.0 AS DOUBLE) / CAST(first_rel_rank AS DOUBLE) AS rr,
               CAST(n_rel_at_k AS DOUBLE) / CAST(10 AS DOUBLE) AS p_at_k,
               CASE WHEN n_rel > 0
                    THEN CAST(n_rel_at_k AS DOUBLE)
                         / CAST(n_rel AS DOUBLE)
               END AS recall_at_k
        FROM g
    """


def _ora_span_corrupt() -> str:
    """Full replay of the md5-window masking + sentinel assembly;
    DuckDB zips parallel unnests for (tok, pos)."""
    h = _hex40_bigint_sql(
        "md5('7:' || CAST(doc_id AS VARCHAR) || ':' || CAST(w AS VARCHAR))"
    )
    return f"""
        WITH d AS (SELECT doc_id,
                          list_slice(str_split(text, ' '), 1, 24) AS toks
                   FROM documents),
        t AS (SELECT doc_id, unnest(toks) AS tok,
                     unnest(range(len(toks))) AS pos
              FROM d),
        m0 AS (SELECT doc_id, pos, tok, pos // 3 AS w FROM t),
        m1 AS (SELECT doc_id, pos, tok,
                      ({h} % 1000000) < 300000 AS m,
                      pos % 3 = 0 AS isf
               FROM m0),
        k1 AS (SELECT *,
                      sum(CASE WHEN m AND isf THEN 1 ELSE 0 END)
                          OVER (PARTITION BY doc_id ORDER BY pos
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                AND CURRENT ROW) - 1 AS k
               FROM m1),
        inp AS (SELECT doc_id, pos * 2 AS key,
                       CASE WHEN NOT m THEN tok
                            ELSE '<extra_id_' || CAST(k AS VARCHAR) || '>'
                       END AS v
                FROM k1 WHERE (NOT m) OR isf),
        tgt AS (SELECT doc_id, pos * 2 - 1 AS key,
                       '<extra_id_' || CAST(k AS VARCHAR) || '>' AS v
                FROM k1 WHERE m AND isf
                UNION ALL
                SELECT doc_id, pos * 2, tok FROM k1 WHERE m),
        agg_i AS (SELECT doc_id, string_agg(v, ' ' ORDER BY key)
                         AS input_text
                  FROM inp GROUP BY doc_id),
        agg_t AS (SELECT doc_id, string_agg(v, ' ' ORDER BY key)
                         AS target_text
                  FROM tgt GROUP BY doc_id),
        cnt AS (SELECT doc_id, count(*) AS n_tokens,
                       CAST(sum(CASE WHEN m AND isf THEN 1 ELSE 0 END)
                            AS BIGINT) AS n_spans,
                       CAST(sum(CASE WHEN m THEN 1 ELSE 0 END)
                            AS BIGINT) AS n_masked
                FROM k1 GROUP BY doc_id)
        SELECT cnt.doc_id, n_tokens, n_spans, n_masked,
               coalesce(agg_i.input_text, '') AS input_text,
               coalesce(agg_t.target_text, '') AS target_text
        FROM cnt LEFT JOIN agg_i USING (doc_id)
                 LEFT JOIN agg_t USING (doc_id)
    """


def _ora_textrank(
    iters: int = 4, scale: int = 10**9, num: int = 85, den: int = 100
) -> str:
    """Unrolled integer-PageRank chain (the _ora_pagerank pattern)
    over the token-adjacency graph built in SQL."""
    base = (scale * (den - num)) // den
    ctes = [
        "d AS (SELECT doc_id, list_slice(str_split(text, ' '), 1, 16)"
        " AS toks FROM documents)",
        "t AS (SELECT doc_id, unnest(toks) AS tok,"
        " unnest(range(len(toks))) AS pos FROM d)",
        "p AS (SELECT a.tok AS a, b.tok AS b FROM t a JOIN t b"
        " ON b.doc_id = a.doc_id AND b.pos = a.pos + 1"
        " AND a.tok <> b.tok)",
        "e AS (SELECT DISTINCT src, dst FROM ("
        "SELECT a AS src, b AS dst FROM p"
        " UNION ALL SELECT b, a FROM p))",
        "nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e)",
        "od AS (SELECT src, count(*) AS outdeg FROM e GROUP BY src)",
        f"r0 AS (SELECT node, CAST({scale} AS BIGINT) AS rank FROM nodes)",
    ]
    for i in range(1, iters + 1):
        ctes.append(
            f"c{i} AS (SELECT e.dst AS node, SUM(r.rank // o.outdeg) AS s"
            f" FROM e JOIN r{i - 1} r ON e.src = r.node"
            f" JOIN od o ON o.src = e.src GROUP BY e.dst)"
        )
        ctes.append(
            f"r{i} AS (SELECT n.node,"
            f" CAST({base} + ({num} * COALESCE(c.s, 0)) // {den}"
            f" AS BIGINT) AS rank"
            f" FROM nodes n LEFT JOIN c{i} c ON c.node = n.node)"
        )
    return (
        "WITH " + ",\n".join(ctes)
        + f"\nSELECT node AS token, rank FROM r{iters}"
        + "\nORDER BY rank DESC, token ASC LIMIT 25"
    )


def _ora_ktruss(k: int = 4, rounds: int = 3) -> str:
    """Unrolled support-peeling chain (the _ora_pagerank pattern):
    per round a wedge-closing triple join recomputes edge support."""
    ctes = [
        "ids AS (SELECT event_id FROM events WHERE event_id < 600)",
        "tri0 AS (SELECT event_id % 60 AS u, (event_id * 7 + 1) % 60 AS v,"
        " (event_id * 13 + 2) % 60 AS w FROM ids)",
        "raw AS (SELECT u AS a, v AS b FROM tri0"
        " UNION ALL SELECT v, w FROM tri0"
        " UNION ALL SELECT u, w FROM tri0)",
        "e0 AS (SELECT DISTINCT a, b FROM ("
        "SELECT a, b FROM raw WHERE a <> b"
        " UNION ALL SELECT b, a FROM raw WHERE a <> b))",
    ]
    for i in range(rounds):
        ctes.append(
            f"s{i} AS (SELECT e1.a, e1.b, count(*) AS sup"
            f" FROM e{i} e1 JOIN e{i} e2 ON e2.a = e1.a AND e2.b <> e1.b"
            f" JOIN e{i} e3 ON e3.a = e1.b AND e3.b = e2.b"
            f" GROUP BY e1.a, e1.b)"
        )
        ctes.append(
            f"e{i + 1} AS (SELECT a, b FROM s{i} WHERE sup >= {k - 2})"
        )
    ctes.append(
        f"sf AS (SELECT e1.a, e1.b, count(*) AS sup"
        f" FROM e{rounds} e1 JOIN e{rounds} e2"
        f" ON e2.a = e1.a AND e2.b <> e1.b"
        f" JOIN e{rounds} e3 ON e3.a = e1.b AND e3.b = e2.b"
        f" GROUP BY e1.a, e1.b)"
    )
    return (
        "WITH " + ",\n".join(ctes)
        + "\nSELECT a, b, CAST(sup AS BIGINT) AS support FROM sf WHERE a < b"
    )


def _ora_hits(iters: int = 4, scale: int = 10**12) -> str:
    """Unrolled integer-HITS chain: h from a_{t-1}, THEN a from h_t
    (the spec's pinned update order); pure-int max normalization."""
    ctes = [
        "e AS (SELECT DISTINCT event_id % 180 AS src,"
        " (event_id * 31 + 7) % 180 AS dst FROM events"
        " WHERE event_id < 900"
        " AND event_id % 180 <> (event_id * 31 + 7) % 180)",
        "nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e)",
        f"a0 AS (SELECT node, CAST({scale} AS BIGINT) AS val FROM nodes)",
    ]
    for i in range(1, iters + 1):
        ctes.append(
            f"hraw{i} AS (SELECT e.src AS node,"
            f" CAST(sum(a.val) AS BIGINT) AS raw"
            f" FROM e JOIN a{i - 1} a ON a.node = e.dst GROUP BY e.src)"
        )
        ctes.append(
            f"hq{i} AS (SELECT greatest(CAST(max(raw) // {scale}"
            f" AS BIGINT), 1) AS q FROM hraw{i})"
        )
        ctes.append(
            f"h{i} AS (SELECT n.node,"
            f" CAST(coalesce(r.raw, 0) // hq.q AS BIGINT) AS val"
            f" FROM nodes n LEFT JOIN hraw{i} r ON r.node = n.node,"
            f" hq{i} hq)"
        )
        ctes.append(
            f"araw{i} AS (SELECT e.dst AS node,"
            f" CAST(sum(h.val) AS BIGINT) AS raw"
            f" FROM e JOIN h{i} h ON h.node = e.src GROUP BY e.dst)"
        )
        ctes.append(
            f"aq{i} AS (SELECT greatest(CAST(max(raw) // {scale}"
            f" AS BIGINT), 1) AS q FROM araw{i})"
        )
        ctes.append(
            f"a{i} AS (SELECT n.node,"
            f" CAST(coalesce(r.raw, 0) // aq.q AS BIGINT) AS val"
            f" FROM nodes n LEFT JOIN araw{i} r ON r.node = n.node,"
            f" aq{i} aq)"
        )
    return (
        "WITH " + ",\n".join(ctes)
        + f"""
        SELECT h.node, h.val AS hub, a.val AS auth
        FROM h{iters} h JOIN a{iters} a ON a.node = h.node"""
    )


def _er_ctes() -> str:
    """Shared ER replay CTE chain (through ``lab`` = rid -> group_id):
    FS scores from the SAME fs_weights micro-nat literals, then
    DuckDB's own recursive closure labels the match components."""
    from osm_pbf_spark.operators.fuzzy import fs_weights

    w = fs_weights({"f1": (0.9, 0.05), "f2": (0.9, 0.05)})
    (wa1, wd1), (wa2, wd2) = w["f1"], w["f2"]
    return f"""
        WITH RECURSIVE rec AS (SELECT c_custkey AS rid,
                                      c_custkey // 3 AS e
                               FROM customer),
        r2 AS (SELECT rid, e % 250 AS bk,
                      CASE WHEN rid % 5 = 0
                           THEN 'x' || CAST(rid AS VARCHAR)
                           ELSE 'n' || CAST((e * 7) % 997 AS VARCHAR)
                      END AS f1,
                      CASE WHEN rid % 7 = 0
                           THEN 'y' || CAST(rid AS VARCHAR)
                           ELSE 'p' || CAST((e * 13) % 499 AS VARCHAR)
                      END AS f2
               FROM rec),
        p AS (SELECT a.rid AS ia, b.rid AS ib,
                     (CASE WHEN a.f1 = b.f1 THEN {wa1} ELSE {wd1} END
                      + CASE WHEN a.f2 = b.f2 THEN {wa2} ELSE {wd2} END)
                         AS score
              FROM r2 a JOIN r2 b ON b.bk = a.bk AND a.rid < b.rid),
        me AS (SELECT ia, ib FROM p WHERE score >= 1000000),
        sym AS (SELECT ia AS u, ib AS v FROM me
                UNION ALL SELECT ib, ia FROM me),
        cl(a, b) AS (
            SELECT u, v FROM sym
            UNION
            SELECT cl.a, s.v FROM cl JOIN sym s ON s.u = cl.b),
        lab AS (SELECT r2.rid,
                       least(r2.rid, coalesce(min(cl.b), r2.rid))
                           AS group_id
                FROM r2 LEFT JOIN cl ON cl.a = r2.rid
                GROUP BY r2.rid)"""


def _ora_er() -> str:
    return (
        _er_ctes()
        + """,
        gs AS (SELECT group_id, min(rid) AS doc_id,
                      count(*) AS group_size
               FROM lab GROUP BY group_id)
        SELECT doc_id, group_id, CAST(group_size AS BIGINT) AS group_size
        FROM gs
    """
    )


def _ora_cluster_eval() -> str:
    """ER closure replay + the pairwise-metric arithmetic in SQL
    (C(x,2) via integer //, ARI via the same fixed double chain)."""
    return (
        _er_ctes()
        + """,
        lt AS (SELECT rid, group_id AS pred, rid // 3 AS truth FROM lab),
        cells AS (SELECT pred, truth, count(*) AS nij
                  FROM lt GROUP BY 1, 2),
        agg AS (SELECT CAST(sum((nij * (nij - 1)) // 2) AS BIGINT)
                           AS both_pairs,
                       CAST(sum(nij) AS BIGINT) AS n,
                       CAST(count(DISTINCT pred) AS BIGINT)
                           AS n_pred_clusters,
                       CAST(count(DISTINCT truth) AS BIGINT)
                           AS n_true_classes
                FROM cells),
        pp AS (SELECT CAST(sum((ng * (ng - 1)) // 2) AS BIGINT)
                          AS pred_pairs
               FROM (SELECT CAST(sum(nij) AS BIGINT) AS ng
                     FROM cells GROUP BY pred)),
        tp AS (SELECT CAST(sum((ne * (ne - 1)) // 2) AS BIGINT)
                          AS true_pairs
               FROM (SELECT CAST(sum(nij) AS BIGINT) AS ne
                     FROM cells GROUP BY truth)),
        j AS (SELECT agg.*, pp.pred_pairs, tp.true_pairs FROM agg, pp, tp)
        SELECT n, n_pred_clusters, n_true_classes,
               both_pairs, pred_pairs, true_pairs,
               CASE WHEN pred_pairs > 0
                    THEN CAST(both_pairs AS DOUBLE)
                         / CAST(pred_pairs AS DOUBLE) END AS precision,
               CASE WHEN true_pairs > 0
                    THEN CAST(both_pairs AS DOUBLE)
                         / CAST(true_pairs AS DOUBLE) END AS recall,
               CASE WHEN pred_pairs + true_pairs > 0
                    THEN (2.0 * CAST(both_pairs AS DOUBLE))
                         / (CAST(pred_pairs AS DOUBLE)
                            + CAST(true_pairs AS DOUBLE)) END AS f1,
               CASE WHEN (CAST(pred_pairs AS DOUBLE)
                          + CAST(true_pairs AS DOUBLE)) / 2.0
                         - CAST(pred_pairs AS DOUBLE)
                           * CAST(true_pairs AS DOUBLE)
                           / CAST((n * (n - 1)) // 2 AS DOUBLE) <> 0
                    THEN (CAST(both_pairs AS DOUBLE)
                          - CAST(pred_pairs AS DOUBLE)
                            * CAST(true_pairs AS DOUBLE)
                            / CAST((n * (n - 1)) // 2 AS DOUBLE))
                         / ((CAST(pred_pairs AS DOUBLE)
                             + CAST(true_pairs AS DOUBLE)) / 2.0
                            - CAST(pred_pairs AS DOUBLE)
                              * CAST(true_pairs AS DOUBLE)
                              / CAST((n * (n - 1)) // 2 AS DOUBLE))
               END AS ari
        FROM j
    """
    )


def _ora_osm_diff() -> str:
    """Spec-decoded node VALUES + SQL replay of the derived osmChange
    set and the (version DESC, delete>modify>create) resolution."""
    d = _fixture_decoded("multiblob")
    rows = [(n["id"], n["lat"], n["lon"]) for n in d["nodes"]]
    vals = _values_sql(
        [("id", "BIGINT"), ("lat", "DOUBLE"), ("lon", "DOUBLE")], rows
    )
    return f"""
        WITH nodes AS ({vals}),
        ch AS (
          SELECT id, lat + 1.0 AS lat, lon, 2 AS version, 1 AS ar
          FROM nodes WHERE id % 5 = 0
          UNION ALL
          SELECT id, lat, lon, 2, 2 FROM nodes WHERE id % 5 = 1
          UNION ALL
          SELECT id + 10000000, lat, lon + 0.5, 2, 0
          FROM nodes WHERE id % 5 = 2
          UNION ALL
          SELECT id, lat, lon, 3, 2 FROM nodes WHERE id % 10 = 0),
        r AS (SELECT *, row_number() OVER (PARTITION BY id
                         ORDER BY version DESC, ar DESC) AS rn
              FROM ch),
        latest AS (SELECT * FROM r WHERE rn = 1),
        surv AS (SELECT n.id, n.lat, n.lon FROM nodes n
                 LEFT JOIN latest l ON l.id = n.id WHERE l.id IS NULL),
        ups AS (SELECT id, lat, lon FROM latest WHERE ar <> 2)
        SELECT id, lat, lon FROM surv
        UNION ALL SELECT id, lat, lon FROM ups
    """


def _ora_multi_split() -> str:
    """Per-feature q_stump chain replay, unioned + ranked."""
    feats = {
        "x1": "event_id % 50",
        "x2": "CAST(floor(value) AS BIGINT)",
        "x3": "(event_id * 31) % 17",
    }
    ydef = (
        "CASE WHEN floor(value) > 200 THEN "
        "CASE WHEN event_id % 10 < 8 THEN 1 ELSE 0 END "
        "ELSE CASE WHEN event_id % 10 < 2 THEN 1 ELSE 0 END END"
    )
    parts = []
    for fname, expr in feats.items():
        parts.append(f"""
        (WITH s AS (SELECT {expr} AS x, {ydef} AS y FROM events),
        pv AS (SELECT x AS v, CAST(sum(y) AS BIGINT) AS pos,
                      count(*) AS n
               FROM s GROUP BY 1),
        cum AS (SELECT v, CAST(sum(n) OVER wv AS BIGINT) AS nl,
                       CAST(sum(pos) OVER wv AS BIGINT) AS pl
                FROM pv WINDOW wv AS (ORDER BY v ROWS BETWEEN
                     UNBOUNDED PRECEDING AND CURRENT ROW)),
        tot AS (SELECT count(*) AS tn, CAST(sum(y) AS BIGINT) AS tp
                FROM s),
        cand AS (SELECT v, nl, pl, tn, tp, tn - nl AS nr, tp - pl AS pr
                 FROM cum, tot WHERE nl < tn),
        sc AS (SELECT v, nl, nr, pl, pr, tn,
                      CAST(pl * pl + (nl - pl) * (nl - pl) AS DOUBLE)
                          / CAST(nl AS DOUBLE)
                      + CAST(pr * pr + (nr - pr) * (nr - pr) AS DOUBLE)
                          / CAST(nr AS DOUBLE) AS score
               FROM cand)
        SELECT '{fname}' AS feature, v AS threshold, score,
               (CAST(tn AS DOUBLE) - score) / CAST(tn AS DOUBLE) AS wgini,
               nl AS n_left, nr AS n_right,
               pl AS pos_left, pr AS pos_right,
               CAST(CASE WHEN 2 * pl >= nl THEN 1 ELSE 0 END
                    AS INTEGER) AS pred_left,
               CAST(CASE WHEN 2 * pr >= nr THEN 1 ELSE 0 END
                    AS INTEGER) AS pred_right
        FROM sc ORDER BY score DESC, v ASC LIMIT 1)""")
    union = "\nUNION ALL\n".join(parts)
    return f"""
        WITH allf AS ({union}),
        ranked AS (SELECT *, row_number() OVER (ORDER BY score DESC,
                          feature ASC) AS rank
                   FROM allf)
        SELECT feature, threshold, score, wgini, n_left, n_right,
               pos_left, pos_right, pred_left, pred_right, rank,
               CAST(CASE WHEN rank = 1 THEN 1 ELSE 0 END AS INTEGER)
                   AS is_best
        FROM ranked
    """


def _ora_visvalingam() -> str:
    """Naive-scan Visvalingam replay over the same derived lines ->
    VALUES (the engine kernel is a lazy heap — different algorithm,
    same (area2, index) removal spec)."""
    import pyarrow.parquet as pq

    from osm_pbf_spark.operators.simplify import visvalingam_py

    t = pq.read_table(
        os.path.join(ORACLE_SF_DIR, "events.parquet"), columns=["event_id"]
    )
    ids = sorted(
        int(v) for v in t.column("event_id").to_pylist() if int(v) < 4000
    )
    lines: dict[int, list[int]] = {}
    for e in ids:
        lines.setdefault(e % 40, []).append(e)
    rows = []
    for lid in sorted(lines):
        eids = sorted(lines[lid])
        lat = [
            (e % 40) * 2.0 - 40.0 + ((e * 7919) % 100) * 0.002
            + (5.0 if e % 17 == 0 else 0.0)
            for e in eids
        ]
        lon = [-170.0 + (e - e % 40) / 40.0 * 1.3 for e in eids]
        import math

        ix = [int(math.floor(v * 1000.0 + 0.5)) for v in lat]
        iy = [int(math.floor(v * 1000.0 + 0.5)) for v in lon]
        keep = visvalingam_py(ix, iy, 4000)
        qla = "[" + ", ".join(str(ix[i]) for i in keep) + "]"
        qlo = "[" + ", ".join(str(iy[i]) for i in keep) + "]"
        rows.append(f"({lid}, {qla}, {qlo}, {len(ix)}, {len(keep)})")
    vals = ", ".join(rows)
    return f"""
        SELECT CAST(c0 AS BIGINT) AS line_id,
               CAST(c1 AS BIGINT[]) AS qlats,
               CAST(c2 AS BIGINT[]) AS qlons,
               CAST(c3 AS INTEGER) AS n_in,
               CAST(c4 AS INTEGER) AS n_out
        FROM (VALUES {vals}) AS t(c0, c1, c2, c3, c4)
    """


def _ora_taginfo() -> str:
    """Spec-decoded tag rows -> VALUES; the key statistics aggregate
    runs in SQL."""
    d = _fixture_decoded("mixed")
    rows = []
    for kind, ents in [
        ("node", d["nodes"]),
        ("way", d.get("ways", [])),
        ("relation", d.get("relations", [])),
    ]:
        for ent in ents:
            for k, v in ent["tags"].items():
                rows.append((kind, k, str(v)))
    vals = _values_sql(
        [("kind", "VARCHAR"), ("key", "VARCHAR"), ("val", "VARCHAR")], rows
    )
    return f"""
        WITH t AS ({vals})
        SELECT key,
               CAST(sum(CASE WHEN kind = 'node' THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_nodes,
               CAST(sum(CASE WHEN kind = 'way' THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_ways,
               CAST(sum(CASE WHEN kind = 'relation' THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_rels,
               count(*) AS n_total,
               CAST(count(DISTINCT val) AS BIGINT) AS n_values,
               min(val) AS first_value
        FROM t GROUP BY key
    """


def _ora_bootstrap() -> str:
    """Same md5-indexed draws; row ids double as the draw index
    enumeration (no data-dependent range() needed)."""
    h = _hex40_bigint_sql(
        "md5(CAST(bb AS VARCHAR) || ':' || CAST(i AS VARCHAR))"
    )
    return f"""
        WITH s AS (SELECT CAST(floor(value) AS BIGINT) AS v
                   FROM events WHERE event_id < 2000),
        r AS (SELECT v, row_number() OVER (ORDER BY v) AS rid FROM s),
        tot AS (SELECT count(*) AS n, CAST(sum(v) AS BIGINT) AS sv
                FROM s),
        b AS (SELECT range AS bb FROM range(200)),
        dr AS (SELECT b.bb AS bb, r2.rid - 1 AS i, tot.n, tot.sv
               FROM b, r r2, tot),
        idx AS (SELECT bb, n, sv, ({h} % n) + 1 AS rid FROM dr),
        m AS (SELECT bb, n, sv, CAST(sum(r.v) AS BIGINT) AS s
              FROM idx JOIN r ON r.rid = idx.rid GROUP BY 1, 2, 3),
        pv AS (SELECT n, sv, s AS sum_, count(*) AS c
               FROM m GROUP BY 1, 2, 3),
        cum AS (SELECT n, sv, sum_,
                       CAST(sum(c) OVER (ORDER BY sum_
                            ROWS BETWEEN UNBOUNDED PRECEDING
                            AND CURRENT ROW) AS BIGINT) AS cm
                FROM pv),
        lo AS (SELECT n, sv, min(sum_) AS lo_sum FROM cum
               WHERE cm >= 5 GROUP BY 1, 2),
        hi AS (SELECT n, sv, min(sum_) AS hi_sum FROM cum
               WHERE cm >= 195 GROUP BY 1, 2)
        SELECT lo.n, 200 AS n_replicas,
               CAST(lo.sv AS DOUBLE) / CAST(lo.n AS DOUBLE) AS mean_obs,
               lo.lo_sum, hi.hi_sum,
               CAST(lo.lo_sum AS DOUBLE) / CAST(lo.n AS DOUBLE) AS lo_mean,
               CAST(hi.hi_sum AS DOUBLE) / CAST(lo.n AS DOUBLE) AS hi_mean
        FROM lo JOIN hi ON hi.n = lo.n AND hi.sv = lo.sv
    """


def _ora_sprt() -> str:
    """SPRT replay with the operator's own micro-nat LLR literals."""
    from osm_pbf_spark.operators.stats import sprt_llr_micro

    wa, wd = sprt_llr_micro(1, 2, 11, 20)
    return f"""
        WITH s AS (SELECT event_type AS exp, event_id AS seq,
                          CASE WHEN (event_id * 7919) % 100
                                    < 45 + (length(event_type) % 20)
                               THEN 1 ELSE 0 END AS y
                   FROM events),
        cum AS (SELECT exp, seq,
                       CAST(sum(CASE WHEN y = 1 THEN {wa}
                                     ELSE {wd} END)
                            OVER (PARTITION BY exp ORDER BY seq
                                  ROWS BETWEEN UNBOUNDED PRECEDING
                                  AND CURRENT ROW) AS BIGINT) AS llr,
                       row_number() OVER (PARTITION BY exp
                                          ORDER BY seq) AS n
                FROM s),
        m AS (SELECT exp, seq, llr, n,
                     CASE WHEN llr >= 2944439 THEN 1
                          WHEN llr <= -2944439 THEN 2 END AS c
              FROM cum),
        firstx AS (SELECT exp, min(seq) AS fseq FROM m
                   WHERE c IS NOT NULL GROUP BY exp),
        fx AS (SELECT m.exp, m.n, m.llr, m.c
               FROM m JOIN firstx ON firstx.exp = m.exp
                                 AND m.seq = firstx.fseq),
        lastx AS (SELECT exp, max(seq) AS lseq FROM m GROUP BY exp),
        lx AS (SELECT m.exp, m.n, m.llr
               FROM m JOIN lastx ON lastx.exp = m.exp
                                AND m.seq = lastx.lseq)
        SELECT lx.exp,
               CASE WHEN fx.c IS NULL THEN 'continue'
                    WHEN fx.c = 1 THEN 'accept_h1'
                    ELSE 'accept_h0' END AS decision,
               CAST(coalesce(fx.n, lx.n) AS BIGINT) AS n_obs,
               CAST(coalesce(fx.llr, lx.llr) AS BIGINT) AS llr_micro
        FROM lx LEFT JOIN fx ON fx.exp = lx.exp
    """


def _ora_clip_polygons() -> str:
    """Scalar Sutherland-Hodgman replay (tests/oracle_geo.py) over the
    same bbox tile candidates -> VALUES; list literals inline."""
    import math

    from tests.oracle_geo import clip_ring_to_tile

    zoom = 6
    n = float(1 << zoom)
    nmax = (1 << zoom) - 1
    rows = []
    for p in PIP_POLYGONS:
        for ri, ring in enumerate(p.rings):
            lat = [float(v) for v in ring[:, 0]]
            lon = [float(v) for v in ring[:, 1]]
            sx = [(v + 180.0) / 360.0 * n for v in lon]
            sy = [(90.0 - v) / 180.0 * n for v in lat]
            x0 = max(int(math.floor(min(sx))), 0)
            x1 = min(int(math.floor(max(sx))), nmax)
            y0 = max(int(math.floor(min(sy))), 0)
            y1 = min(int(math.floor(max(sy))), nmax)
            for tx in range(x0, x1 + 1):
                for ty in range(y0, y1 + 1):
                    q = clip_ring_to_tile(
                        list(zip(lat, lon)), zoom, tx, ty
                    )
                    if q is None:
                        continue
                    qx = "[" + ", ".join(str(a) for a, _ in q) + "]"
                    qy = "[" + ", ".join(str(b) for _, b in q) + "]"
                    rows.append(
                        f"('{p.poly_id}', {ri}, {zoom}, {tx}, {ty}, "
                        f"{len(q)}, {qx}, {qy})"
                    )
    vals = ", ".join(rows)
    return f"""
        SELECT CAST(c0 AS VARCHAR) AS poly_id,
               CAST(c1 AS INTEGER) AS ring_idx,
               CAST(c2 AS INTEGER) AS tile_z,
               CAST(c3 AS BIGINT) AS tile_x,
               CAST(c4 AS BIGINT) AS tile_y,
               CAST(c5 AS INTEGER) AS n_pts,
               CAST(c6 AS BIGINT[]) AS qx,
               CAST(c7 AS BIGINT[]) AS qy
        FROM (VALUES {vals}) AS t(c0, c1, c2, c3, c4, c5, c6, c7)
    """


def _ora_ransac() -> str:
    """Full replay of the md5-candidate RANSAC spec; the k-th row of
    the (x, y) sort has a deterministic VALUE even when duplicate
    points make row identity ambiguous."""
    ha = _hex40_bigint_sql("md5('r:' || CAST(cand_id AS VARCHAR) || ':a')")
    hb = _hex40_bigint_sql("md5('r:' || CAST(cand_id AS VARCHAR) || ':b')")
    return f"""
        WITH s AS (SELECT event_id % 1000 AS x,
                          CASE WHEN event_id % 5 = 0
                               THEN (event_id * 104729) % 4000
                               ELSE 3 * (event_id % 1000) + 17
                                    + event_id % 7 - 3 END AS y
                   FROM events),
        r AS (SELECT x, y, row_number() OVER (ORDER BY x, y) AS rid
              FROM s),
        nn AS (SELECT count(*) AS n FROM s),
        c AS (SELECT range AS cand_id FROM range(32)),
        cd AS (SELECT cand_id,
                      ({ha} % nn.n) + 1 AS i1,
                      ({hb} % nn.n) + 1 AS i2
               FROM c, nn),
        cd2 AS (SELECT * FROM cd WHERE i1 <> i2),
        ln AS (SELECT cand_id, a.x AS x1, a.y AS y1,
                      b.x AS x2, b.y AS y2,
                      b.x - a.x AS dx, b.y - a.y AS dy
               FROM cd2 JOIN r a ON a.rid = cd2.i1
                        JOIN r b ON b.rid = cd2.i2
               WHERE b.x <> a.x),
        inl AS (SELECT ln.cand_id, ln.x1, ln.y1, ln.x2, ln.y2,
                       ln.dx, ln.dy, count(*) AS ni
                FROM s, ln
                WHERE abs(ln.dy * (s.x - ln.x1)
                          - ln.dx * (s.y - ln.y1)) <= 5 * abs(ln.dx)
                GROUP BY 1, 2, 3, 4, 5, 6, 7),
        best AS (SELECT * FROM inl ORDER BY ni DESC, cand_id ASC LIMIT 1)
        SELECT cand_id, CAST(ni AS BIGINT) AS n_inliers, x1, y1, x2, y2,
               CAST(dy AS DOUBLE) / CAST(dx AS DOUBLE) AS slope,
               CAST(y1 * dx - dy * x1 AS DOUBLE) / CAST(dx AS DOUBLE)
                   AS intercept
        FROM best
    """


def _ora_hull_diameter() -> str:
    """Jarvis-march hull replay (the q_convex_hull oracle's rows) with
    the pairwise diameter computed IN SQL over the VALUES."""
    import math

    import pyarrow.parquet as pq

    from osm_pbf_spark.operators.hull import hull_py

    t = pq.read_table(
        os.path.join(ORACLE_SF_DIR, "customer.parquet"), columns=["c_custkey"]
    )
    keys = sorted(int(k) for k in t.column("c_custkey").to_pylist() if int(k) <= 2000)
    groups: dict[int, set] = {}
    for k in keys:
        lat = -60.0 + ((k * 7919) % 120000) / 1000.0
        lon = -150.0 + ((k * 104729) % 300000) / 1000.0
        groups.setdefault(k % 8, set()).add(
            (math.floor(lon * 1000.0 + 0.5), math.floor(lat * 1000.0 + 0.5))
        )
    rows = []
    for g in sorted(groups):
        for pos, (ix, iy) in enumerate(hull_py(sorted(groups[g]))):
            rows.append((g, pos, ix, iy))
    hull_vals = _values_sql(
        [("group_id", "BIGINT"), ("hull_pos", "INTEGER"),
         ("ix", "BIGINT"), ("iy", "BIGINT")],
        rows,
    )
    return f"""
        WITH hull AS ({hull_vals}),
        p AS (SELECT a.group_id,
                     a.ix AS x1, a.iy AS y1, b.ix AS x2, b.iy AS y2,
                     (b.ix - a.ix) * (b.ix - a.ix)
                     + (b.iy - a.iy) * (b.iy - a.iy) AS d2
              FROM hull a JOIN hull b
                ON b.group_id = a.group_id AND a.hull_pos < b.hull_pos),
        r AS (SELECT *, row_number() OVER (PARTITION BY group_id
                        ORDER BY d2 DESC, x1 ASC, y1 ASC,
                                 x2 ASC, y2 ASC) AS rn
              FROM p),
        n AS (SELECT group_id, count(*) AS n_hull FROM hull GROUP BY 1)
        SELECT n.group_id, n.n_hull,
               CAST(coalesce(r.d2, 0) AS BIGINT) AS d2_max,
               sqrt(CAST(coalesce(r.d2, 0) AS DOUBLE)) AS diam_grid,
               r.x1, r.y1, r.x2, r.y2
        FROM n LEFT JOIN r ON r.group_id = n.group_id AND r.rn = 1
    """


def _ora_lcss() -> str:
    """Pure-Python replay of q_lcss: brute-force ALL track pairs +
    the SCALAR LCSS DP (distance.lcss_py — classic three-way
    recurrence vs the engine's rolling-row prefix-max numpy kernel).
    Track synthesis mirrors the query's dyadic-literal arithmetic with
    the planted +2-deg glitch spikes; snapping replays _snap_arr."""
    import math

    import pyarrow.parquet as pq

    from osm_pbf_spark.operators.distance import lcss_py

    t = pq.read_table(
        os.path.join(ORACLE_SF_DIR, "events.parquet"), columns=["event_id"]
    )
    tracks = {}
    for eid in t.column("event_id").to_pylist():
        k = int(eid)
        if k >= 240:
            continue
        base = k - (k % 4)
        j = float(k % 4)
        npts = 6 + k % 3
        lat0 = (base % 80) - 40 + 0.25 + j * 0.0625
        lon0 = ((base * 7) % 340) - 170 + 0.5 + j * 0.0625
        pts = []
        for i in range(npts):
            lat = lat0 + float(i) * 0.125 + (2.0 if i % 5 == 2 else 0.0)
            lon = lon0 + float(i % 3) * 0.25
            pts.append(
                (math.floor(lon * 1_000_000.0 + 0.5),
                 math.floor(lat * 1_000_000.0 + 0.5))
            )
        tracks[k] = pts
    r2 = 500_000 ** 2
    ids = sorted(tracks)
    rows = []
    for ai, a in enumerate(ids):
        for b in ids[ai + 1:]:
            lc = lcss_py(tracks[a], tracks[b], r2)
            n, m = len(tracks[a]), len(tracks[b])
            ppm = (1_000_000 * lc) // min(n, m)
            if ppm >= 500_000:
                rows.append((a, b, lc, n, m, ppm))
    return _values_sql(
        [("id_a", "BIGINT"), ("id_b", "BIGINT"), ("lcss", "BIGINT"),
         ("n_a", "INTEGER"), ("n_b", "INTEGER"), ("sim_ppm", "BIGINT")],
        rows,
    )


def _ora_simhash_groups() -> str:
    """Scalar replay of the composed SimHash dedup closure: the
    _ora_simhash_pairs banding + EXACT hamming in plain Python, then
    union-find and min-id survivors (vs the engine's star-rounds CC)."""
    from osm_pbf_spark.operators.dedup import _simhash64

    docs = _oracle_docs()
    sig = {i: int(np.uint64(_simhash64(s))) for i, s in docs}
    buckets: dict[int, list[int]] = {}
    for i, _s in docs:
        u = sig[i]
        for qq in range(4):
            buckets.setdefault(
                (qq << 16) | ((u >> (16 * qq)) & 0xFFFF), []
            ).append(i)
    ids = sorted(sig)
    parent = {i: i for i in ids}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for v in buckets.values():
        v = sorted(set(v))
        for x in range(len(v)):
            for y in range(x + 1, len(v)):
                if bin(sig[v[x]] ^ sig[v[y]]).count("1") <= 3:
                    ra, rb = find(v[x]), find(v[y])
                    if ra != rb:
                        parent[max(ra, rb)] = min(ra, rb)
    groups: dict[int, list[int]] = {}
    for i in ids:
        groups.setdefault(find(i), []).append(i)
    rows = [(min(m), root, len(m)) for root, m in groups.items()]
    return _values_sql(
        [("doc_id", "BIGINT"), ("group_id", "BIGINT"),
         ("group_size", "BIGINT")],
        rows,
    )


def _ora_group_minhash() -> str:
    """Scalar replay of q_group_minhash: per-doc signatures from the
    operator's own pure kernels (_shingle_hashes/_minhash_sig — the
    fs_weights exported-spec convention), group mins and pairwise
    agreement in plain Python loops vs the engine's explode + bounded
    agg + zip_with."""
    import pyarrow.parquet as pq

    from osm_pbf_spark.operators.dedup import (
        _N_PERM,
        _minhash_sig,
        _shingle_hashes,
    )

    t = pq.read_table(
        os.path.join(ORACLE_SF_DIR, "documents.parquet"),
        columns=["doc_id", "source", "text"],
    )
    groups: dict = {}
    for did, src, txt in zip(
        t.column("doc_id").to_pylist(),
        t.column("source").to_pylist(),
        t.column("text").to_pylist(),
    ):
        if int(did) >= 800:
            continue
        sig = _minhash_sig(_shingle_hashes(txt or "", 5)).astype("int64")
        cur = groups.get(src)
        if cur is None:
            groups[src] = [int(x) for x in sig]
        else:
            groups[src] = [min(a, int(b)) for a, b in zip(cur, sig)]
    names = sorted(groups)
    rows = []
    for i, a in enumerate(names):
        for b in names[i + 1:]:
            n_agree = sum(1 for x, y in zip(groups[a], groups[b]) if x == y)
            rows.append((a, b, n_agree, _N_PERM, n_agree / float(_N_PERM)))
    return _values_sql(
        [("group_a", "VARCHAR"), ("group_b", "VARCHAR"),
         ("n_agree", "BIGINT"), ("n_perm", "INTEGER"),
         ("jaccard_est", "DOUBLE")],
        rows,
    )


def _ora_media_groups() -> str:
    """Scalar replay of the composed media-dedup closure: the
    _ora_media_neardup gallery + brute all-pairs hamming, then a
    plain union-find (vs the engine's star-rounds CC) and min-id
    survivors."""
    import hashlib as _hl

    def pix(i: int) -> list[int]:
        payload = _hl.blake2b(i.to_bytes(4, "little"), digest_size=32).digest()
        return list(_hl.blake2b(payload, digest_size=64).digest())

    items: dict[str, list[int]] = {f"m{i}": pix(i) for i in range(48)}
    for i in range(10):
        p = list(items[f"m{i}"])
        pos = (i * 5) % 64
        p[pos] = min(p[pos] + 1, 255)
        items[f"dup/m{i}"] = p

    def dh(p: list[int]) -> int:
        v = 0
        for i in range(64):
            if p[i] > p[(i + 1) % 64]:
                v |= 1 << i
        return v

    hs = {r: dh(p) for r, p in items.items()}
    refs = sorted(hs)
    parent = {r: r for r in refs}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a in range(len(refs)):
        for b in range(a + 1, len(refs)):
            if bin(hs[refs[a]] ^ hs[refs[b]]).count("1") <= 3:
                ra, rb = find(refs[a]), find(refs[b])
                if ra != rb:
                    parent[max(ra, rb)] = min(ra, rb)
    groups: dict[str, list[str]] = {}
    for r in refs:
        groups.setdefault(find(r), []).append(r)
    rows = [
        (min(members), root, len(members))
        for root, members in groups.items()
    ]
    return _values_sql(
        [("media_ref", "VARCHAR"), ("group_id", "VARCHAR"),
         ("group_size", "BIGINT")],
        rows,
    )


def _ora_neg_samples() -> str:
    """Plain-Python replay of q_neg_samples end-to-end: the
    random_walks md5 spec -> window-2 skip-gram pairs -> dense
    sorted-vocab index -> md5 draws with own-center/context drops."""
    import hashlib

    import pyarrow.parquet as pq

    def md5_40(s: str) -> int:
        return int(hashlib.md5(s.encode()).hexdigest()[:10], 16)

    t = pq.read_table(
        os.path.join(ORACLE_SF_DIR, "events.parquet"), columns=["event_id"]
    )
    eset = set()
    vocab_nodes = set()
    for eid in t.column("event_id").to_pylist():
        k = int(eid)
        if k < 900:
            a = md5_40(str(k)) % 100
            b = md5_40(f"{k}:d") % 100
            vocab_nodes |= {a, b}
            if a != b:
                eset.add((a, b))
    adj: dict = {}
    nodes = set()
    for a, b in eset:
        adj.setdefault(a, set()).add(b)
        nodes |= {a, b}
    adj = {k: sorted(v) for k, v in adj.items()}
    walks = []
    for start in sorted(nodes):
        rep = 0
        path = [start]
        cur = start
        for step in range(1, 4):
            nbrs = adj.get(cur)
            if not nbrs:
                break
            # random_walks draws with the PRE-increment step value
            # (the select computes step+1 and the md5 in one
            # projection, so F.col("step") is still t-1)
            cur = nbrs[md5_40(f"w:{start}:{rep}:{step - 1}:{cur}") % len(nbrs)]
            path.append(cur)
        walks.append(path)
    pairs = set()
    for path in walks:
        for i, c in enumerate(path):
            for j, x in enumerate(path):
                if i != j and abs(i - j) <= 2:
                    pairs.add((c, x))
    vocab = sorted(vocab_nodes)
    nv = len(vocab)
    rows = []
    for c, x in sorted(pairs):
        for j in range(3):
            neg = vocab[md5_40(f"neg:{c}:{x}:{j}") % nv]
            if neg != c and neg != x:
                rows.append((c, x, neg, j))
    return _values_sql(
        [("center", "BIGINT"), ("context", "BIGINT"),
         ("neg", "BIGINT"), ("draw", "INTEGER")],
        rows,
    )


def _ora_dtw() -> str:
    """Pure-Python replay of q_dtw: same blocked pairs, the SCALAR
    three-way DTW recurrence (temporal.dtw_py) vs the engine's
    anti-diagonal numpy kernel; banded-disconnect pairs dropped."""
    import pyarrow.parquet as pq

    from osm_pbf_spark.operators.temporal import dtw_py

    t = pq.read_table(
        os.path.join(ORACLE_SF_DIR, "events.parquet"), columns=["event_id"]
    )
    series = {}
    for eid in t.column("event_id").to_pylist():
        k = int(eid)
        if k >= 48:
            continue
        series[k] = [
            (k % 7) * 100 + (k * 13 + i * 29) % 50
            for i in range(10 + k % 5)
        ]
    rows = []
    ids = sorted(series)
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            if a % 8 != b % 8:
                continue
            c = dtw_py(series[a], series[b], band=3)
            if c >= 0 and c <= 200_000:
                rows.append((a, b, c))
    return _values_sql(
        [("id_a", "BIGINT"), ("id_b", "BIGINT"), ("dtw", "BIGINT")], rows
    )


def _ora_ppr(iters: int = 5, scale: int = 10**12, num: int = 85, den: int = 100) -> str:
    """Unrolled-CTE personalized-PageRank replay over the md5 graph
    (the _ora_pagerank convention; // replicates div on non-negative
    ranks) with the seed-only teleport base and seed-only init."""
    base = (scale * (den - num)) // den
    ctes = [
        _MD5_GRAPH_SQL,
        "e AS (SELECT DISTINCT src, dst FROM ed WHERE src <> dst)",
        "nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e)",
        "seeds(node) AS (SELECT node FROM nodes WHERE node IN (3, 17))",
        "od AS (SELECT src, count(*) AS outdeg FROM e GROUP BY src)",
        f"r0 AS (SELECT n.node, CAST(CASE WHEN s.node IS NOT NULL"
        f" THEN {scale} ELSE 0 END AS BIGINT) AS rank"
        f" FROM nodes n LEFT JOIN seeds s ON s.node = n.node)",
    ]
    for i in range(1, iters + 1):
        ctes.append(
            f"c{i} AS (SELECT e.dst AS node, SUM(r.rank // o.outdeg) AS s"
            f" FROM e JOIN r{i - 1} r ON e.src = r.node"
            f" JOIN od o ON o.src = e.src GROUP BY e.dst)"
        )
        ctes.append(
            f"r{i} AS (SELECT n.node,"
            f" CAST(CASE WHEN sd.node IS NOT NULL THEN {base} ELSE 0 END"
            f" + ({num} * COALESCE(c.s, 0)) // {den} AS BIGINT) AS rank"
            f" FROM nodes n LEFT JOIN c{i} c ON c.node = n.node"
            f" LEFT JOIN seeds sd ON sd.node = n.node)"
        )
    return (
        "WITH " + ",\n".join(ctes)
        + f"\nSELECT CAST(node AS BIGINT) AS node, rank FROM r{iters}"
    )


def _ora_node2vec() -> str:
    """Plain-Python replay of the full second-order walk spec
    (graph.node2vec_walks docstring) over the _md5_graph synthesis —
    scalar loops + a dict adjacency vs the engine's frontier joins,
    candidate Generate and window cumsum."""
    import hashlib

    import pyarrow.parquet as pq

    def md5_40(s: str) -> int:
        return int(hashlib.md5(s.encode()).hexdigest()[:10], 16)

    t = pq.read_table(
        os.path.join(ORACLE_SF_DIR, "events.parquet"), columns=["event_id"]
    )
    eset = set()
    for eid in t.column("event_id").to_pylist():
        k = int(eid)
        if k < 900:
            a = md5_40(str(k)) % 100
            b = md5_40(f"{k}:d") % 100
            if a != b:
                eset.add((a, b))
    adj: dict = {}
    nodes = set()
    for a, b in eset:
        adj.setdefault(a, set()).add(b)
        nodes.add(a)
        nodes.add(b)
    adj = {k: sorted(v) for k, v in adj.items()}
    W_RET, W_IN, W_OUT = 2, 4, 1
    rows = []
    for start in sorted(nodes):
        for rep in range(2):
            rows.append((start, rep, 0, start))
            prev, cur = None, start
            for step in range(1, 5):
                nbrs = adj.get(cur)
                if not nbrs:
                    break
                if step == 1:
                    idx = md5_40(f"n2v:{start}:{rep}:1:{cur}") % len(nbrs)
                    nxt = nbrs[idx]
                else:
                    ws = [
                        W_RET if x == prev
                        else (W_IN if (prev, x) in eset else W_OUT)
                        for x in nbrs
                    ]
                    tot = sum(ws)
                    if tot == 0:
                        break
                    r = md5_40(f"n2v:{start}:{rep}:{step}:{cur}:{prev}") % tot
                    cum, nxt = 0, None
                    for x, w in zip(nbrs, ws):
                        cum += w
                        if cum > r:
                            nxt = x
                            break
                rows.append((start, rep, step, nxt))
                prev, cur = cur, nxt
    return _values_sql(
        [("start", "BIGINT"), ("rep", "INTEGER"), ("step", "INTEGER"),
         ("node", "BIGINT")],
        rows,
    )


def _ora_kmeans_fit() -> str:
    """Plain-Python replay of the FULL Lloyd loop (ann.kmeans_fit_py)
    + the final assignment — the exact-integer spec makes engine and
    replay bit-identical; independent plumbing (scalar loops vs the
    engine's pandas-UDF assign + posexplode centroid aggregate)."""
    import math

    import pyarrow.parquet as pq

    from osm_pbf_spark.operators.ann import KMEANS_Q_SCALE, kmeans_fit_py

    t = pq.read_table(
        os.path.join(ORACLE_SF_DIR, "embeddings.parquet"),
        columns=["vec_id", "embedding"],
    )
    pairs = sorted(
        zip(t.column("vec_id").to_pylist(), t.column("embedding").to_pylist())
    )
    vecs = [
        tuple(int(math.floor(float(x) * KMEANS_Q_SCALE + 0.5)) for x in emb)
        for _, emb in pairs
    ]
    cents = kmeans_fit_py(vecs, 8, 4)
    rows = []
    for (vid, _), v in zip(pairs, vecs):
        best, bd = 0, None
        for c, cc in enumerate(cents):
            dd = sum((a - b) * (a - b) for a, b in zip(v, cc))
            if bd is None or dd < bd:
                best, bd = c, dd
        rows.append((vid, best, bd))
    return _values_sql(
        [("vec_id", "BIGINT"), ("cluster", "BIGINT"), ("d2", "BIGINT")], rows
    )


def _ora_jaro_winkler() -> str:
    """Pure-Python replay of q_jaro_winkler: the same soundex blocking
    (_soundex_py is pinned bit-equal to Spark's soundex) + the SAME
    exact-rational integer JW spec evaluated pairwise in plain loops
    (fuzzy.jaro_winkler_ppm_py is the shared scalar spec — the engine
    runs it through a block join + Arrow kernel, the oracle brute
    loops the blocked pairs)."""
    import pyarrow.parquet as pq

    from osm_pbf_spark.operators.fuzzy import jaro_winkler_ppm_py

    t = pq.read_table(
        os.path.join(ORACLE_SF_DIR, "part.parquet"),
        columns=["p_partkey", "p_name"],
    )
    lefts, rights = [], []
    for pk, name in zip(
        t.column("p_partkey").to_pylist(), t.column("p_name").to_pylist()
    ):
        k = int(pk)
        if k >= 400:
            continue
        words = str(name).split(" ")
        lefts.append((k, words[0] if words else ""))
        if k % 3 == 0:
            rights.append((k, words[1] if len(words) > 1 else ""))
    rows = []
    for il, nl in lefts:
        for ir, nr in rights:
            if _soundex_py(nl) != _soundex_py(nr):
                continue
            ppm = jaro_winkler_ppm_py(nl, nr)
            if ppm >= 800_000:
                rows.append((il, ir, nl, nr, ppm))
    return _values_sql(
        [("id_l", "BIGINT"), ("id_r", "BIGINT"), ("name_l", "VARCHAR"),
         ("name_r", "VARCHAR"), ("jw_ppm", "BIGINT")],
        rows,
    )


def _graph_edges(limit: int, na: int, nb: int, ca: int, cb: int, off: int):
    """Events-derived deterministic edge list shared by the graph-gate
    oracle replays: (eid*ca % na, (eid*cb + off) % nb) for eid < limit."""
    import pyarrow.parquet as pq

    t = pq.read_table(
        os.path.join(ORACLE_SF_DIR, "events.parquet"), columns=["event_id"]
    )
    out = []
    for eid in t.column("event_id").to_pylist():
        k = int(eid)
        if k < limit:
            out.append(((k * ca) % na, (k * cb + off) % nb))
    return out


def _ora_mis() -> str:
    """Sequential-greedy MIS replay by the (md5_40(v), v) total order
    (luby_mis docstring: the locally-minimal rounds fixpoint equals
    this greedy — independent plumbing)."""
    import hashlib

    nbrs: dict = {}
    nodes = set()
    for a, b in _graph_edges(2000, 240, 240, 11, 17, 5):
        if a == b:
            continue
        nodes |= {a, b}
        nbrs.setdefault(a, set()).add(b)
        nbrs.setdefault(b, set()).add(a)
    pri = lambda v: (int(hashlib.md5(str(v).encode()).hexdigest()[:10], 16), v)
    taken, blocked = [], set()
    for v in sorted(nodes, key=pri):
        if v in blocked:
            continue
        taken.append(v)
        blocked |= nbrs.get(v, set())
    return _values_sql([("node", "BIGINT")], [(v,) for v in sorted(taken)])


def _ora_scc() -> str:
    """ITERATIVE Tarjan replay (explicit stack — no recursion limit),
    an independent algorithm family from the engine's FW-BW-MIN
    peeling; comp = min node id per SCC."""
    adj: dict = {}
    nodes = set()
    for a, b in _graph_edges(1500, 150, 150, 7, 23, 1):
        if a == b:
            continue
        nodes |= {a, b}
        adj.setdefault(a, []).append(b)
    idx: dict = {}
    low: dict = {}
    onstk: set = set()
    stk: list = []
    comp: dict = {}
    counter = [0]
    for root in sorted(nodes):
        if root in idx:
            continue
        work = [(root, iter(adj.get(root, [])))]
        idx[root] = low[root] = counter[0]
        counter[0] += 1
        stk.append(root)
        onstk.add(root)
        while work:
            v, it = work[-1]
            advanced = False
            for w in it:
                if w not in idx:
                    idx[w] = low[w] = counter[0]
                    counter[0] += 1
                    stk.append(w)
                    onstk.add(w)
                    work.append((w, iter(adj.get(w, []))))
                    advanced = True
                    break
                elif w in onstk:
                    low[v] = min(low[v], idx[w])
            if advanced:
                continue
            work.pop()
            if work:
                pv = work[-1][0]
                low[pv] = min(low[pv], low[v])
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
    return _values_sql(
        [("node", "BIGINT"), ("comp", "BIGINT")],
        sorted(comp.items()),
    )


def _ora_topo_layers() -> str:
    """Longest-path DP replay over the a<b DAG (memoized over a
    reverse-topological order = plain ascending node order, since
    every edge goes strictly upward)."""
    import pyarrow.parquet as pq

    t = pq.read_table(
        os.path.join(ORACLE_SF_DIR, "events.parquet"), columns=["event_id"]
    )
    edges = set()
    for eid in t.column("event_id").to_pylist():
        k = int(eid)
        if k < 1200:
            a = k % 120
            edges.add((a, a + 1 + (k * 7) % 20))
    nodes = sorted({x for e in edges for x in e})
    inn: dict = {}
    for a, b in edges:
        inn.setdefault(b, []).append(a)
    layer = {}
    for v in nodes:  # ascending == topological (edges go a -> b, a < b)
        layer[v] = max((layer[a] + 1 for a in inn.get(v, [])), default=0)
    return _values_sql(
        [("node", "BIGINT"), ("layer", "BIGINT")], sorted(layer.items())
    )


def _ora_centroid() -> str:
    """Scalar replay of ring_centroid over the rel_many fixture: the
    _ora_rel_pip independent chainer + hole assignment, then the
    quantized int shoelace with the identical translation/sign/
    division chain (HALF_UP decimal rounding = Spark's round)."""
    from decimal import ROUND_HALF_UP, Decimal

    from tests import oracle_geo

    d = _fixture_decoded("rel_many")
    coords = {n["id"]: (n["lat"], n["lon"]) for n in d["nodes"]}
    way_by_id = {w["id"]: w for w in d["ways"]}

    def chain(way_ids):
        segs = []
        for wid in way_ids:
            w = way_by_id.get(wid)
            if w is None or any(r not in coords for r in w["refs"]):
                continue
            segs.append(list(w["refs"]))
        rings = []
        closed = [s for s in segs if s[0] == s[-1] and len(s) >= 4]
        opens = [s for s in segs if s[0] != s[-1]]
        rings.extend(s[:-1] for s in closed)
        while opens:
            cur = opens.pop(0)
            changed = True
            while cur[0] != cur[-1] and changed:
                changed = False
                for i, s in enumerate(opens):
                    if s[0] == cur[-1]:
                        cur, changed = cur + s[1:], True
                    elif s[-1] == cur[-1]:
                        cur, changed = cur + s[-2::-1], True
                    else:
                        continue
                    opens.pop(i)
                    break
            if cur[0] == cur[-1] and len(cur) >= 4:
                rings.append(cur[:-1])
        return [[coords[r] for r in ring] for ring in rings]

    SCALE = 100_000  # matches the gate's explicit scale

    def shoelace(ring):
        import math

        qx = [int(math.floor(lo * SCALE + 0.5)) for _, lo in ring]
        qy = [int(math.floor(la * SCALE + 0.5)) for la, _ in ring]
        bx, by = qx[0], qy[0]
        x = [v - bx for v in qx]
        y = [v - by for v in qy]
        n = len(ring)
        a2 = cx6 = cy6 = 0
        for i in range(n):
            j = (i + 1) % n
            cr = x[i] * y[j] - x[j] * y[i]
            a2 += cr
            cx6 += (x[i] + x[j]) * cr
            cy6 += (y[i] + y[j]) * cr
        return a2, cx6, cy6, bx, by

    def round9(v: float) -> float:
        return float(Decimal(repr(v)).quantize(Decimal("1e-9"), ROUND_HALF_UP))

    rows = []
    for rel in d["relations"]:
        if rel["tags"].get("type") != "multipolygon":
            continue
        outer_ids = [m["ref"] for m in rel["members"]
                     if m["type"] == "way" and m["role"] == "outer"]
        inner_ids = [m["ref"] for m in rel["members"]
                     if m["type"] == "way" and m["role"] == "inner"]
        outers = chain(outer_ids)
        inners = chain(inner_ids)
        if not outers:
            continue
        for i, outer in enumerate(outers):
            holes = [h for h in inners
                     if oracle_geo.point_in_ring(h[0][0], h[0][1], outer)]
            pid = (f"relation/{rel['id']}" if len(outers) == 1
                   else f"relation/{rel['id']}/{i}")
            w2 = wx6 = wy6 = sdx = sdy = 0
            bx0 = by0 = None
            for ridx, ring in enumerate([outer] + holes):
                if len(ring) < 3:
                    continue
                a2, cx6, cy6, bx, by = shoelace(ring)
                if bx0 is None:
                    bx0, by0 = bx, by
                sgn = -1 if a2 < 0 else 1
                role = 1 if ridx == 0 else -1
                w2 += role * sgn * a2
                wx6 += role * sgn * cx6
                wy6 += role * sgn * cy6
                sdx += role * sgn * a2 * (bx - bx0)
                sdy += role * sgn * a2 * (by - by0)
            if w2 == 0:
                continue
            c_lon = (
                float(bx0) + float(sdx) / float(w2)
                + float(wx6) / (3.0 * float(w2))
            ) / float(SCALE)
            c_lat = (
                float(by0) + float(sdy) / float(w2)
                + float(wy6) / (3.0 * float(w2))
            ) / float(SCALE)
            rows.append((pid, w2, round9(c_lat), round9(c_lon)))
    return _values_sql(
        [("poly_id", "VARCHAR"), ("area2_q", "BIGINT"),
         ("c_lat", "DOUBLE"), ("c_lon", "DOUBLE")],
        sorted(rows),
    )


def _ora_coloring() -> str:
    """Phase-by-phase greedy-MIS coloring replay (mis_coloring spec:
    each phase = md5-priority sequential greedy over the residual,
    plus residual-isolated survivors)."""
    import hashlib

    und = {
        (min(a, b), max(a, b))
        for a, b in _graph_edges(1600, 200, 200, 13, 29, 7)
        if a != b
    }
    alive = {x for e in und for x in e}
    rem = set(und)
    pri = lambda v: (int(hashlib.md5(str(v).encode()).hexdigest()[:10], 16), v)
    color: dict = {}
    c = 0
    while alive:
        c += 1
        endpoints = {x for e in rem for x in e}
        isolated = alive - endpoints
        nbrs: dict = {}
        for a, b in rem:
            nbrs.setdefault(a, set()).add(b)
            nbrs.setdefault(b, set()).add(a)
        taken, blocked = set(), set()
        for v in sorted(endpoints, key=pri):
            if v in blocked:
                continue
            taken.add(v)
            blocked |= nbrs.get(v, set())
        phase = taken | isolated
        for v in phase:
            color[v] = c
        alive -= phase
        rem = {(u, v) for u, v in rem if u not in phase and v not in phase}
    return _values_sql(
        [("node", "BIGINT"), ("color", "INTEGER")], sorted(color.items())
    )


def _ora_perm_test() -> str:
    """Scalar replay of the deterministic permutation test (identical
    md5 ranks, identical exact-integer comparisons)."""
    import hashlib

    import pyarrow.parquet as pq

    t = pq.read_table(
        os.path.join(ORACLE_SF_DIR, "events.parquet"),
        columns=["event_id", "value"],
    )
    import math

    data = {}
    for eid, val in zip(
        t.column("event_id").to_pylist(), t.column("value").to_pylist()
    ):
        k = int(eid)
        if k < 600:
            g = "a" if k % 3 == 0 else "b"
            v = int(math.floor(float(val))) + (7 if g == "a" else 0)
            data[k] = (g, v)
    n_a = sum(1 for g, _ in data.values() if g == "a")
    n_b = len(data) - n_a
    s_a = sum(v for g, v in data.values() if g == "a")
    s_tot = sum(v for _, v in data.values())
    obs = abs(s_a * n_b - (s_tot - s_a) * n_a)
    key = lambda i, rid: (
        int(hashlib.md5(f"7:{i}:{rid}".encode()).hexdigest()[:10], 16), rid
    )
    n_ge = 0
    for i in range(99):
        order = sorted(data, key=lambda rid: key(i, rid))
        sa = sum(data[rid][1] for rid in order[:n_a])
        if abs(sa * n_b - (s_tot - sa) * n_a) >= obs:
            n_ge += 1
    return _values_sql(
        [("n_a", "BIGINT"), ("n_b", "BIGINT"), ("diff_num", "BIGINT"),
         ("n_perms", "BIGINT"), ("n_ge", "BIGINT"), ("p", "DOUBLE")],
        [(n_a, n_b, obs, 99, n_ge, float(1 + n_ge) / 100.0)],
    )


def _ora_semantic_dedup() -> str:
    """Scalar replay of the embedding dedup closure: identical
    sequential-fold cosine (the dot_f64 op order), k=4 neighbor lists
    with the engine's (cos desc, id asc) tie-break, union-find,
    min-id survivors."""
    import pyarrow.parquet as pq

    t = pq.read_table(
        os.path.join(ORACLE_SF_DIR, "embeddings.parquet"),
        columns=["vec_id", "embedding"],
    )
    vecs = {}
    for vid, emb in zip(
        t.column("vec_id").to_pylist(), t.column("embedding").to_pylist()
    ):
        v = int(vid)
        if v < 300:
            vecs[v] = [float(x) for x in emb]
            if v % 3 == 0:
                vecs[v + 10_000] = vecs[v]

    def dot(a, b):
        acc = 0.0
        for x, y in zip(a, b):
            acc = acc + x * y
        return acc

    import math

    # norm2 kept UNsqrted: the engine computes dot / sqrt(n2q * n2c)
    # in that exact order — pre-sqrting each norm is a different float
    # chain and could flip a borderline threshold/tie
    norm2 = {k: dot(v, v) for k, v in vecs.items()}
    ids = sorted(vecs)
    pairs = set()
    for q in ids:
        sims = []
        for c in ids:
            if c == q:
                continue
            sims.append(
                (-(dot(vecs[q], vecs[c]) / math.sqrt(norm2[q] * norm2[c])), c)
            )
        sims.sort()
        for negcos, c in sims[:4]:
            if -negcos > 0.99:
                pairs.add((min(q, c), max(q, c)))
    parent = {i: i for i in ids}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    groups: dict = {}
    for i in ids:
        groups.setdefault(find(i), []).append(i)
    rows = [
        (min(g), root, len(g)) for root, g in groups.items()
    ]
    return _values_sql(
        [("doc_id", "BIGINT"), ("group_id", "BIGINT"), ("group_size", "BIGINT")],
        sorted(rows, key=lambda r: (r[1], r[0])),
    )


def _ora_betweenness() -> str:
    """Scalar replay of tree_betweenness: md5-ranked landmarks,
    canonical min-id-parent BFS trees, descendant counts."""
    import hashlib

    und = {
        (min(a, b), max(a, b))
        for a, b in _graph_edges(1000, 120, 120, 7, 13, 3)
        if a != b
    }
    nbrs: dict = {}
    for a, b in und:
        nbrs.setdefault(a, set()).add(b)
        nbrs.setdefault(b, set()).add(a)
    nodes = sorted(nbrs)
    pri = lambda v: (int(hashlib.md5(str(v).encode()).hexdigest()[:10], 16), v)
    landmarks = sorted(nodes, key=pri)[:6]
    score = {v: 0 for v in nodes}
    for s in landmarks:
        dist = {s: 0}
        parent: dict = {}
        frontier = [s]
        d = 0
        while frontier:
            d += 1
            nxt: dict = {}
            for u in frontier:
                for w in nbrs[u]:
                    if w not in dist:
                        if w not in nxt or u < nxt[w]:
                            nxt[w] = u
            for w, p in nxt.items():
                dist[w] = d
                parent[w] = p
            frontier = sorted(nxt)
        size = {v: 1 for v in dist}
        for v in sorted(dist, key=lambda x: -dist[x]):
            if v in parent:
                size[parent[v]] += size[v]
        for v in dist:
            if v != s:
                score[v] += size[v] - 1
    return _values_sql(
        [("node", "BIGINT"), ("score", "BIGINT")], sorted(score.items())
    )


def _ora_fisher() -> str:
    """Identical exact-Fraction hypergeometric replay of fisher_exact
    over the events-derived 2x2 tables (independent plumbing: pyarrow
    read + pure-python combinatorics)."""
    from fractions import Fraction
    from math import comb

    import pyarrow.parquet as pq

    t = pq.read_table(
        os.path.join(ORACLE_SF_DIR, "events.parquet"),
        columns=["event_id", "event_type"],
    )
    cells: dict = {}
    for eid, et in zip(
        t.column("event_id").to_pylist(), t.column("event_type").to_pylist()
    ):
        k = int(eid)
        if k < 400:
            cells.setdefault(et, [0, 0, 0, 0])[k % 4] += 1
    rows = []
    for g in sorted(cells):
        a, b, c, d = cells[g]
        r1, r2, c1, n = a + b, c + d, a + c, a + b + c + d
        if n == 0:
            rows.append((g, a, b, c, d, None, None))
            continue
        obs = comb(r1, a) * comb(r2, c1 - a)
        num = sum(
            w
            for k2 in range(max(0, c1 - r2), min(r1, c1) + 1)
            if (w := comb(r1, k2) * comb(r2, c1 - k2)) <= obs
        )
        p = float(Fraction(num, comb(n, c1)))
        orr = (a * d) / (b * c) if b * c != 0 else None
        rows.append((g, a, b, c, d, p, orr))
    return _values_sql(
        [("g", "VARCHAR"), ("a", "BIGINT"), ("b", "BIGINT"), ("c", "BIGINT"),
         ("d", "BIGINT"), ("p_two", "DOUBLE"), ("odds_ratio", "DOUBLE")],
        rows,
    )


def _ora_flow_acc() -> str:
    """Scalar D8 + memoized upstream-count replay of the q_flow_dir
    grid (independent: per-cell argmax loops + recursive subtree
    sums, no wave structure)."""
    import pyarrow.parquet as pq

    t = pq.read_table(
        os.path.join(ORACLE_SF_DIR, "orders.parquet"), columns=["o_orderkey"]
    )
    z: dict = {}
    for k in t.column("o_orderkey").to_pylist():
        k = int(k)
        if k < 1024:
            z[(k % 32, (k // 32) % 32)] = (k * 7919) % 1000
    offs = [(0, 1, 0), (1, 1, -1), (2, 0, -1), (3, -1, -1),
            (4, -1, 0), (5, -1, 1), (6, 0, 1), (7, 1, 1)]
    down: dict = {}
    for (x, y), zz in z.items():
        best = None
        for d, dx, dy in offs:
            nb = (x + dx, y + dy)
            if nb in z and z[nb] < zz:
                drop = zz - z[nb]
                if best is None or drop > best[0] or (drop == best[0] and d < best[1]):
                    best = (drop, d, nb)
        if best is not None:
            down[(x, y)] = best[2]
    ups: dict = {}
    for u, v in down.items():
        ups.setdefault(v, []).append(u)
    acc: dict = {}

    def go(c):
        if c in acc:
            return acc[c]
        acc[c] = 1 + sum(go(u) for u in ups.get(c, []))
        return acc[c]

    import sys

    sys.setrecursionlimit(100_000)
    for c in z:
        go(c)
    return _values_sql(
        [("x", "BIGINT"), ("y", "BIGINT"), ("acc", "BIGINT")],
        sorted((x, y, a) for (x, y), a in acc.items()),
    )


def _ora_matching() -> str:
    """Pure-Python sequential-greedy replay of the maximal-matching
    spec (graph.maximal_matching docstring: the locally-minimal-rounds
    fixpoint EQUALS greedy by the (md5_40(u:v), u, v) total order —
    the oracle runs the greedy directly, independent plumbing)."""
    import hashlib

    import pyarrow.parquet as pq

    t = pq.read_table(
        os.path.join(ORACLE_SF_DIR, "events.parquet"), columns=["event_id"]
    )
    edges = set()
    for eid in t.column("event_id").to_pylist():
        k = int(eid)
        if k < 2000:
            a, b = (k * 7) % 200, (k * 13 + 3) % 200
            if a != b:
                edges.add((min(a, b), max(a, b)))

    def pri(u, v):
        return (int(hashlib.md5(f"{u}:{v}".encode()).hexdigest()[:10], 16), u, v)

    used, rows = set(), []
    for u, v in sorted(edges, key=lambda e: pri(*e)):
        if u not in used and v not in used:
            used |= {u, v}
            rows.append((u, v))
    return _values_sql([("u", "BIGINT"), ("v", "BIGINT")], rows)


def oracle_sql() -> dict[str, str]:
    pts = f"WITH pts AS ({SQL_POINTS})"
    d = {
        "q01_pricing": """
            SELECT l_returnflag, l_linestatus,
                   round(sum(l_quantity), 2) AS sum_qty,
                   round(sum(l_extendedprice), 2) AS sum_base_price,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
                   round(avg(l_quantity), 6) AS avg_qty,
                   count(*) AS count_order
            FROM lineitem
            WHERE l_shipdate <= TIMESTAMP '1998-09-02'
            GROUP BY l_returnflag, l_linestatus
        """,
        "q03_top_orders": """
            SELECT o_orderkey, epoch_us(o_orderdate) AS o_orderdate_us,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
            FROM customer JOIN orders ON c_custkey = o_custkey
                          JOIN lineitem ON o_orderkey = l_orderkey
            WHERE c_mktsegment = 'BUILDING'
            GROUP BY o_orderkey, o_orderdate
            ORDER BY revenue DESC, o_orderkey LIMIT 10
        """,
        "q05_nation_volume": """
            SELECT r_name, n_name,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
                   count(*) AS n_items
            FROM customer JOIN orders ON c_custkey = o_custkey
                          JOIN lineitem ON o_orderkey = l_orderkey
                          JOIN nation ON c_nationkey = n_nationkey
                          JOIN region ON n_regionkey = r_regionkey
            GROUP BY r_name, n_name
        """,
        "q_join_broadcast": """
            SELECT r_name, count(*) AS n_nations
            FROM nation JOIN region ON n_regionkey = r_regionkey
            GROUP BY r_name
        """,
        "q_semi_join": """
            SELECT c_nationkey, count(*) AS n_customers
            FROM customer WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
            GROUP BY c_nationkey
        """,
        "q_anti_join": """
            SELECT c_custkey, c_name FROM customer
            WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        """,
        "q_rollup": """
            SELECT c_nationkey, c_mktsegment, count(*) AS n,
                   round(sum(c_acctbal), 2) AS acctbal_sum
            FROM customer GROUP BY ROLLUP (c_nationkey, c_mktsegment)
        """,
        "q_window_rank": """
            SELECT o_custkey, o_orderkey, o_totalprice, CAST(rnk AS INT) AS rnk FROM (
                SELECT *, row_number() OVER (
                    PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rnk
                FROM orders) WHERE rnk <= 3
        """,
        "q_window_running": """
            SELECT user_id, event_id,
                   round(sum(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                          ROWS UNBOUNDED PRECEDING), 4) AS running_value,
                   lag(value, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_value
            FROM events
        """,
        "q_topk": """
            SELECT o_orderkey, o_custkey, o_totalprice FROM orders
            ORDER BY o_totalprice DESC, o_orderkey LIMIT 10
        """,
        "q_setops": """
            (SELECT c_nationkey FROM customer WHERE c_mktsegment = 'AUTOMOBILE'
             INTERSECT
             SELECT c_nationkey FROM customer WHERE c_mktsegment = 'BUILDING')
            UNION ALL
            SELECT DISTINCT c_nationkey FROM (
               SELECT c_nationkey FROM customer WHERE c_mktsegment = 'AUTOMOBILE'
               EXCEPT ALL
               SELECT c_nationkey FROM customer WHERE c_mktsegment = 'BUILDING')
        """,
        "q_distinct": "SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem",
        "q_explode": """
            SELECT word, count(*) AS n FROM (
                SELECT unnest(string_split(p_name, ' ')) AS word FROM part)
            GROUP BY word
        """,
        "q_string_fns": """
            SELECT p_partkey,
                   upper(substr(p_name, 1, 5)) AS head5,
                   CAST(len(p_name) AS INT) AS name_len,
                   regexp_extract(p_name, '([a-z]+)', 1) AS first_word,
                   concat_ws('|', p_brand, p_type) AS brand_type
            FROM part
        """,
        "q_date_fns": """
            SELECT epoch_us(CAST(date_trunc('month', o_orderdate) AS TIMESTAMP))
                       AS month_us,
                   count(*) AS n_orders,
                   round(sum(o_totalprice), 2) AS total
            FROM orders GROUP BY 1
        """,
        "q_case_agg": """
            SELECT o_orderpriority,
                   CAST(sum(CASE WHEN o_totalprice > 200000.0 THEN 1 ELSE 0 END) AS BIGINT) AS n_big,
                   CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS n_filled,
                   count(*) AS n
            FROM orders GROUP BY o_orderpriority
        """,
        # ---- spatial ----
        "q_bbox_filter": f"""
            {pts}
            SELECT doc_id, lat, lon FROM pts
            WHERE lat >= 0.0005 AND lat <= 40.0005 AND lon >= -50.0005 AND lon <= 50.0005
        """,
        "q_pip_join": f"{pts} {SQL_PIP}",
        "q_pip_shuffle": f"{pts} {SQL_PIP}",
        "q_pip_rings": f"{pts} {SQL_PIP}",
        "q_stream_pip": f"{pts} {SQL_PIP}",
        "q_rasterize": _ora_rasterize(),
        "q_knn": f"""
            {pts}
            SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank, dist2 FROM (
                SELECT q.doc_id AS query_id, c.doc_id AS neighbor_id,
                       (q.lat - c.lat) * (q.lat - c.lat)
                     + (q.lon - c.lon) * (q.lon - c.lon) AS dist2,
                       row_number() OVER (
                           PARTITION BY q.doc_id
                           ORDER BY (q.lat - c.lat) * (q.lat - c.lat)
                                  + (q.lon - c.lon) * (q.lon - c.lon), c.doc_id) AS rank
                FROM pts q, pts c
                WHERE q.doc_id <= 100 AND q.doc_id != c.doc_id)
            WHERE rank <= 5
        """,
        "q_knn_brute": f"""
            {pts}
            SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank, dist2 FROM (
                SELECT q.doc_id AS query_id, c.doc_id AS neighbor_id,
                       (q.lat - c.lat) * (q.lat - c.lat)
                     + (q.lon - c.lon) * (q.lon - c.lon) AS dist2,
                       row_number() OVER (
                           PARTITION BY q.doc_id
                           ORDER BY (q.lat - c.lat) * (q.lat - c.lat)
                                  + (q.lon - c.lon) * (q.lon - c.lon), c.doc_id) AS rank
                FROM pts q, pts c
                WHERE q.doc_id <= 100 AND q.doc_id != c.doc_id)
            WHERE rank <= 5
        """,
        "q_knn_tworound": f"""
            {pts}
            SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank, dist2 FROM (
                SELECT q.doc_id AS query_id, c.doc_id AS neighbor_id,
                       (q.lat - c.lat) * (q.lat - c.lat)
                     + (q.lon - c.lon) * (q.lon - c.lon) AS dist2,
                       row_number() OVER (
                           PARTITION BY q.doc_id
                           ORDER BY (q.lat - c.lat) * (q.lat - c.lat)
                                  + (q.lon - c.lon) * (q.lon - c.lon), c.doc_id) AS rank
                FROM pts q, pts c
                WHERE q.doc_id != c.doc_id)
            WHERE rank <= 5
        """,
        "q_range_join": f"""
            WITH pts AS ({SQL_POINTS}), st AS ({SQL_STATIONS})
            SELECT doc_id, station_id,
                   (lat - s_lat) * (lat - s_lat) + (lon - s_lon) * (lon - s_lon) AS dist2
            FROM pts, st
            WHERE (lat - s_lat) * (lat - s_lat) + (lon - s_lon) * (lon - s_lon) <= 100.0
        """,
        "q_tile_assign": f"""
            {pts}
            SELECT doc_id,
                   CAST(least(greatest(floor((lon + 180.0) / 360.0 * 256.0), 0), 255) AS BIGINT) AS tile_x,
                   CAST(least(greatest(floor((90.0 - lat) / 180.0 * 256.0), 0), 255) AS BIGINT) AS tile_y
            FROM pts
        """,
        "q_tile_counts": f"""
            {pts}
            SELECT CAST(least(greatest(floor((lon + 180.0) / 360.0 * 256.0), 0), 255) AS BIGINT) AS tile_x,
                   CAST(least(greatest(floor((90.0 - lat) / 180.0 * 256.0), 0), 255) AS BIGINT) AS tile_y,
                   count(*) AS n_docs
            FROM pts GROUP BY 1, 2
        """,
        "q_tile_pyramid": f"""
            {pts}, leaf AS (
                SELECT CAST(least(greatest(floor((lon + 180.0) / 360.0 * 256.0), 0), 255) AS BIGINT) AS tile_x,
                       CAST(least(greatest(floor((90.0 - lat) / 180.0 * 256.0), 0), 255) AS BIGINT) AS tile_y,
                       count(*) AS n_docs
                FROM pts GROUP BY 1, 2)
            SELECT tile_x, tile_y, n_docs, 8 AS tile_z FROM leaf
            UNION ALL
            SELECT CAST(floor(tile_x / 16.0) AS BIGINT) AS tile_x,
                   CAST(floor(tile_y / 16.0) AS BIGINT) AS tile_y,
                   CAST(sum(n_docs) AS BIGINT) AS n_docs, 4 AS tile_z
            FROM leaf GROUP BY 1, 2
        """,
        # ---- training-batch packing + sampling + line tiles ----
        "q_pack_chunks": """
            WITH t AS (SELECT doc_id,
                              CAST(len(string_split(text, ' ')) AS BIGINT) AS toks
                       FROM documents),
            o AS (SELECT doc_id, toks,
                         CAST(COALESCE(SUM(toks) OVER (
                             ORDER BY doc_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                           AS BIGINT) AS strt
                  FROM t),
            e AS (SELECT o.*,
                         unnest(generate_series(strt // 64, (strt + toks - 1) // 64)) AS chunk_id
                  FROM o)
            SELECT chunk_id, doc_id,
                   GREATEST(strt, chunk_id * 64) - strt AS slice_begin,
                   LEAST(strt + toks, chunk_id * 64 + 64)
                     - GREATEST(strt, chunk_id * 64) AS slice_len,
                   GREATEST(strt, chunk_id * 64) - chunk_id * 64 AS pos_in_chunk
            FROM e
        """,
        "q_pack_bins": _ora_pack_bins(),
        "q_sample_stratified": """
            SELECT doc_id, lang, source FROM documents
            WHERE substr(md5(lang || ':' || CAST(doc_id AS VARCHAR)), 1, 8) <
                  CASE lang WHEN 'en' THEN '80000000'
                            WHEN 'de' THEN '40000000'
                            WHEN 'fr' THEN '19999999'
                            ELSE '' END
        """,
        "q_line_tiles": """
            WITH seg AS (
              SELECT event_id,
                     (event_id % 160) - 80 + 0.5 AS lat0,
                     ((event_id * 7) % 350) - 175 + 0.25 AS lon0,
                     ((event_id % 160) - 80 + 0.5)
                       + ((event_id % 7) - 3) * CAST(1.7 AS DOUBLE) AS lat1,
                     (((event_id * 7) % 350) - 175 + 0.25)
                       + ((event_id % 11) - 5) * CAST(2.3 AS DOUBLE) AS lon1
              FROM events),
            sc AS (
              SELECT event_id,
                     (lon0 + 180.0) / 360.0 * 64.0 AS sx0,
                     (90.0 - lat0) / 180.0 * 64.0 AS sy0,
                     (lon1 + 180.0) / 360.0 * 64.0 AS sx1,
                     (90.0 - lat1) / 180.0 * 64.0 AS sy1
              FROM seg),
            b AS (SELECT sc.*, LEAST(sx0, sx1) AS xa, GREATEST(sx0, sx1) AS xb FROM sc),
            xs AS (
              SELECT b.*,
                     unnest(generate_series(CAST(GREATEST(FLOOR(xa), 0) AS BIGINT),
                                            CAST(LEAST(FLOOR(xb), 63) AS BIGINT))) AS tile_x
              FROM b WHERE GREATEST(FLOOR(xa), 0) <= LEAST(FLOOR(xb), 63)),
            yr AS (
              SELECT xs.*,
                     GREATEST(CAST(tile_x AS DOUBLE), xa) AS cl,
                     LEAST(CAST(tile_x AS DOUBLE) + 1.0, xb) AS cr
              FROM xs),
            yy AS (
              SELECT yr.*,
                CASE WHEN sx1 = sx0 THEN LEAST(sy0, sy1)
                     ELSE LEAST(sy0 + (cl - sx0) / (sx1 - sx0) * (sy1 - sy0),
                                sy0 + (cr - sx0) / (sx1 - sx0) * (sy1 - sy0)) END AS ymin,
                CASE WHEN sx1 = sx0 THEN GREATEST(sy0, sy1)
                     ELSE GREATEST(sy0 + (cl - sx0) / (sx1 - sx0) * (sy1 - sy0),
                                   sy0 + (cr - sx0) / (sx1 - sx0) * (sy1 - sy0)) END AS ymax
              FROM yr),
            ts AS (
              SELECT event_id, tile_x,
                     unnest(generate_series(CAST(GREATEST(FLOOR(ymin), 0) AS BIGINT),
                                            CAST(LEAST(FLOOR(ymax), 63) AS BIGINT))) AS tile_y
              FROM yy WHERE GREATEST(FLOOR(ymin), 0) <= LEAST(FLOOR(ymax), 63))
            SELECT CAST(6 AS INTEGER) AS tile_z, tile_x, tile_y,
                   COUNT(*) AS n_segs
            FROM ts GROUP BY tile_x, tile_y
        """,
        "q_kmeans": _ora_kmeans(),
        "q_line_clip": """
            WITH seg AS (
              SELECT event_id,
                     (event_id % 160) - 80 + 0.5 AS lat0,
                     ((event_id * 7) % 350) - 175 + 0.25 AS lon0,
                     ((event_id % 160) - 80 + 0.5)
                       + ((event_id % 7) - 3) * CAST(1.7 AS DOUBLE) AS lat1,
                     (((event_id * 7) % 350) - 175 + 0.25)
                       + ((event_id % 11) - 5) * CAST(2.3 AS DOUBLE) AS lon1
              FROM events WHERE event_id < 2500),
            sc AS (
              SELECT event_id,
                     (lon0 + 180.0) / 360.0 * 64.0 AS sx0,
                     (90.0 - lat0) / 180.0 * 64.0 AS sy0,
                     (lon1 + 180.0) / 360.0 * 64.0 AS sx1,
                     (90.0 - lat1) / 180.0 * 64.0 AS sy1
              FROM seg),
            b AS (SELECT sc.*, LEAST(sx0, sx1) AS xa, GREATEST(sx0, sx1) AS xb FROM sc),
            xs AS (
              SELECT b.*,
                     unnest(generate_series(CAST(GREATEST(FLOOR(xa), 0) AS BIGINT),
                                            CAST(LEAST(FLOOR(xb), 63) AS BIGINT))) AS tile_x
              FROM b WHERE GREATEST(FLOOR(xa), 0) <= LEAST(FLOOR(xb), 63)),
            yr AS (
              SELECT xs.*,
                     GREATEST(CAST(tile_x AS DOUBLE), xa) AS cl,
                     LEAST(CAST(tile_x AS DOUBLE) + 1.0, xb) AS cr
              FROM xs),
            yy AS (
              SELECT yr.*,
                CASE WHEN sx1 = sx0 THEN LEAST(sy0, sy1)
                     ELSE LEAST(sy0 + (cl - sx0) / (sx1 - sx0) * (sy1 - sy0),
                                sy0 + (cr - sx0) / (sx1 - sx0) * (sy1 - sy0)) END AS ymin,
                CASE WHEN sx1 = sx0 THEN GREATEST(sy0, sy1)
                     ELSE GREATEST(sy0 + (cl - sx0) / (sx1 - sx0) * (sy1 - sy0),
                                   sy0 + (cr - sx0) / (sx1 - sx0) * (sy1 - sy0)) END AS ymax
              FROM yr),
            ts AS (
              SELECT event_id, sx0, sy0, sx1, sy1, tile_x,
                     unnest(generate_series(CAST(GREATEST(FLOOR(ymin), 0) AS BIGINT),
                                            CAST(LEAST(FLOOR(ymax), 63) AS BIGINT))) AS tile_y
              FROM yy WHERE GREATEST(FLOOR(ymin), 0) <= LEAST(FLOOR(ymax), 63)),
            tp AS (
              SELECT ts.*,
                CASE WHEN (sx1 - sx0) <> 0.0
                     THEN LEAST((CAST(tile_x AS DOUBLE) - sx0) / (sx1 - sx0),
                                (CAST(tile_x AS DOUBLE) + 1.0 - sx0) / (sx1 - sx0))
                     ELSE 0.0 END AS txa,
                CASE WHEN (sx1 - sx0) <> 0.0
                     THEN GREATEST((CAST(tile_x AS DOUBLE) - sx0) / (sx1 - sx0),
                                   (CAST(tile_x AS DOUBLE) + 1.0 - sx0) / (sx1 - sx0))
                     ELSE 1.0 END AS txb,
                CASE WHEN (sy1 - sy0) <> 0.0
                     THEN LEAST((CAST(tile_y AS DOUBLE) - sy0) / (sy1 - sy0),
                                (CAST(tile_y AS DOUBLE) + 1.0 - sy0) / (sy1 - sy0))
                     ELSE 0.0 END AS tya,
                CASE WHEN (sy1 - sy0) <> 0.0
                     THEN GREATEST((CAST(tile_y AS DOUBLE) - sy0) / (sy1 - sy0),
                                   (CAST(tile_y AS DOUBLE) + 1.0 - sy0) / (sy1 - sy0))
                     ELSE 1.0 END AS tyb
              FROM ts),
            tw AS (SELECT tp.*, GREATEST(0.0, txa, tya) AS t0 FROM tp),
            tv AS (SELECT tw.*, GREATEST(t0, LEAST(1.0, txb, tyb)) AS t1 FROM tw)
            SELECT event_id, CAST(6 AS INTEGER) AS tile_z, tile_x, tile_y,
                   t0, t1,
                   sx0 + (sx1 - sx0) * t0 AS cx0,
                   sy0 + (sy1 - sy0) * t0 AS cy0,
                   sx0 + (sx1 - sx0) * t1 AS cx1,
                   sy0 + (sy1 - sy0) * t1 AS cy1
            FROM tv
        """,
        "q_line_measures": """
            WITH pts AS (
              SELECT event_id % 64 AS line_id, event_id,
                     (event_id % 160) - 80 + 0.5 AS lat,
                     ((event_id * 7) % 350) - 175 + 0.25 AS lon
              FROM events),
            seg AS (
              SELECT line_id, lat AS lat0, lon AS lon0,
                     LEAD(lat) OVER (PARTITION BY line_id ORDER BY event_id) AS lat1,
                     LEAD(lon) OVER (PARTITION BY line_id ORDER BY event_id) AS lon1
              FROM pts),
            hav AS (
              SELECT seg.*,
                     SIN(((lat1 - lat0) * 0.017453292519943295) / 2.0) AS sdlat,
                     SIN(((lon1 - lon0) * 0.017453292519943295) / 2.0) AS sdlon
              FROM seg WHERE lat1 IS NOT NULL),
            m AS (
              SELECT line_id,
                CAST(ROUND((12742017.6 * ASIN(SQRT(LEAST(GREATEST(
                    sdlat * sdlat
                    + COS(lat0 * 0.017453292519943295)
                      * COS(lat1 * 0.017453292519943295) * (sdlon * sdlon)
                  , 0.0), 1.0)))) * 1000.0) AS BIGINT) AS len_mm,
                CAST(ROUND((lon0 * lat1 - lon1 * lat0) * 1e8) AS BIGINT) AS cross2_u,
                CAST(ROUND((lat0 + lat1) / 2.0 * 1e7) AS BIGINT) AS mid_lat_u,
                CAST(ROUND((lon0 + lon1) / 2.0 * 1e7) AS BIGINT) AS mid_lon_u
              FROM hav)
            SELECT line_id, COUNT(*) AS n_segs,
                   CAST(ROUND(SUM(len_mm) / 1000.0) AS BIGINT) AS len_m,
                   CAST(SUM(cross2_u) AS BIGINT) AS cross2_u,
                   CAST(SUM(mid_lat_u) AS BIGINT) AS mid_lat_u,
                   CAST(SUM(mid_lon_u) AS BIGINT) AS mid_lon_u
            FROM m GROUP BY line_id
        """,
        "q_simplify": _ora_simplify(),
        # independent algorithm: DuckDB's native ASOF JOIN (sorted
        # merge) vs the engine's union+window carry-forward plan
        "q_asof_join": """
            WITH l AS (SELECT event_id, user_id, ts, value
                       FROM events WHERE event_type = 'click'),
                 r AS (SELECT user_id, ts, value AS r_value, ts AS r_ts
                       FROM events WHERE event_type = 'purchase')
            SELECT l.event_id, l.user_id, epoch_us(l.ts) AS ts_us, l.value,
                   r.r_value, epoch_us(r.r_ts) AS r_ts_us
            FROM l ASOF LEFT JOIN r
              ON l.user_id = r.user_id AND l.ts >= r.ts
        """,
        "q_sessionize": """
            WITH o AS (
              SELECT user_id, ts,
                     CASE WHEN LAG(ts) OVER w IS NULL
                          OR epoch_us(ts) - epoch_us(LAG(ts) OVER w) > 21600000000
                          THEN 1 ELSE 0 END AS nw
              FROM events
              WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
            s AS (
              SELECT user_id, ts,
                     CAST(SUM(nw) OVER (PARTITION BY user_id ORDER BY ts)
                          AS BIGINT) AS session_seq
              FROM o)
            SELECT user_id, session_seq, COUNT(*) AS n_events,
                   epoch_us(MIN(ts)) AS start_us, epoch_us(MAX(ts)) AS end_us,
                   (epoch_us(MAX(ts)) - epoch_us(MIN(ts))) / 1000000.0 AS duration_s
            FROM s GROUP BY user_id, session_seq
        """,
        # ---- text / dedup ----
        "q_exact_dedup": """
            WITH unioned AS (
                SELECT doc_id, text FROM documents
                UNION ALL SELECT doc_id + 1000000, text FROM documents)
            SELECT md5(text) AS fp, min(doc_id) AS keep_id, count(*) AS n_copies
            FROM unioned GROUP BY md5(text)
        """,
        # independent formulation: ONE global window over the hash
        # order vs the engine's two-pass bucketed prefix sum
        "q_token_budget": """
            WITH t AS (
                SELECT doc_id,
                       CAST(len(string_split(text, ' ')) AS BIGINT) AS doc_tokens,
                       substr(md5(':' || CAST(doc_id AS VARCHAR)), 1, 8) AS k
                FROM documents),
            c AS (
                SELECT doc_id, doc_tokens,
                       CAST(coalesce(sum(doc_tokens)
                            OVER (ORDER BY k, doc_id
                                  ROWS BETWEEN UNBOUNDED PRECEDING
                                  AND 1 PRECEDING), 0) AS BIGINT) AS cum_before
                FROM t)
            SELECT doc_id, doc_tokens, cum_before
            FROM c WHERE cum_before < 10000
        """,
        "q_token_stats": """
            SELECT doc_id, CAST(len(string_split(text, ' ')) AS INT) AS n_tokens,
                   CAST(len(text) AS INT) AS n_chars_computed
            FROM documents
        """,
        "q_quality": """
            SELECT doc_id,
              0.4 * least(1.0, len(text) / 500.0)
            + 0.3 * least(1.0, ((len(text) - len(replace(text, ' the ', ''))) / 5
                              + (len(text) - len(replace(text, ' and ', ''))) / 5
                              + (len(text) - len(replace(text, ' of ', ''))) / 4) * 10.0
                              / len(string_split(text, ' ')))
            + 0.3 * (1.0 - least(1.0, ((len(text) - len(replace(text, '.', '')))
                                     + (len(text) - len(replace(text, ',', '')))
                                     + (len(text) - len(replace(text, '!', '')))
                                     + (len(text) - len(replace(text, '?', '')))) * 5.0
                                     / len(string_split(text, ' ')))) AS quality
            FROM documents
        """,
        "q_lang_id": """
            WITH s AS (
              SELECT doc_id, lang,
                (len(text) - len(replace(text, ' the ', ''))) / 5
              + (len(text) - len(replace(text, ' and ', ''))) / 5
              + (len(text) - len(replace(text, ' of ', ''))) / 4 AS s_en,
                (len(text) - len(replace(text, ' le ', ''))) / 4
              + (len(text) - len(replace(text, ' la ', ''))) / 4
              + (len(text) - len(replace(text, ' et ', ''))) / 4 AS s_fr,
                (len(text) - len(replace(text, ' der ', ''))) / 5
              + (len(text) - len(replace(text, ' die ', ''))) / 5
              + (len(text) - len(replace(text, ' und ', ''))) / 5 AS s_de,
                (len(text) - len(replace(text, ' el ', ''))) / 4
              + (len(text) - len(replace(text, ' los ', ''))) / 5
              + (len(text) - len(replace(text, ' y ', ''))) / 3 AS s_es
              FROM documents)
            SELECT doc_id, lang,
                   CASE WHEN s_en >= s_fr AND s_en >= s_de AND s_en >= s_es THEN 'en'
                        WHEN s_fr >= s_de AND s_fr >= s_es THEN 'fr'
                        WHEN s_de >= s_es THEN 'de'
                        ELSE 'es' END AS lang_pred
            FROM s
        """,
        "q_fingerprint": "SELECT doc_id, md5(text) AS fp FROM documents",
        "q_doc_stats": """
            SELECT lang, source, count(*) AS n_docs,
                   CAST(sum(n_chars) AS BIGINT) AS chars_total,
                   min(doc_id) AS min_id, max(doc_id) AS max_id
            FROM documents GROUP BY lang, source
        """,
        "q_ngram_jaccard": """
            WITH grams AS (
              SELECT doc_id AS id,
                     unnest(list_distinct([substr(text, CAST(i AS INT), 3)
                                           for i in generate_series(1, len(text) - 2)])) AS gram
              FROM documents WHERE doc_id < 150),
            sizes AS (SELECT id, count(*) AS n_grams FROM grams GROUP BY id),
            pairs AS (
              SELECT g1.id AS id_a, g2.id AS id_b, count(*) AS inter
              FROM grams g1 JOIN grams g2 ON g1.gram = g2.gram AND g1.id < g2.id
              GROUP BY g1.id, g2.id)
            SELECT id_a, id_b,
                   inter / (sa.n_grams + sb.n_grams - inter) AS jaccard
            FROM pairs JOIN sizes sa ON sa.id = id_a JOIN sizes sb ON sb.id = id_b
            WHERE inter / (sa.n_grams + sb.n_grams - inter) >= 0.5
        """,
        # ---- embeddings ----
        "q_emb_norm": f"""
            SELECT vec_id, {_dot_sql('embedding', 'embedding')} AS norm2 FROM embeddings
        """,
        "q_cosine_topk": f"""
            SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank, cos FROM (
                SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                       {_dot_sql('q.embedding', 'c.embedding')}
                       / sqrt({_dot_sql('q.embedding', 'q.embedding')}
                            * {_dot_sql('c.embedding', 'c.embedding')}) AS cos,
                       row_number() OVER (
                           PARTITION BY q.vec_id
                           ORDER BY {_dot_sql('q.embedding', 'c.embedding')}
                                  / sqrt({_dot_sql('q.embedding', 'q.embedding')}
                                       * {_dot_sql('c.embedding', 'c.embedding')}) DESC,
                                    c.vec_id) AS rank
                FROM embeddings q, embeddings c
                WHERE q.vec_id < 50 AND q.vec_id != c.vec_id)
            WHERE rank <= 3
        """,
        "q_near_dup_cosine": f"""
            WITH unioned AS (
                SELECT vec_id, embedding FROM embeddings WHERE vec_id < 200
                UNION ALL
                SELECT vec_id + 1000000, embedding FROM embeddings WHERE vec_id < 200)
            SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                   {_dot_sql('a.embedding', 'b.embedding')}
                   / sqrt({_dot_sql('a.embedding', 'a.embedding')}
                        * {_dot_sql('b.embedding', 'b.embedding')}) AS cos
            FROM unioned a, unioned b
            WHERE a.vec_id < b.vec_id
              AND {_dot_sql('a.embedding', 'b.embedding')}
                  / sqrt({_dot_sql('a.embedding', 'a.embedding')}
                       * {_dot_sql('b.embedding', 'b.embedding')}) >= 0.9
        """,
        # ---- decode / LSH surface (VALUES-literal + hybrid oracles,
        #      built from the pure-Python spec oracles — see section above) ----
        "q_pbf_decode": _ora_pbf_decode(),
        "q_pbf_raw": _ora_pbf_raw(),
        "q_pbf_header": _ora_pbf_header(),
        "q_sink_roundtrip": _ora_sink_roundtrip(),
        # rollback restores the PURE-ingest state: same oracle
        "q_sink_rollback": _ora_sink_roundtrip(),
        "q_sink_tag": _ora_sink_roundtrip(),
        "q_sink_vacuum": _ora_sink_roundtrip(),
        # full-stage replay: quality/lang marker arithmetic + the
        # first-occurrence dedup window + per-source rollup
        "q_c4_pipeline": """
            WITH src AS (SELECT doc_id, source, text FROM documents
                         UNION ALL
                         SELECT doc_id + 100000, source, text
                         FROM documents WHERE doc_id < 60),
            scored AS (
              SELECT doc_id, source, text,
                0.4 * least(1.0, len(text) / 500.0)
              + 0.3 * least(1.0,
                    ((len(text) - len(replace(text, ' the ', ''))) / 5
                   + (len(text) - len(replace(text, ' and ', ''))) / 5
                   + (len(text) - len(replace(text, ' of ', ''))) / 4)
                    * 10.0 / len(string_split(text, ' ')))
              + 0.3 * (1.0 - least(1.0,
                    ((len(text) - len(replace(text, '.', '')))
                   + (len(text) - len(replace(text, ',', '')))
                   + (len(text) - len(replace(text, '!', '')))
                   + (len(text) - len(replace(text, '?', '')))) * 5.0
                    / len(string_split(text, ' ')))) AS q,
                (len(text) - len(replace(text, ' the ', ''))) / 5
              + (len(text) - len(replace(text, ' and ', ''))) / 5
              + (len(text) - len(replace(text, ' of ', ''))) / 4 AS s_en,
                (len(text) - len(replace(text, ' le ', ''))) / 4
              + (len(text) - len(replace(text, ' la ', ''))) / 4
              + (len(text) - len(replace(text, ' et ', ''))) / 4 AS s_fr,
                (len(text) - len(replace(text, ' der ', ''))) / 5
              + (len(text) - len(replace(text, ' die ', ''))) / 5
              + (len(text) - len(replace(text, ' und ', ''))) / 5 AS s_de,
                (len(text) - len(replace(text, ' el ', ''))) / 4
              + (len(text) - len(replace(text, ' los ', ''))) / 5
              + (len(text) - len(replace(text, ' y ', ''))) / 3 AS s_es
              FROM src),
            filt AS (SELECT doc_id, source, text FROM scored
                     WHERE q >= 0.55
                       AND s_en >= s_fr AND s_en >= s_de
                       AND s_en >= s_es),
            keep AS (SELECT doc_id, source,
                            row_number() OVER (PARTITION BY md5(text)
                                               ORDER BY doc_id) AS rn
                     FROM filt),
            kept AS (SELECT source, count(*) AS n_kept,
                            min(doc_id) AS first_kept
                     FROM keep WHERE rn = 1 GROUP BY source),
            nin AS (SELECT source, count(*) AS n_in
                    FROM src GROUP BY source),
            nf AS (SELECT source, count(*) AS n_filtered
                   FROM filt GROUP BY source)
            SELECT nin.source, nin.n_in,
                   CAST(coalesce(nf.n_filtered, 0) AS BIGINT) AS n_filtered,
                   CAST(coalesce(kept.n_kept, 0) AS BIGINT) AS n_kept,
                   kept.first_kept
            FROM nin LEFT JOIN nf ON nf.source = nin.source
                     LEFT JOIN kept ON kept.source = nin.source
        """,
        # symmetric-degree Pearson replay (exact moment chain)
        "q_assortativity": """
            WITH raw AS (SELECT event_id % 180 AS a,
                                (event_id * 31 + 7) % 180 AS b
                         FROM events WHERE event_id < 900
                         UNION ALL
                         SELECT event_id % 180, 7
                         FROM events WHERE event_id < 90),
            e0 AS (SELECT a, b FROM raw WHERE a <> b),
            sym AS (SELECT DISTINCT a, b FROM
                    (SELECT a, b FROM e0 UNION ALL SELECT b, a FROM e0)),
            deg AS (SELECT a, count(*) AS d FROM sym GROUP BY a),
            j AS (SELECT da.d AS x, db.d AS y
                  FROM sym JOIN deg da ON da.a = sym.a
                           JOIN deg db ON db.a = sym.b),
            m AS (SELECT count(*) AS n,
                         CAST(sum(x) AS BIGINT) AS sx,
                         CAST(sum(x * x) AS BIGINT) AS sxx,
                         CAST(sum(y) AS BIGINT) AS sy,
                         CAST(sum(y * y) AS BIGINT) AS syy,
                         CAST(sum(x * y) AS BIGINT) AS sxy
                  FROM j)
            SELECT n,
                   CAST(n * sxy - sx * sy AS DOUBLE)
                   / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
                      * sqrt(CAST(n * syy - sy * sy AS DOUBLE))) AS corr
            FROM m
        """,
        # od-matrix recursion + exact 2^40 DIV d harmonic fold
        "q_closeness": """
            WITH RECURSIVE e AS (
                SELECT event_id % 120 AS src,
                       (event_id * 13 + 7) % 120 AS dst,
                       event_id % 19 + 1 AS w
                FROM events WHERE event_id < 400),
            sym0 AS (SELECT src AS u, dst AS v, w FROM e WHERE src <> dst
                     UNION ALL SELECT dst, src, w FROM e WHERE src <> dst),
            sym AS (SELECT u, v, min(w) AS w FROM sym0 GROUP BY u, v),
            srcs(origin) AS (VALUES (0), (3), (7), (11), (19), (23)),
            walk(origin, node, d, hops) AS (
                SELECT origin, origin, CAST(0 AS BIGINT), 0 FROM srcs
                UNION
                SELECT w.origin, s.v, w.d + s.w, w.hops + 1
                FROM walk w JOIN sym s ON s.u = w.node WHERE w.hops < 12),
            dmin AS (SELECT origin, node, min(d) AS dist
                     FROM walk GROUP BY 1, 2),
            pos AS (SELECT node, dist FROM dmin WHERE dist > 0)
            SELECT CAST(node AS BIGINT) AS node, count(*) AS n_reached,
                   CAST(sum(1099511627776 // dist) AS BIGINT) AS harm_u,
                   CAST(CAST(sum(1099511627776 // dist) AS BIGINT)
                        AS DOUBLE) / 1099511627776.0 AS harm
            FROM pos GROUP BY node
        """,
        # two-stage replay: spiked q_seasonal chain -> quantized
        # residual -> distinct-value lower-median / MAD windows
        "q_anomaly": """
            WITH s AS (
              SELECT event_type AS key,
                     CAST(row_number() OVER (PARTITION BY event_type
                                             ORDER BY ts, event_id) - 1
                          AS BIGINT) AS seq,
                     CAST(floor((value
                                 + CASE WHEN event_id % 977 = 0
                                        THEN CAST(5000 AS DOUBLE)
                                        ELSE CAST(0 AS DOUBLE) END)
                                * CAST(100 AS DOUBLE) + 0.5)
                          AS BIGINT) AS q
              FROM events),
            off AS (SELECT * FROM (VALUES (-3),(-2),(-1),(0),(1),(2),(3))
                    t(o)),
            win AS (SELECT a.key, a.seq, a.q,
                           count(*) AS cnt,
                           CAST(sum(b.q) AS BIGINT) AS sm
                    FROM s a JOIN off ON true
                    JOIN s b ON b.key = a.key AND b.seq = a.seq + off.o
                    GROUP BY a.key, a.seq, a.q),
            r AS (SELECT key, seq, seq % 7 AS phase, q,
                         CASE WHEN cnt = 7
                              THEN CAST(2 * sm AS BIGINT) END AS trend2p,
                         CASE WHEN cnt = 7
                              THEN CAST(14 * q - 2 * sm AS BIGINT) END
                             AS detr2p
                  FROM win),
            se AS (SELECT key, phase,
                          CAST(sum(detr2p) AS BIGINT) AS s_num,
                          count(detr2p) AS s_cnt
                   FROM r GROUP BY 1, 2),
            resid AS (SELECT r.key, r.seq,
                             (CAST(r.q AS DOUBLE)
                              - CAST(r.trend2p AS DOUBLE)
                                / CAST(14 AS DOUBLE))
                             - CAST(se.s_num AS DOUBLE)
                               / CAST(se.s_cnt * 14 AS DOUBLE) AS residual
                      FROM r JOIN se ON se.key = r.key
                                    AND se.phase = r.phase
                      WHERE r.trend2p IS NOT NULL),
            rq AS (SELECT key, seq,
                          CAST(floor(residual * CAST(100 AS DOUBLE) + 0.5)
                               AS BIGINT) AS x
                   FROM resid),
            pv AS (SELECT key, x AS v, count(*) AS c
                   FROM rq GROUP BY 1, 2),
            cum AS (SELECT key, v,
                           CAST(sum(c) OVER (PARTITION BY key ORDER BY v)
                                AS BIGINT) AS cm,
                           CAST(sum(c) OVER (PARTITION BY key)
                                AS BIGINT) AS nn
                    FROM pv),
            med AS (SELECT key, min(v) AS med FROM cum
                    WHERE cm >= (nn + 1) // 2 GROUP BY key),
            dev AS (SELECT rq.key, rq.seq, rq.x, med.med,
                           abs(rq.x - med.med) AS ad
                    FROM rq JOIN med USING (key)),
            pv2 AS (SELECT key, ad AS v, count(*) AS c
                    FROM dev GROUP BY 1, 2),
            cum2 AS (SELECT key, v,
                            CAST(sum(c) OVER (PARTITION BY key ORDER BY v)
                                 AS BIGINT) AS cm,
                            CAST(sum(c) OVER (PARTITION BY key)
                                 AS BIGINT) AS nn
                     FROM pv2),
            mad AS (SELECT key, min(v) AS mad FROM cum2
                    WHERE cm >= (nn + 1) // 2 GROUP BY key)
            SELECT dev.key, dev.seq, dev.x, dev.med, mad.mad,
                   CASE WHEN mad.mad > 0
                        THEN CAST(dev.x - dev.med AS DOUBLE)
                             / CAST(mad.mad AS DOUBLE) END AS robust_z
            FROM dev JOIN mad USING (key)
            WHERE CAST(dev.ad AS DOUBLE)
                  >= CAST(8 AS DOUBLE) * CAST(mad.mad AS DOUBLE)
        """,
        "q_sink_compact": _ora_sink_compact(),
        "q_sink_incremental": _ora_sink_incremental(),
        "q_sink_delete": _ora_sink_delete(),
        "q_sink_upsert": _ora_sink_upsert(),
        "q_pbf_meta": _ora_pbf_meta(),
        "q_pbf_granularity": _ora_pbf_granularity(),
        "q_way_assembly": _ora_way_assembly(),
        "q_way_measures": _ora_way_measures(),
        "q_doc_render": _ora_doc_render(),
        "q_doc_spans": _ora_doc_spans(),
        "q_way_pip": _ora_way_pip(),
        "q_rel_pip": _ora_rel_pip(),
        # distributed stitching replay: same independent chainer over
        # the 120-relation fixture, probe nodes only (id % 1000 >= 50)
        "q_rel_rings": _ora_rel_pip(
            "rel_many", probe_filter=lambda i: i % 1000 >= 50
        ),
        "q_media_features": _ora_media_features(),
        "q_frame_sample": _ora_frame_sample(),
        "q_minhash_pairs": _ora_minhash_pairs(),
        "q_minhash_join": _ora_minhash_join(),
        "q_validate_spans": _ora_validate_spans(),
        "q_pbf_multi": _ora_pbf_multi(),
        "q_dedup_groups": _ora_dedup_groups(),
        "q_distance_join": f"""
            {pts}
            SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                   (a.lat - b.lat) * (a.lat - b.lat)
                 + (a.lon - b.lon) * (a.lon - b.lon) AS dist
            FROM pts a, pts b
            WHERE a.doc_id < b.doc_id
              AND (a.lat - b.lat) * (a.lat - b.lat)
                + (a.lon - b.lon) * (a.lon - b.lon) <= CAST(4.0 AS DOUBLE)
        """,
        "q_connected_components": """
            WITH RECURSIVE e AS (
                SELECT event_id % 400 AS src, (event_id * 17) % 400 AS dst
                FROM events WHERE event_id < 300),
            sym AS (SELECT src AS u, dst AS v FROM e WHERE src <> dst
                    UNION SELECT dst, src FROM e WHERE src <> dst),
            nodes AS (SELECT DISTINCT src AS node FROM e
                      UNION SELECT DISTINCT dst FROM e),
            reach(node, lbl) AS (
                SELECT node, node FROM nodes
                UNION
                SELECT s.u, r.lbl FROM reach r JOIN sym s ON s.v = r.node)
            SELECT CAST(node AS BIGINT) AS node,
                   CAST(min(lbl) AS BIGINT) AS component
            FROM reach GROUP BY node
        """,
        "q_bfs_hops": """
            WITH RECURSIVE e AS (
                SELECT event_id % 300 AS src, (event_id * 13 + 7) % 300 AS dst
                FROM events WHERE event_id < 500),
            sym AS (SELECT src AS u, dst AS v FROM e WHERE src <> dst
                    UNION SELECT dst, src FROM e WHERE src <> dst),
            srcs(node) AS (VALUES (0), (7)),
            walk(node, hops) AS (
                SELECT node, 0 FROM srcs
                UNION
                SELECT s.v, w.hops + 1 FROM walk w JOIN sym s ON s.u = w.node
                WHERE w.hops < 24)
            SELECT CAST(node AS BIGINT) AS node, CAST(min(hops) AS INT) AS hops
            FROM walk GROUP BY node
        """,
        "q_json_extract": """
            SELECT event_type, count(*) AS n,
                   CAST(sum(CAST(json_extract(props, '$.k') AS BIGINT))
                        AS BIGINT) AS k_sum,
                   min(CAST(json_extract(props, '$.k') AS BIGINT)) AS k_min,
                   max(CAST(json_extract(props, '$.k') AS BIGINT)) AS k_max
            FROM events WHERE event_id < 3000 GROUP BY event_type
        """,
        "q_regex_extract": """
            SELECT doc_id,
                   regexp_extract(text, '([a-z]+ing)', 1) AS first_ing,
                   CAST(len(string_split_regex(text, '[.!?]')) AS INT) AS n_sentences
            FROM documents WHERE doc_id < 300
        """,
        "q_sssp": """
            WITH RECURSIVE e AS (
                SELECT event_id % 120 AS src, (event_id * 13 + 7) % 120 AS dst,
                       event_id % 19 + 1 AS w
                FROM events WHERE event_id < 400),
            sym0 AS (SELECT src AS u, dst AS v, w FROM e WHERE src <> dst
                     UNION ALL SELECT dst, src, w FROM e WHERE src <> dst),
            sym AS (SELECT u, v, min(w) AS w FROM sym0 GROUP BY u, v),
            srcs(node) AS (VALUES (0), (3)),
            walk(node, d, hops) AS (
                SELECT node, CAST(0 AS BIGINT), 0 FROM srcs
                UNION
                SELECT s.v, w.d + s.w, w.hops + 1
                FROM walk w JOIN sym s ON s.u = w.node WHERE w.hops < 12)
            SELECT CAST(node AS BIGINT) AS node, CAST(min(d) AS BIGINT) AS dist
            FROM walk GROUP BY node
        """,
        # per-origin recursion: the walk carries the origin label, so
        # DuckDB recomputes each source's distances independently
        "q_od_matrix": """
            WITH RECURSIVE e AS (
                SELECT event_id % 120 AS src, (event_id * 13 + 7) % 120 AS dst,
                       event_id % 19 + 1 AS w
                FROM events WHERE event_id < 400),
            sym0 AS (SELECT src AS u, dst AS v, w FROM e WHERE src <> dst
                     UNION ALL SELECT dst, src, w FROM e WHERE src <> dst),
            sym AS (SELECT u, v, min(w) AS w FROM sym0 GROUP BY u, v),
            srcs(origin) AS (VALUES (0), (3), (7)),
            walk(origin, node, d, hops) AS (
                SELECT origin, origin, CAST(0 AS BIGINT), 0 FROM srcs
                UNION
                SELECT w.origin, s.v, w.d + s.w, w.hops + 1
                FROM walk w JOIN sym s ON s.u = w.node WHERE w.hops < 12)
            SELECT CAST(origin AS BIGINT) AS origin, CAST(node AS BIGINT) AS node,
                   CAST(min(d) AS BIGINT) AS dist
            FROM walk GROUP BY origin, node
        """,
        "q_bbox_join": """
            WITH boxes AS (
                SELECT c_custkey AS id,
                       CAST(-60.0 + ((c_custkey * 7919) % 120000) / 1000.0 AS DOUBLE) AS lat_min,
                       CAST(-60.0 + ((c_custkey * 7919) % 120000) / 1000.0 AS DOUBLE)
                         + CAST(1.140625 AS DOUBLE)
                         + CAST(c_custkey % 8 AS DOUBLE) * CAST(0.5 AS DOUBLE) AS lat_max,
                       CAST(-150.0 + ((c_custkey * 104729) % 300000) / 1000.0 AS DOUBLE) AS lon_min,
                       CAST(-150.0 + ((c_custkey * 104729) % 300000) / 1000.0 AS DOUBLE)
                         + CAST(1.140625 AS DOUBLE)
                         + CAST((c_custkey * 3) % 8 AS DOUBLE) * CAST(0.5 AS DOUBLE) AS lon_max
                FROM customer WHERE c_custkey <= 600)
            SELECT a.id AS id_a, b.id AS id_b
            FROM boxes a, boxes b
            WHERE a.id < b.id
              AND a.lat_min <= b.lat_max AND b.lat_min <= a.lat_max
              AND a.lon_min <= b.lon_max AND b.lon_min <= a.lon_max
        """,
        "q_span_resolve": _ora_span_resolve(),
        "q_tile_encode": _ora_tile_encode(),
        "q_geohash": _ora_geohash(),
        "q_convex_hull": _ora_convex_hull(),
        "q_map_match": _ora_map_match(),
        "q_stay_points": _ora_stay_points(),
        "q_pca": _ora_pca(),
        "q_grid_smooth": f"""
            {pts},
            q AS (
                SELECT least(greatest(CAST(floor((lon + CAST(180.0 AS DOUBLE))
                             / CAST(360.0 AS DOUBLE) * CAST(128.0 AS DOUBLE)) AS BIGINT),
                             0), 127) AS x,
                       least(greatest(CAST(floor((lat + CAST(90.0 AS DOUBLE))
                             / CAST(180.0 AS DOUBLE) * CAST(128.0 AS DOUBLE)) AS BIGINT),
                             0), 127) AS y
                FROM pts),
            counts AS (SELECT x, y, count(*) AS n FROM q GROUP BY x, y),
            d(dx, dy) AS (VALUES (-1,-1),(0,-1),(1,-1),(-1,0),(0,0),(1,0),(-1,1),(0,1),(1,1)),
            scatter AS (SELECT x + dx AS x, y + dy AS y, n FROM counts, d)
            SELECT x, y, CAST(sum(n) AS BIGINT) AS n_box
            FROM scatter
            WHERE x BETWEEN 0 AND 127 AND y BETWEEN 0 AND 127
            GROUP BY x, y
        """,
        # composed pipeline oracle: DuckDB runs its OWN recursion for
        # the distances, then the same VALUES case-table contour
        "q_isochrone": """
            WITH RECURSIVE ids AS (SELECT range AS id FROM range(80)),
            e AS (
                SELECT id AS src, id + 1 AS dst, 10 + id % 7 AS w
                FROM ids WHERE id % 8 < 7
                UNION ALL
                SELECT id, id + 8, 25 + id % 9 FROM ids WHERE id // 8 < 9),
            sym0 AS (SELECT src AS u, dst AS v, w FROM e
                     UNION ALL SELECT dst, src, w FROM e),
            sym AS (SELECT u, v, min(w) AS w FROM sym0 GROUP BY u, v),
            walk(node, d, hops) AS (
                SELECT CAST(35 AS BIGINT), CAST(0 AS BIGINT), 0
                UNION
                SELECT s.v, w.d + s.w, w.hops + 1
                FROM walk w JOIN sym s ON s.u = w.node WHERE w.hops < 16),
            dist AS (SELECT node, min(d) AS dist FROM walk GROUP BY node),
            cnt AS (SELECT node % 8 AS x, node // 8 AS y FROM dist
                    WHERE dist <= 60),
            dd(dx, dy, bit) AS (VALUES (0,0,1),(1,0,2),(1,1,4),(0,1,8)),
            blocks AS (SELECT x - dx AS bx, y - dy AS by,
                              CAST(sum(bit) AS INTEGER) AS ms_case
                       FROM cnt, dd GROUP BY 1, 2),
            segs(ms_case, x0o, y0o, x1o, y1o) AS (VALUES
                (1,0,1,1,0),(2,1,0,2,1),(3,0,1,2,1),(4,1,2,2,1),
                (5,0,1,1,0),(5,1,2,2,1),(6,1,0,1,2),(7,0,1,1,2),
                (8,0,1,1,2),(9,1,0,1,2),(10,1,0,2,1),(10,0,1,1,2),
                (11,1,2,2,1),(12,0,1,2,1),(13,1,0,2,1),(14,0,1,1,0))
            SELECT CAST(bx AS BIGINT) AS bx, CAST(by AS BIGINT) AS by, ms_case,
                   CAST(2*bx + x0o AS BIGINT) AS x0,
                   CAST(2*by + y0o AS BIGINT) AS y0,
                   CAST(2*bx + x1o AS BIGINT) AS x1,
                   CAST(2*by + y1o AS BIGINT) AS y1
            FROM blocks JOIN segs USING (ms_case)
        """,
        # closing = erode(dilate(.)): DISTINCT scatter then exact
        # |disk|-vote count, same disk literal as the engine
        "q_grid_morph": f"""
            {pts},
            g AS (
                SELECT DISTINCT
                       least(greatest(CAST(floor((lon + CAST(180.0 AS DOUBLE))
                             / CAST(360.0 AS DOUBLE) * CAST(128.0 AS DOUBLE)) AS BIGINT),
                             0), 127) AS x,
                       least(greatest(CAST(floor((lat + CAST(90.0 AS DOUBLE))
                             / CAST(180.0 AS DOUBLE) * CAST(128.0 AS DOUBLE)) AS BIGINT),
                             0), 127) AS y
                FROM pts),
            disk(dx, dy) AS (VALUES {_DISK2_VALS}),
            dil AS (SELECT DISTINCT x + dx AS x, y + dy AS y FROM g, disk),
            votes AS (SELECT x - dx AS x, y - dy AS y FROM dil, disk)
            SELECT x, y FROM votes GROUP BY x, y
            HAVING count(*) = {_DISK2_N}
        """,
        # independent formulation: VALUES case table join vs the
        # engine's literal-map Generate; same canonical segment set
        "q_contour": f"""
            {pts},
            q AS (
                SELECT least(greatest(CAST(floor((lon + CAST(180.0 AS DOUBLE))
                             / CAST(360.0 AS DOUBLE) * CAST(128.0 AS DOUBLE)) AS BIGINT),
                             0), 127) AS x,
                       least(greatest(CAST(floor((lat + CAST(90.0 AS DOUBLE))
                             / CAST(180.0 AS DOUBLE) * CAST(128.0 AS DOUBLE)) AS BIGINT),
                             0), 127) AS y
                FROM pts),
            cnt AS (SELECT x, y FROM q GROUP BY x, y HAVING count(*) >= 2),
            d(dx, dy, bit) AS (VALUES (0,0,1),(1,0,2),(1,1,4),(0,1,8)),
            blocks AS (SELECT x - dx AS bx, y - dy AS by,
                              CAST(sum(bit) AS INTEGER) AS ms_case
                       FROM cnt, d GROUP BY 1, 2),
            segs(ms_case, x0o, y0o, x1o, y1o) AS (VALUES
                (1,0,1,1,0),(2,1,0,2,1),(3,0,1,2,1),(4,1,2,2,1),
                (5,0,1,1,0),(5,1,2,2,1),(6,1,0,1,2),(7,0,1,1,2),
                (8,0,1,1,2),(9,1,0,1,2),(10,1,0,2,1),(10,0,1,1,2),
                (11,1,2,2,1),(12,0,1,2,1),(13,1,0,2,1),(14,0,1,1,0))
            SELECT CAST(bx AS BIGINT) AS bx, CAST(by AS BIGINT) AS by, ms_case,
                   CAST(2*bx + x0o AS BIGINT) AS x0,
                   CAST(2*by + y0o AS BIGINT) AS y0,
                   CAST(2*bx + x1o AS BIGINT) AS x1,
                   CAST(2*by + y1o AS BIGINT) AS y1
            FROM blocks JOIN segs USING (ms_case)
        """,
        # independent formulation: integer-division ancestors + CTE
        # joins vs the engine's bit-shift Generate (fx >= 0 so // and
        # shiftright agree)
        "q_adaptive_cells": f"""
            {pts},
            q AS (
                SELECT doc_id,
                       least(greatest(CAST(floor((lon + CAST(180.0 AS DOUBLE))
                             / CAST(360.0 AS DOUBLE) * CAST(256.0 AS DOUBLE)) AS BIGINT),
                             0), 255) AS fx,
                       least(greatest(CAST(floor((lat + CAST(90.0 AS DOUBLE))
                             / CAST(180.0 AS DOUBLE) * CAST(256.0 AS DOUBLE)) AS BIGINT),
                             0), 255) AS fy
                FROM pts),
            counts AS (SELECT fx, fy, count(*) AS n FROM q GROUP BY fx, fy),
            lvls AS (SELECT unnest(generate_series(3, 8)) AS lv),
            anc AS (SELECT fx, fy, n, lv,
                           fx // (1 << (8 - lv)) AS cx,
                           fy // (1 << (8 - lv)) AS cy
                    FROM counts, lvls),
            per AS (SELECT lv, cx, cy, sum(n) AS nl FROM anc GROUP BY 1, 2, 3),
            leaf AS (SELECT fx, fy, min(lv) AS leaf
                     FROM anc JOIN per USING (lv, cx, cy)
                     WHERE nl <= 4 GROUP BY fx, fy),
            asn AS (SELECT c.fx, c.fy, coalesce(leaf, 8) AS level
                    FROM counts c LEFT JOIN leaf USING (fx, fy))
            SELECT q.doc_id, CAST(level AS INTEGER) AS level,
                   CAST(fx // (1 << (8 - level)) AS BIGINT) AS cx,
                   CAST(fy // (1 << (8 - level)) AS BIGINT) AS cy
            FROM q JOIN asn USING (fx, fy)
        """,
        "q_zonal_stats": f"""
            {pts},
            pip AS ({SQL_PIP})
            SELECT poly_id, count(*) AS n_pts,
                   CAST(sum(doc_id % 16) AS DOUBLE) * CAST(0.25 AS DOUBLE) AS val_sum,
                   CAST(sum(doc_id % 16) AS DOUBLE) * CAST(0.25 AS DOUBLE) / count(*) AS val_avg
            FROM pip GROUP BY poly_id
        """,
        "q_track_speed": """
            WITH pos AS (
                SELECT user_id, event_id, epoch_us(ts) AS ts_us,
                       CAST(-60.0 + ((event_id * 7919) % 120000) / 1000.0 AS DOUBLE) AS lat,
                       CAST(-150.0 + ((event_id * 104729) % 300000) / 1000.0 AS DOUBLE) AS lon
                FROM events WHERE event_id < 5000),
            d AS (
                SELECT user_id, event_id,
                       LAG(event_id) OVER w AS prev_event_id,
                       ts_us - LAG(ts_us) OVER w AS dt_us,
                       lat - LAG(lat) OVER w AS _dla,
                       lon - LAG(lon) OVER w AS _dlo
                FROM pos WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id))
            SELECT user_id, event_id, prev_event_id, dt_us,
                   _dla * _dla + _dlo * _dlo AS dist2,
                   (_dla * _dla + _dlo * _dlo) / CAST(dt_us AS DOUBLE) AS speed2
            FROM d WHERE prev_event_id IS NOT NULL
        """,
        "q_pivot": """
            SELECT o_orderpriority,
                   count(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS n_f,
                   count(CASE WHEN o_orderstatus = 'O' THEN 1 END) AS n_o,
                   count(CASE WHEN o_orderstatus = 'P' THEN 1 END) AS n_p
            FROM orders GROUP BY o_orderpriority
        """,
        "q_percentiles": """
            SELECT l_returnflag,
                   quantile_cont(l_quantity, 0.25) AS q25,
                   quantile_cont(l_quantity, 0.5) AS q50,
                   quantile_cont(l_quantity, 0.75) AS q75,
                   count(*) AS n
            FROM lineitem GROUP BY l_returnflag
        """,
        "q_tfidf": """
            WITH docs AS (SELECT doc_id, text FROM documents WHERE doc_id < 100),
            tok AS (
                SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM docs),
            tok2 AS (SELECT * FROM tok WHERE term <> ''),
            tf AS (SELECT doc_id, term, count(*) AS tf FROM tok2 GROUP BY doc_id, term),
            dfq AS (SELECT term, count(DISTINCT doc_id) AS df FROM tok2 GROUP BY term),
            n AS (SELECT count(*) AS n FROM docs)
            SELECT tf.doc_id, tf.term, tf.tf,
                   round(tf.tf * (ln(CAST(n.n + 1 AS DOUBLE) / CAST(dfq.df + 1 AS DOUBLE)) + 1),
                         6) AS tfidf
            FROM tf JOIN dfq USING (term), n
        """,
        "q_simhash_pairs": _ora_simhash_pairs(),
        "q_lsh_topk": _ora_lsh_topk(),
        "q_ivf_topk": _ora_ivf_topk(),
        "q_pq_topk": _ora_pq_topk(),
        "q_bpe_train": _ora_bpe_train(),
        "q_ivfpq": _ora_ivfpq(),
        # all-integer bin/ceil(q*n) arithmetic — `//` matches Spark's
        # div on the non-negative domain the clamp leaves
        "q_hist_quantiles": """
            WITH d AS (SELECT l_returnflag AS g,
                              CAST(floor(l_extendedprice) AS BIGINT) AS v
                       FROM lineitem),
            h AS (SELECT g,
                         greatest(0, least(127, (v * 128) // 120000)) AS b,
                         count(*) AS c
                  FROM d GROUP BY 1, 2),
            cum AS (SELECT g, b,
                           sum(c) OVER (PARTITION BY g ORDER BY b) AS cm,
                           sum(c) OVER (PARTITION BY g) AS n
                    FROM h),
            qs(q_num, q_den) AS (VALUES (1, 2), (9, 10), (99, 100)),
            hit AS (SELECT g, q_num, q_den, min(b) AS hist_bin
                    FROM cum CROSS JOIN qs
                    WHERE cm * q_den >= q_num * n
                    GROUP BY 1, 2, 3)
            SELECT g AS l_returnflag, q_num, q_den, hist_bin,
                   0 + (hist_bin * 120000) // 128 AS q_est
            FROM hit
        """,
        # the Bloom pre-filter is TRANSPARENT to the join result — the
        # oracle is the plain join, so any dropped true match fails the
        # hash (end-to-end no-false-negative check)
        "q_bloom_join": """
            SELECT o.o_orderpriority,
                   count(*) AS n_items,
                   CAST(sum(CAST(l.l_quantity AS BIGINT)) AS BIGINT)
                       AS sum_qty
            FROM lineitem l
            JOIN orders o ON o.o_orderkey = l.l_orderkey
            WHERE o.o_orderkey % 97 = 0
            GROUP BY o.o_orderpriority
        """,
        "q_near_dup_lsh": _ora_near_dup_lsh(),
        "q_table_fingerprint": f"""
            WITH h AS (
              SELECT l_returnflag, {_hex40_bigint_sql("hx")} AS v
              FROM (SELECT l_returnflag,
                           md5(concat_ws(chr(31),
                               CAST(l_orderkey AS VARCHAR),
                               CAST(l_partkey AS VARCHAR),
                               CAST(l_suppkey AS VARCHAR),
                               CAST(l_linenumber AS VARCHAR))) AS hx
                    FROM lineitem))
            SELECT l_returnflag, count(*) AS n_rows,
                   CAST(sum(v) AS BIGINT) AS hash_sum,
                   bit_xor(v) AS hash_xor
            FROM h GROUP BY l_returnflag
        """,
        # brute-force all-pairs levenshtein vs the engine's
        # deletion-neighborhood blocking join — independent algorithm
        "q_fuzzy_join": """
            WITH d AS (SELECT event_id, 'u' || CAST(event_id % 257 AS VARCHAR) AS s
                       FROM events WHERE event_id < 800)
            SELECT a.event_id AS id_a, b.event_id AS id_b,
                   CAST(levenshtein(a.s, b.s) AS INTEGER) AS dist
            FROM d a JOIN d b ON a.event_id < b.event_id
            WHERE levenshtein(a.s, b.s) <= 1
        """,
        # plain theta join vs the engine's bin-cover equi-join plan
        "q_interval_join": """
            WITH iv AS (SELECT event_id AS id,
                               CAST(event_id * 10000000 AS BIGINT) AS start_us,
                               CAST(event_id * 10000000
                                    + ((event_id * 37) % 50) * 1000000 AS BIGINT)
                                   AS end_us
                        FROM events WHERE event_id < 4000),
                 a AS (SELECT * FROM iv WHERE id % 2 = 0),
                 b AS (SELECT * FROM iv WHERE id % 2 = 1)
            SELECT a.id AS id_a, b.id AS id_b,
                   a.start_us AS start_a, a.end_us AS end_a,
                   b.start_us AS start_b, b.end_us AS end_b
            FROM a JOIN b ON a.start_us <= b.end_us AND b.start_us <= a.end_us
        """,
        # brute-force point x segment scan + window vs the engine's
        # cell-window candidate join; d2 expression replicated verbatim
        "q_snap_segments": f"""
            WITH pts AS ({SQL_POINTS}), st AS ({SQL_STATIONS}),
            seg AS (SELECT station_id AS seg_id, s_lat AS alat, s_lon AS alon,
                           s_lat + ((station_id * 13) % 7 - 3) * CAST(0.9 AS DOUBLE)
                               AS blat,
                           s_lon + ((station_id * 29) % 11 - 5) * CAST(0.7 AS DOUBLE)
                               AS blon
                    FROM st),
            uvw AS (SELECT p.doc_id, s.seg_id,
                           s.blon - s.alon AS ux, s.blat - s.alat AS uy,
                           p.lon - s.alon AS vx, p.lat - s.alat AS vy,
                           p.lon - s.blon AS wx, p.lat - s.blat AS wy
                    FROM pts p, seg s),
            cand AS (SELECT doc_id, seg_id,
                            CASE WHEN (ux * ux + uy * uy) = 0
                                      OR (ux * vx + uy * vy) <= 0
                                 THEN vx * vx + vy * vy
                                 WHEN (ux * vx + uy * vy) >= (ux * ux + uy * uy)
                                 THEN wx * wx + wy * wy
                                 ELSE (ux * vy - uy * vx) * (ux * vy - uy * vx)
                                      / (ux * ux + uy * uy)
                            END AS d2
                     FROM uvw),
            filt AS (SELECT * FROM cand WHERE d2 <= CAST(4.0 AS DOUBLE)),
            r AS (SELECT doc_id, seg_id, d2,
                         row_number() OVER (PARTITION BY doc_id
                                            ORDER BY d2, seg_id) AS rn
                  FROM filt)
            SELECT doc_id, seg_id, d2 FROM r WHERE rn = 1
        """,
        "q_quadkey": f"""
            WITH pts AS ({SQL_POINTS}),
            xy AS (SELECT doc_id,
                least(greatest(CAST(floor((lon + 180.0) / 360.0 * 32.0) AS BIGINT),
                               0), 31) AS x,
                least(greatest(CAST(floor((lat + 90.0) / 180.0 * 32.0) AS BIGINT),
                               0), 31) AS y
              FROM pts),
            k AS (SELECT doc_id, {_quadkey_sql(5)} AS qk FROM xy)
            SELECT doc_id, qk, substr(qk, 1, 2) AS qk_z2 FROM k
        """,
        "q_chunk_spans": _ora_chunk_spans(),
        "q_bigram_pmi": """
            WITH d AS (SELECT list_filter(string_split(text, ' '), t -> t <> '')
                           AS toks
                       FROM documents WHERE doc_id < 800),
            pr AS (SELECT unnest(list_transform(range(1, len(toks)),
                       i -> struct_pack(a := toks[i], b := toks[i + 1]))) AS p
                   FROM d),
            pairs AS (SELECT p.a AS a, p.b AS b FROM pr),
            cab AS (SELECT a, b, count(*) AS c_ab FROM pairs GROUP BY a, b),
            uni AS (SELECT unnest(toks) AS t FROM d),
            cu AS (SELECT t, count(*) AS c FROM uni GROUP BY t),
            nt AS (SELECT CAST(sum(c) AS DOUBLE) AS n_tok FROM cu),
            np AS (SELECT CAST(sum(c_ab) AS DOUBLE) AS n_pair FROM cab)
            SELECT cab.a, cab.b, CAST(cab.c_ab AS BIGINT) AS c_ab,
                   round(ln((CAST(cab.c_ab AS DOUBLE) / np.n_pair)
                            / ((CAST(ca.c AS DOUBLE) / nt.n_tok)
                               * (CAST(cb.c AS DOUBLE) / nt.n_tok))), 6) AS pmi
            FROM cab
            JOIN cu ca ON ca.t = cab.a
            JOIN cu cb ON cb.t = cab.b, nt, np
            WHERE cab.c_ab >= 3
        """,
        # exact replay: rank by the SAME 8-hex-char key prefix (not the
        # full md5 — a 32-bit prefix collision would flip the tiebreak)
        "q_group_sample": """
            WITH r AS (SELECT doc_id, lang, source,
                row_number() OVER (PARTITION BY lang
                    ORDER BY substr(md5(CAST(lang AS VARCHAR) || ':'
                                        || CAST(doc_id AS VARCHAR)), 1, 8),
                             doc_id) AS rn
              FROM documents)
            SELECT doc_id, lang, source FROM r WHERE rn <= 25
        """,
        "q_pagerank": _ora_pagerank(),
        "q_jsonl_source": """
            SELECT lang, count(*) AS n_docs,
                   CAST(sum(len(text)) AS BIGINT) AS chars,
                   min(doc_id) AS min_id, max(doc_id) AS max_id
            FROM documents GROUP BY lang
        """,
        "q_csv_source": """
            SELECT l_returnflag, count(*) AS n_rows,
                   sum(l_quantity) AS sum_qty,
                   CAST(sum(l_orderkey) AS BIGINT) AS sum_key
            FROM lineitem GROUP BY l_returnflag
        """,
        "q_full_outer": """
            WITH c AS (SELECT c_nationkey, count(*) AS n_cust
                       FROM customer GROUP BY c_nationkey),
                 s AS (SELECT s_nationkey, count(*) AS n_supp
                       FROM supplier GROUP BY s_nationkey)
            SELECT coalesce(c_nationkey, s_nationkey) AS nationkey,
                   n_cust, n_supp
            FROM c FULL OUTER JOIN s ON c_nationkey = s_nationkey
        """,
        "q_cube": """
            SELECT o_orderstatus, o_orderpriority, count(*) AS n,
                   round(sum(o_totalprice), 2) AS total
            FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
        """,
        "q_scalar_subquery": """
            SELECT o_orderpriority, count(*) AS n_above,
                   round(max(o_totalprice), 2) AS max_price
            FROM orders
            WHERE o_totalprice > (SELECT avg(o_totalprice) FROM orders)
            GROUP BY o_orderpriority
        """,
        "q_unpivot_part": """
            SELECT p_partkey, 'size' AS metric, CAST(p_size AS DOUBLE) AS value
            FROM part WHERE p_partkey < 400
            UNION ALL
            SELECT p_partkey, 'retailprice', CAST(p_retailprice AS DOUBLE)
            FROM part WHERE p_partkey < 400
        """,
        "q_cdc_chunks": _ora_cdc_chunks(),
        # independent formulation: explode + GROUP BY vs the engine's
        # shuffle-free per-row array fold
        "q_repetition": """
            WITH d AS (SELECT doc_id,
                              list_filter(string_split(text, ' '), t -> t <> '')
                                  AS toks
                       FROM documents WHERE doc_id < 1000),
            tri AS (SELECT doc_id,
                           unnest(list_transform(range(1, len(toks) - 1),
                               i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))
                               AS g
                    FROM d),
            tric AS (SELECT doc_id, count(*) AS n_tri,
                            count(DISTINCT g) AS n_tri_d
                     FROM tri GROUP BY doc_id),
            tok AS (SELECT doc_id, unnest(toks) AS t FROM d),
            tc AS (SELECT doc_id, t, count(*) AS c FROM tok GROUP BY doc_id, t),
            topt AS (SELECT doc_id, max(c) AS top FROM tc GROUP BY doc_id)
            SELECT d.doc_id, CAST(len(d.toks) AS INTEGER) AS n_tokens,
                   CAST(COALESCE(tric.n_tri, 0) AS INTEGER) AS n_trigrams,
                   CAST(COALESCE(tric.n_tri - tric.n_tri_d, 0) AS INTEGER)
                       AS n_dup_trigrams,
                   CAST(COALESCE(topt.top, 0) AS INTEGER) AS top_tok_count
            FROM d LEFT JOIN tric ON tric.doc_id = d.doc_id
                   LEFT JOIN topt ON topt.doc_id = d.doc_id
        """,
        # verbatim brute-force theta join with the SAME exact integer
        # predicate — checks the cell-cover + responsibility-dedup plan
        "q_seg_intersect": """
            WITH seg AS (
              SELECT event_id,
                     (event_id % 160) - 80 + 0.5 AS lat0,
                     ((event_id * 7) % 350) - 175 + 0.25 AS lon0,
                     ((event_id % 160) - 80 + 0.5)
                       + ((event_id % 7) - 3) * CAST(1.7 AS DOUBLE) AS lat1,
                     (((event_id * 7) % 350) - 175 + 0.25)
                       + ((event_id % 11) - 5) * CAST(2.3 AS DOUBLE) AS lon1
              FROM events WHERE event_id < 1500),
            s AS (SELECT event_id AS id,
                         CAST(floor(lon0 * 1000000 + 0.5) AS BIGINT) AS p0x,
                         CAST(floor(lat0 * 1000000 + 0.5) AS BIGINT) AS p0y,
                         CAST(floor(lon1 * 1000000 + 0.5) AS BIGINT) AS p1x,
                         CAST(floor(lat1 * 1000000 + 0.5) AS BIGINT) AS p1y
                  FROM seg),
            pr AS (SELECT a.id AS id_a, b.id AS id_b,
                     (a.p1x-a.p0x)*(b.p0y-a.p0y) - (a.p1y-a.p0y)*(b.p0x-a.p0x) AS d1,
                     (a.p1x-a.p0x)*(b.p1y-a.p0y) - (a.p1y-a.p0y)*(b.p1x-a.p0x) AS d2,
                     (b.p1x-b.p0x)*(a.p0y-b.p0y) - (b.p1y-b.p0y)*(a.p0x-b.p0x) AS d3,
                     (b.p1x-b.p0x)*(a.p1y-b.p0y) - (b.p1y-b.p0y)*(a.p1x-b.p0x) AS d4,
                     a.p0x AS ax0, a.p0y AS ay0, a.p1x AS ax1, a.p1y AS ay1,
                     b.p0x AS bx0, b.p0y AS by0, b.p1x AS bx1, b.p1y AS by1
                   FROM s a JOIN s b ON a.id < b.id),
            flags AS (SELECT id_a, id_b,
                     (((d1 > 0 AND d2 < 0) OR (d1 < 0 AND d2 > 0))
                      AND ((d3 > 0 AND d4 < 0) OR (d3 < 0 AND d4 > 0))) AS proper,
                     ((d1 = 0 AND bx0 BETWEEN least(ax0, ax1) AND greatest(ax0, ax1)
                               AND by0 BETWEEN least(ay0, ay1) AND greatest(ay0, ay1))
                   OR (d2 = 0 AND bx1 BETWEEN least(ax0, ax1) AND greatest(ax0, ax1)
                               AND by1 BETWEEN least(ay0, ay1) AND greatest(ay0, ay1))
                   OR (d3 = 0 AND ax0 BETWEEN least(bx0, bx1) AND greatest(bx0, bx1)
                               AND ay0 BETWEEN least(by0, by1) AND greatest(by0, by1))
                   OR (d4 = 0 AND ax1 BETWEEN least(bx0, bx1) AND greatest(bx0, bx1)
                               AND ay1 BETWEEN least(by0, by1) AND greatest(by0, by1)))
                         AS touch
                   FROM pr)
            SELECT id_a, id_b, proper FROM flags WHERE proper OR touch
        """,
        # brute-force same-ring pair scan with the same exact integer
        # orientation predicate — checks the grid-join ring validity plan
        "q_ring_valid": """
            WITH p AS (
              SELECT event_id,
                     (event_id % 120) - 60 + 0.5 AS cx,
                     ((event_id * 13) % 80) - 40 + 0.25 AS cy,
                     0.5 + (event_id % 4) * 0.25 AS h,
                     CASE WHEN event_id % 5 = 0 THEN 1
                          WHEN event_id % 7 = 0 THEN 2 ELSE 0 END AS kind
              FROM events WHERE event_id < 900),
            c AS (SELECT event_id, kind,
                     CAST(floor((cx - h) * 1000000 + 0.5) AS BIGINT) AS x0,
                     CAST(floor((cx + h) * 1000000 + 0.5) AS BIGINT) AS x1,
                     CAST(floor((cy - h) * 1000000 + 0.5) AS BIGINT) AS y0,
                     CAST(floor((cy + h) * 1000000 + 0.5) AS BIGINT) AS y1
                  FROM p),
            v AS (SELECT event_id, u.i AS i, u.x AS x, u.y AS y FROM (
                    SELECT event_id, UNNEST(CASE
                      WHEN kind = 1 THEN
                        [{'i': 1, 'x': x0, 'y': y0}, {'i': 2, 'x': x1, 'y': y1},
                         {'i': 3, 'x': x1, 'y': y0}, {'i': 4, 'x': x0, 'y': y1}]
                      WHEN kind = 2 THEN
                        [{'i': 1, 'x': x1, 'y': y1}, {'i': 2, 'x': x1, 'y': y0},
                         {'i': 3, 'x': x0, 'y': y1}, {'i': 4, 'x': x0, 'y': y0}]
                      ELSE
                        [{'i': 1, 'x': x0, 'y': y0}, {'i': 2, 'x': x1, 'y': y0},
                         {'i': 3, 'x': x1, 'y': y1}, {'i': 4, 'x': x0, 'y': y1}]
                      END) AS u
                    FROM c)),
            s AS (SELECT a.event_id, a.i,
                         a.x AS px, a.y AS py, b.x AS qx, b.y AS qy
                  FROM v a JOIN v b
                    ON b.event_id = a.event_id AND b.i = a.i % 4 + 1),
            pr AS (SELECT s1.event_id, s1.i AS si, s2.i AS sj,
                     (s1.qx-s1.px)*(s2.py-s1.py) - (s1.qy-s1.py)*(s2.px-s1.px) AS d1,
                     (s1.qx-s1.px)*(s2.qy-s1.py) - (s1.qy-s1.py)*(s2.qx-s1.px) AS d2,
                     (s2.qx-s2.px)*(s1.py-s2.py) - (s2.qy-s2.py)*(s1.px-s2.px) AS d3,
                     (s2.qx-s2.px)*(s1.qy-s2.py) - (s2.qy-s2.py)*(s1.qx-s2.px) AS d4
                   FROM s s1 JOIN s s2
                     ON s2.event_id = s1.event_id AND s1.i < s2.i)
            SELECT event_id AS poly_id, CAST(0 AS INTEGER) AS ring_idx,
                   CAST(si AS INTEGER) AS seg_i, CAST(sj AS INTEGER) AS seg_j
            FROM pr
            WHERE ((d1 > 0 AND d2 < 0) OR (d1 < 0 AND d2 > 0))
              AND ((d3 > 0 AND d4 < 0) OR (d3 < 0 AND d4 > 0))
        """,
        "q_ntile_dist": """
            SELECT o_orderkey, o_orderpriority, o_totalprice,
                   percent_rank() OVER w AS pct_rank,
                   cume_dist() OVER w AS cume,
                   CAST(ntile(4) OVER w AS INTEGER) AS quartile
            FROM orders WHERE o_orderkey < 4000
            WINDOW w AS (PARTITION BY o_orderpriority
                         ORDER BY o_totalprice, o_orderkey)
        """,
        # verbatim replay of the CUSUM prefix identity
        # S_i = C_i - min(0, min_{j<=i} C_j) — exact int64 end-to-end
        "q_cusum": """
            WITH d AS (SELECT event_id % 40 AS key, event_id AS ord,
                         (event_id % 7)
                           + ((event_id % 40) % 3) * 2 * ((event_id // 4000) % 2)
                           AS v
                       FROM events WHERE event_id < 10000),
            c AS (SELECT key, ord,
                    sum(v - 4) OVER w AS cu, sum(4 - v) OVER w AS cd
                  FROM d WINDOW w AS (PARTITION BY key ORDER BY ord
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
            s AS (SELECT key, ord,
                    cu - least(0, min(cu) OVER w) AS s_up,
                    cd - least(0, min(cd) OVER w) AS s_dn
                  FROM c WINDOW w AS (PARTITION BY key ORDER BY ord
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
            f AS (SELECT key, ord, s_up, s_dn,
                    lag(s_up, 1, 0) OVER (PARTITION BY key ORDER BY ord) AS pu,
                    lag(s_dn, 1, 0) OVER (PARTITION BY key ORDER BY ord) AS pd
                  FROM s)
            SELECT key, ord, 'up' AS side, CAST(s_up AS BIGINT) AS stat
            FROM f WHERE s_up > 60 AND pu <= 60
            UNION ALL
            SELECT key, ord, 'down' AS side, CAST(s_dn AS BIGINT) AS stat
            FROM f WHERE s_dn > 60 AND pd <= 60
        """,
        # independent orientation: the oracle closes i<j<k ID-ordered
        # triples; the engine orients by (degree, id)
        "q_triangles": """
            WITH raw AS (SELECT event_id % 150 AS a,
                                (event_id * 29 + 5) % 150 AS b
                         FROM events WHERE event_id < 1200),
            und AS (SELECT DISTINCT least(a, b) AS u, greatest(a, b) AS v
                    FROM raw WHERE a <> b),
            nodes AS (SELECT u AS n FROM und UNION SELECT v FROM und)
            SELECT (SELECT count(*) FROM nodes) AS n_nodes,
                   (SELECT count(*) FROM und) AS n_edges,
                   (SELECT count(*)
                    FROM und e1
                    JOIN und e2 ON e2.u = e1.v
                    JOIN und e3 ON e3.u = e1.u AND e3.v = e2.v) AS n_triangles
        """,
        "q_funnel": """
            WITH v AS (SELECT user_id, min(ts) AS ts_1 FROM events
                       WHERE event_type = 'view' GROUP BY user_id),
                 c AS (SELECT e.user_id, min(e.ts) AS ts_2 FROM events e
                       JOIN v ON v.user_id = e.user_id AND e.ts >= v.ts_1
                       WHERE e.event_type = 'click' GROUP BY e.user_id),
                 p AS (SELECT e.user_id, min(e.ts) AS ts_3 FROM events e
                       JOIN c ON c.user_id = e.user_id AND e.ts >= c.ts_2
                       WHERE e.event_type = 'purchase' GROUP BY e.user_id)
            SELECT v.user_id, epoch_us(v.ts_1) AS ts_1_us,
                   epoch_us(c.ts_2) AS ts_2_us, epoch_us(p.ts_3) AS ts_3_us,
                   CAST(1 + (CASE WHEN c.ts_2 IS NOT NULL THEN 1 ELSE 0 END)
                          + (CASE WHEN p.ts_3 IS NOT NULL THEN 1 ELSE 0 END)
                        AS INTEGER) AS stage
            FROM v LEFT JOIN c ON c.user_id = v.user_id
                   LEFT JOIN p ON p.user_id = v.user_id
        """,
        "q_resample": """
            WITH a AS (
              SELECT user_id,
                     CAST(floor(epoch_us(ts) / 21600000000) AS BIGINT) AS bucket,
                     count(*) AS n_events,
                     CAST(sum(CAST(floor(value * 1000) AS BIGINT)) AS BIGINT)
                         AS value_sum_q
              FROM events GROUP BY user_id, bucket),
            spans AS (SELECT user_id, min(bucket) AS b0, max(bucket) AS b1
                      FROM a GROUP BY user_id),
            grid AS (SELECT user_id, unnest(range(b0, b1 + 1)) AS bucket
                     FROM spans)
            SELECT g.user_id, g.bucket,
                   COALESCE(a.n_events, 0) AS n_events, a.value_sum_q
            FROM grid g LEFT JOIN a ON a.user_id = g.user_id
                                   AND a.bucket = g.bucket
        """,
        # resample replay + IGNORE NULLS carry-forward
        "q_fill_forward": """
            WITH a AS (
              SELECT user_id,
                     CAST(floor(epoch_us(ts) / 21600000000) AS BIGINT) AS bucket,
                     count(*) AS n_events,
                     CAST(sum(CAST(floor(value * 1000) AS BIGINT)) AS BIGINT)
                         AS value_sum_q
              FROM events GROUP BY user_id, bucket),
            spans AS (SELECT user_id, min(bucket) AS b0, max(bucket) AS b1
                      FROM a GROUP BY user_id),
            grid AS (SELECT user_id, unnest(range(b0, b1 + 1)) AS bucket
                     FROM spans),
            j AS (SELECT g.user_id, g.bucket,
                         COALESCE(a.n_events, 0) AS n_events, a.value_sum_q
                  FROM grid g LEFT JOIN a ON a.user_id = g.user_id
                                         AND a.bucket = g.bucket)
            SELECT user_id, bucket, n_events,
                   last_value(value_sum_q IGNORE NULLS)
                       OVER (PARTITION BY user_id ORDER BY bucket)
                       AS value_sum_q
            FROM j
        """,
        # two-sided carries + one fixed IEEE chain on exact ints —
        # the doubles hash identically
        "q_fill_interp": """
            WITH a AS (
              SELECT user_id,
                     CAST(floor(epoch_us(ts) / 21600000000) AS BIGINT) AS bucket,
                     count(*) AS n_events,
                     CAST(sum(CAST(floor(value * 1000) AS BIGINT)) AS BIGINT)
                         AS value_sum_q
              FROM events GROUP BY user_id, bucket),
            spans AS (SELECT user_id, min(bucket) AS b0, max(bucket) AS b1
                      FROM a GROUP BY user_id),
            grid AS (SELECT user_id, unnest(range(b0, b1 + 1)) AS bucket
                     FROM spans),
            j AS (SELECT g.user_id, g.bucket,
                         COALESCE(a.n_events, 0) AS n_events, a.value_sum_q
                  FROM grid g LEFT JOIN a ON a.user_id = g.user_id
                                         AND a.bucket = g.bucket),
            c AS (SELECT user_id, bucket, n_events, value_sum_q,
                         last_value(CASE WHEN value_sum_q IS NOT NULL
                                         THEN bucket END IGNORE NULLS)
                             OVER wb AS pt,
                         last_value(value_sum_q IGNORE NULLS) OVER wb AS pv,
                         first_value(CASE WHEN value_sum_q IS NOT NULL
                                          THEN bucket END IGNORE NULLS)
                             OVER wf AS nt,
                         first_value(value_sum_q IGNORE NULLS) OVER wf AS nv
                  FROM j
                  WINDOW wb AS (PARTITION BY user_id ORDER BY bucket
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                AND CURRENT ROW),
                         wf AS (PARTITION BY user_id ORDER BY bucket
                                ROWS BETWEEN CURRENT ROW
                                AND UNBOUNDED FOLLOWING))
            SELECT user_id, bucket, n_events,
                   CASE WHEN value_sum_q IS NOT NULL
                        THEN CAST(value_sum_q AS DOUBLE)
                        WHEN pv IS NOT NULL AND nv IS NOT NULL
                        THEN CAST(pv AS DOUBLE)
                             + CAST(nv - pv AS DOUBLE)
                               * (CAST(bucket - pt AS DOUBLE)
                                  / CAST(nt - pt AS DOUBLE))
                        ELSE NULL END AS v_interp
            FROM c
        """,
        # RANGE frame by ship-date epoch days — frames are value-based,
        # so tie order cannot perturb the sums
        "q_rolling_time": """
            WITH d AS (SELECT l_suppkey, l_orderkey, l_linenumber,
                              CAST(l_quantity AS BIGINT) AS q,
                              CAST(CAST(l_shipdate AS DATE) - DATE '1970-01-01' AS BIGINT)
                                  AS ed
                       FROM lineitem WHERE l_orderkey < 20000)
            SELECT l_suppkey, l_orderkey, l_linenumber,
                   CAST(sum(q) OVER w AS BIGINT) AS qty_30d,
                   CAST(count(*) OVER w AS BIGINT) AS n_30d
            FROM d
            WINDOW w AS (PARTITION BY l_suppkey ORDER BY ed
                         RANGE BETWEEN 30 PRECEDING AND CURRENT ROW)
        """,
        "q_sink_evolve": """
            WITH t AS (
              SELECT doc_id, lang, NULL AS src_len
              FROM documents WHERE doc_id < 50
              UNION ALL
              SELECT doc_id, lang, CAST(len(source) AS INTEGER)
              FROM documents WHERE doc_id >= 50 AND doc_id < 100)
            SELECT lang, count(*) AS n, count(src_len) AS n_evolved,
                   CAST(sum(src_len) AS BIGINT) AS src_len_sum
            FROM t GROUP BY lang
        """,
        # plain join SQL — bucketing must be invisible to the result
        "q_bucketed_join": """
            SELECT c_mktsegment, o_orderstatus, count(*) AS n_orders,
                   round(sum(o_totalprice), 2) AS total,
                   count(DISTINCT c_custkey) AS n_custs
            FROM customer JOIN orders ON o_custkey = c_custkey
            GROUP BY c_mktsegment, o_orderstatus
        """,
        "q_quadkey_pyramid": f"""
            WITH pts AS ({SQL_POINTS}),
            xy AS (SELECT
                least(greatest(CAST(floor((lon + 180.0) / 360.0 * 64.0) AS BIGINT),
                               0), 63) AS x,
                least(greatest(CAST(floor((lat + 90.0) / 180.0 * 64.0) AS BIGINT),
                               0), 63) AS y
              FROM pts),
            k AS (SELECT {_quadkey_sql(6)} AS qk FROM xy)
            SELECT CAST(6 AS INTEGER) AS z, substr(qk, 1, 6) AS key,
                   count(*) AS n_docs FROM k GROUP BY 2
            UNION ALL
            SELECT 4, substr(qk, 1, 4), count(*) FROM k GROUP BY 2
            UNION ALL
            SELECT 2, substr(qk, 1, 2), count(*) FROM k GROUP BY 2
        """,
        "q_window_dist": """
            SELECT o_orderkey, o_orderpriority,
                   CAST(ntile(7) OVER w AS INTEGER) AS bucket,
                   percent_rank() OVER w AS pr,
                   cume_dist() OVER w AS cd
            FROM orders
            WINDOW w AS (PARTITION BY o_orderpriority
                         ORDER BY o_totalprice, o_orderkey)
        """,
        # polygon-overlay join: verbatim brute-force formulation of the
        # same exact integer predicate -- EXISTS over all edge pairs for
        # 'cross', SUM-parity half-open crossing-number for containment
        # (the engine covers bboxes with grid cells and refines in one
        # Arrow batch; the JOIN STRATEGY is what the gate checks)
        "q_poly_overlap": f"""
            WITH {_poly_overlap_ctes(800)}
            SELECT id_a, id_b,
                   CASE WHEN is_cross THEN 'cross'
                        WHEN a_in_b THEN 'a_in_b' ELSE 'b_in_a' END AS kind
            FROM (
              SELECT c.id_a, c.id_b,
                     EXISTS(SELECT 1 FROM crossed x
                            WHERE x.id_a = c.id_a AND x.id_b = c.id_b) AS is_cross,
                     EXISTS(SELECT 1 FROM ins i
                            WHERE i.pid = c.id_a AND i.qid = c.id_b) AS a_in_b,
                     EXISTS(SELECT 1 FROM ins i
                            WHERE i.pid = c.id_b AND i.qid = c.id_a) AS b_in_a
              FROM cand c)
            WHERE is_cross OR a_in_b OR b_in_a
        """,
        # dissolve: the same brute pair set closed transitively by a
        # recursive CTE (independent of the engine's alternating-star
        # CC); singletons label themselves
        "q_poly_dissolve": f"""
            WITH RECURSIVE {_poly_overlap_ctes(400)},
            pairs AS (
              SELECT c.id_a, c.id_b FROM cand c
              WHERE EXISTS(SELECT 1 FROM crossed x
                           WHERE x.id_a = c.id_a AND x.id_b = c.id_b)
                 OR EXISTS(SELECT 1 FROM ins i
                           WHERE i.pid = c.id_a AND i.qid = c.id_b)
                 OR EXISTS(SELECT 1 FROM ins i
                           WHERE i.pid = c.id_b AND i.qid = c.id_a)),
            sym AS (SELECT id_a AS u, id_b AS v FROM pairs
                    UNION SELECT id_b, id_a FROM pairs),
            ids AS (SELECT id AS node FROM p),
            reach(node, lbl) AS (
                SELECT node, node FROM ids
                UNION
                SELECT s.u, r.lbl FROM reach r JOIN sym s ON s.v = r.node)
            SELECT CAST(node AS BIGINT) AS poly_id,
                   CAST(min(lbl) AS BIGINT) AS group_id
            FROM reach GROUP BY node
        """,
        # trajectory Hausdorff join: brute all-pairs double max-min on
        # the same snapped integer grid (the engine's cell-cover +
        # one-ring expansion is the strategy under test); r2 =
        # ceil(0.5 * 1e6)^2 = 250000000000
        "q_hausdorff": """
            WITH t AS (
              SELECT event_id AS id,
                     event_id - (event_id % 4) AS base,
                     CAST(event_id % 4 AS DOUBLE) AS j,
                     6 + (event_id % 3) AS npts
              FROM events WHERE event_id < 300),
            pts AS (
              SELECT id, i,
                     CAST(floor((((base * 7) % 340) - 170 + CAST(0.5 AS DOUBLE)
                                 + j * CAST(0.0625 AS DOUBLE)
                                 + CAST(i % 3 AS DOUBLE) * CAST(0.25 AS DOUBLE))
                                * 1000000 + 0.5) AS BIGINT) AS x,
                     CAST(floor(((base % 80) - 40 + CAST(0.25 AS DOUBLE)
                                 + j * CAST(0.0625 AS DOUBLE)
                                 + CAST(i AS DOUBLE) * CAST(0.125 AS DOUBLE))
                                * 1000000 + 0.5) AS BIGINT) AS y
              FROM t, unnest(generate_series(0, npts - 1)) AS g(i)),
            dall AS (
              SELECT pa.id AS id_a, pb.id AS id_b, pa.i AS ai, pb.i AS bi,
                     (pa.x-pb.x)*(pa.x-pb.x) + (pa.y-pb.y)*(pa.y-pb.y) AS d2
              FROM pts pa JOIN pts pb ON pa.id < pb.id),
            ha AS (SELECT id_a, id_b, max(m) AS h FROM (
                     SELECT id_a, id_b, ai, min(d2) AS m
                     FROM dall GROUP BY 1, 2, 3) GROUP BY 1, 2),
            hb AS (SELECT id_a, id_b, max(m) AS h FROM (
                     SELECT id_a, id_b, bi, min(d2) AS m
                     FROM dall GROUP BY 1, 2, 3) GROUP BY 1, 2)
            SELECT ha.id_a, ha.id_b, greatest(ha.h, hb.h) AS h2
            FROM ha JOIN hb ON ha.id_a = hb.id_a AND ha.id_b = hb.id_b
            WHERE greatest(ha.h, hb.h) <= 250000000000
        """,
        # decontamination: the oracle generates n-grams by LIST SLICING
        # and joins on the raw gram STRING (the engine uses a native
        # transform Generate and joins on md5 — independent formulation
        # of the same predicate)
        "q_decontaminate": """
            WITH tok AS (SELECT doc_id,
                                list_filter(string_split(text, ' '), t -> t <> '') AS toks
                         FROM documents),
            bg AS (SELECT DISTINCT array_to_string(toks[i : i + 2], ' ') AS gram
                   FROM tok, unnest(generate_series(1, len(toks) - 2)) AS g(i)
                   WHERE doc_id % 41 = 0 AND len(toks) >= 3),
            corp AS (SELECT doc_id,
                            list_distinct([array_to_string(toks[i : i + 2], ' ')
                                           for i in generate_series(1, len(toks) - 2)]) AS grams
                     FROM tok WHERE doc_id % 41 <> 0 AND len(toks) >= 3)
            SELECT doc_id, count(*) AS dirty_grams
            FROM (SELECT doc_id, unnest(grams) AS gram FROM corp)
            WHERE gram IN (SELECT gram FROM bg)
            GROUP BY doc_id
        """,
        # independent all-pairs + recursive-CTE DBSCAN (engine: grid
        # equi-join + large/small-star CC) — min tie-breaks make the
        # labeling a pure function of the input set
        "q_dbscan": f"""
            WITH RECURSIVE pts AS ({SQL_POINTS}),
            nbr AS (
                SELECT a.doc_id AS u, b.doc_id AS v
                FROM pts a JOIN pts b
                  ON (a.lat - b.lat) * (a.lat - b.lat)
                   + (a.lon - b.lon) * (a.lon - b.lon) <= 25.0),
            deg AS (SELECT u, count(*) AS n FROM nbr GROUP BY u),
            core AS (SELECT u AS id FROM deg WHERE n >= 4),
            ce AS (SELECT n.u, n.v FROM nbr n
                   JOIN core c1 ON n.u = c1.id
                   JOIN core c2 ON n.v = c2.id
                   WHERE n.u <> n.v),
            reach(node, lbl) AS (
                SELECT id, id FROM core
                UNION
                SELECT e.v, r.lbl FROM reach r JOIN ce e ON e.u = r.node),
            comp AS (SELECT node AS id, min(lbl) AS cluster
                     FROM reach GROUP BY node),
            border AS (
                SELECT n.u AS id, min(c.cluster) AS cluster
                FROM nbr n JOIN comp c ON n.v = c.id
                WHERE n.u <> n.v AND n.u NOT IN (SELECT id FROM core)
                GROUP BY n.u)
            SELECT p.doc_id AS id,
                   CAST(coalesce(co.cluster, bo.cluster, -1) AS BIGINT)
                       AS cluster,
                   (co.id IS NOT NULL) AS is_core
            FROM pts p
            LEFT JOIN comp co ON co.id = p.doc_id
            LEFT JOIN border bo ON bo.id = p.doc_id
        """,
        # add-one bigram LM; per-bigram log-prob quantized to
        # micro-nats (bigint) before the per-doc sum -> order-free
        "q_bigram_lm": """
            WITH d AS (SELECT doc_id,
                              list_filter(string_split(text, ' '),
                                          t -> t <> '') AS toks
                       FROM documents WHERE doc_id < 800),
            pr AS (SELECT doc_id,
                          unnest(list_transform(range(1, len(toks)),
                              i -> struct_pack(a := toks[i],
                                               b := toks[i + 1]))) AS p
                   FROM d),
            pairs AS (SELECT doc_id, p.a AS a, p.b AS b FROM pr),
            cab AS (SELECT a, b, count(*) AS c_ab FROM pairs GROUP BY a, b),
            ca AS (SELECT a, count(*) AS c_a FROM pairs GROUP BY a),
            vo AS (SELECT count(DISTINCT t) AS v
                   FROM (SELECT unnest(toks) AS t FROM d)),
            sc AS (SELECT p.doc_id, count(*) AS n_bigrams,
                          sum(CAST(round(ln(CAST(cab.c_ab + 1 AS DOUBLE)
                                            / CAST(ca.c_a + vo.v AS DOUBLE))
                                         * 1000000.0) AS BIGINT)) AS sq
                   FROM pairs p
                   JOIN cab ON cab.a = p.a AND cab.b = p.b
                   JOIN ca ON ca.a = p.a, vo
                   GROUP BY p.doc_id)
            SELECT d.doc_id,
                   CAST(coalesce(sc.n_bigrams, 0) AS BIGINT) AS n_bigrams,
                   CAST(sc.sq AS DOUBLE)
                       / CAST(sc.n_bigrams * 1000000 AS DOUBLE) AS lm_score
            FROM d LEFT JOIN sc ON sc.doc_id = d.doc_id
        """,
        # KMV sketch replay: same 40-bit md5 hash, k smallest distinct,
        # (k-1)*2^40/h_k as one exact-integer division
        "q_kmv_distinct": f"""
            WITH h AS (
              SELECT grp, {_hex40_bigint_sql("hx")} AS hv
              FROM (SELECT l_returnflag AS grp,
                           md5(CAST(l_partkey AS VARCHAR)) AS hx
                    FROM lineitem)),
            counts AS (SELECT grp, count(*) AS n_rows FROM h GROUP BY grp),
            dh AS (SELECT DISTINCT grp, hv FROM h),
            rk AS (SELECT grp, hv,
                          row_number() OVER (PARTITION BY grp ORDER BY hv)
                              AS rn
                   FROM dh),
            sk AS (SELECT grp, count(*) AS kmv_k, max(hv) AS hk
                   FROM rk WHERE rn <= 64 GROUP BY grp)
            SELECT c.grp AS l_returnflag, c.n_rows,
                   CAST(sk.kmv_k AS BIGINT) AS kmv_k,
                   CASE WHEN sk.kmv_k < 64 THEN CAST(sk.kmv_k AS DOUBLE)
                        ELSE CAST(63 AS DOUBLE) * 1099511627776.0
                             / CAST(sk.hk AS DOUBLE)
                   END AS kmv_estimate
            FROM counts c JOIN sk ON sk.grp = c.grp
        """,
        # independent keeper formulation: row_number window over the
        # raw event lines (never splits the joined text)
        "q_line_dedup": """
            WITH src AS (SELECT user_id AS doc_id, event_id,
                                event_type || '#'
                                    || CAST(event_id % 23 AS VARCHAR) AS line
                         FROM events WHERE event_id < 8000),
            lines AS (SELECT doc_id, line,
                             row_number() OVER (PARTITION BY doc_id
                                 ORDER BY event_id) - 1 AS pos
                      FROM src),
            keep AS (SELECT doc_id, pos, line,
                            row_number() OVER (PARTITION BY line
                                ORDER BY doc_id, pos) AS rn
                     FROM lines),
            kept AS (SELECT doc_id, count(*) AS n_kept,
                            string_agg(line, chr(10) ORDER BY pos) AS text
                     FROM keep WHERE rn = 1 GROUP BY doc_id),
            tot AS (SELECT doc_id, count(*) AS n_lines
                    FROM lines GROUP BY doc_id)
            SELECT t.doc_id, coalesce(k.text, '') AS text,
                   t.n_lines, CAST(coalesce(k.n_kept, 0) AS BIGINT) AS n_kept
            FROM tot t LEFT JOIN kept k ON k.doc_id = t.doc_id
        """,
        # A-ES replay: same md5 draw, ln(u)/w key, (key DESC, id) rank
        "q_weighted_sample": f"""
            WITH h AS (SELECT doc_id, lang, n_chars,
                              md5(CAST(lang AS VARCHAR) || ':'
                                  || CAST(doc_id AS VARCHAR)) AS hx
                       FROM documents),
            r AS (SELECT doc_id, lang, n_chars,
                         row_number() OVER (PARTITION BY lang
                             ORDER BY ln(CAST({_hex40_bigint_sql("hx")} + 1
                                              AS DOUBLE) / 1099511627776.0)
                                      / CAST(n_chars AS DOUBLE) DESC,
                                      doc_id) AS rn
                  FROM h)
            SELECT doc_id, lang, n_chars FROM r WHERE rn <= 20
        """,
        "q_redact_spans": _ora_redact_spans(),
        "q_rp_reduce": _ora_rp_reduce(),
        "q_token_entropy": """
            WITH d AS (SELECT doc_id,
                              list_filter(string_split(text, ' '),
                                          t -> t <> '') AS toks
                       FROM documents WHERE doc_id < 600),
            tk AS (SELECT doc_id, unnest(toks) AS t FROM d),
            pt AS (SELECT doc_id, t, count(*) AS c FROM tk GROUP BY doc_id, t),
            pd AS (SELECT doc_id, sum(c) AS n_tokens, count(*) AS n_distinct
                   FROM pt GROUP BY doc_id),
            s AS (SELECT pt.doc_id,
                         sum(pt.c * CAST(round(ln(CAST(pd.n_tokens AS DOUBLE)
                                                  / CAST(pt.c AS DOUBLE))
                                               * 1000000.0) AS BIGINT)) AS sq
                  FROM pt JOIN pd ON pd.doc_id = pt.doc_id
                  GROUP BY pt.doc_id)
            SELECT d.doc_id,
                   CAST(coalesce(pd.n_tokens, 0) AS BIGINT) AS n_tokens,
                   CAST(coalesce(pd.n_distinct, 0) AS BIGINT) AS n_distinct,
                   CAST(s.sq AS DOUBLE)
                       / CAST(pd.n_tokens * 1000000 AS DOUBLE) AS entropy
            FROM d
            LEFT JOIN pd ON pd.doc_id = d.doc_id
            LEFT JOIN s ON s.doc_id = d.doc_id
        """,
        "q_inverted_index": """
            WITH tk AS (SELECT DISTINCT doc_id, token FROM (
                    SELECT doc_id,
                           unnest(list_filter(string_split(text, ' '),
                                              t -> t <> '')) AS token
                    FROM documents WHERE doc_id < 600)),
            dfc AS (SELECT token, count(*) AS df FROM tk GROUP BY token),
            keep AS (SELECT token, df FROM dfc WHERE df >= 2 AND df <= 395)
            SELECT k.token, CAST(k.df AS BIGINT) AS df,
                   list_sort(list(t.doc_id)) AS postings
            FROM keep k JOIN tk t ON t.token = k.token
            GROUP BY k.token, k.df
        """,
        "q_idw": f"""
            WITH pts AS ({SQL_POINTS}), st AS ({SQL_STATIONS}),
            sv AS (SELECT station_id, s_lat, s_lon, station_id % 97 AS v
                   FROM st),
            pr AS (SELECT p.doc_id, s.v,
                          (p.lat - s.s_lat) * (p.lat - s.s_lat)
                        + (p.lon - s.s_lon) * (p.lon - s.s_lon) AS d2
                   FROM pts p JOIN sv s
                     ON (p.lat - s.s_lat) * (p.lat - s.s_lat)
                      + (p.lon - s.s_lon) * (p.lon - s.s_lon) <= 9.0),
            w AS (SELECT doc_id, v,
                         CAST(round((9.0 / d2) * 1000000.0) AS BIGINT) AS wq
                  FROM pr WHERE d2 > 0),
            hits AS (SELECT doc_id, count(*) AS nh, min(v) AS vh
                     FROM pr WHERE d2 = 0 GROUP BY doc_id),
            cnt AS (SELECT doc_id, count(*) AS n_stations
                    FROM pr GROUP BY doc_id),
            ws AS (SELECT doc_id, sum(wq * v) AS num, sum(wq) AS den
                   FROM w GROUP BY doc_id)
            SELECT c.doc_id, c.n_stations,
                   CASE WHEN h.nh > 0 THEN CAST(h.vh AS DOUBLE)
                        ELSE CAST(ws.num AS DOUBLE) / CAST(ws.den AS DOUBLE)
                   END AS idw_value
            FROM cnt c
            LEFT JOIN hits h ON h.doc_id = c.doc_id
            LEFT JOIN ws ON ws.doc_id = c.doc_id
        """,
        # all-integer Moran's I replay: d_i = n*x_i - S, queen pairs via
        # a BETWEEN theta join (independent of the engine's 8-offset
        # explode equi-join), one final exact-product division
        "q_morans_i": f"""
            WITH pts AS ({SQL_POINTS}),
            cells AS (SELECT floor(lat / 5.0) AS cx, floor(lon / 5.0) AS cy,
                             count(*) AS x
                      FROM pts GROUP BY 1, 2),
            tot AS (SELECT count(*) AS n, sum(x) AS s FROM cells),
            dev AS (SELECT cx, cy, CAST(t.n * x - t.s AS BIGINT) AS d
                    FROM cells, tot t),
            pairs AS (SELECT a.d AS da, b.d AS db
                      FROM dev a JOIN dev b
                        ON b.cx BETWEEN a.cx - 1 AND a.cx + 1
                       AND b.cy BETWEEN a.cy - 1 AND a.cy + 1
                       AND NOT (b.cx = a.cx AND b.cy = a.cy)),
            agg AS (SELECT count(*) AS w, sum(da * db) AS num FROM pairs),
            den AS (SELECT sum(d * d) AS ss FROM dev)
            SELECT t.n AS n_cells, a.w AS w_pairs,
                   CAST(t.n * a.num AS DOUBLE)
                       / CAST(a.w * d.ss AS DOUBLE) AS moran_i
            FROM tot t, agg a, den d
        """,
        "q_interleave": """
            SELECT doc_id, source,
                   CAST(row_number() OVER (
                       PARTITION BY source
                       ORDER BY substring(md5(CAST(doc_id AS VARCHAR)), 1, 8),
                                doc_id) - 1 AS BIGINT) AS pos_in_round
            FROM documents WHERE doc_id < 3000
            ORDER BY pos_in_round, source
        """,
        "q_quality_filter": """
            WITH d AS (SELECT doc_id, text AS t FROM documents
                       WHERE doc_id < 2000),
            c AS (SELECT doc_id,
                     list_filter(string_split(t, ' '), x -> x <> '') AS toks,
                     len(list_filter(regexp_split_to_array(t, '\\s+'),
                                     x -> x <> '')) AS w,
                     greatest(len(regexp_extract_all(t, '[.!?]+')), 1) AS s,
                     len(regexp_extract_all(t, '[aeiouyAEIOUY]+')) AS sy0
                  FROM d),
            m AS (SELECT doc_id, CAST(w AS BIGINT) AS n_words,
                         CAST(len(list_distinct(toks)) AS BIGINT) AS n_uniq,
                         CAST(len(toks) AS BIGINT) AS n_toks,
                         CASE WHEN w > 0 THEN
                           round(206.835
                                 - 1.015 * (CAST(w AS DOUBLE)
                                            / CAST(s AS DOUBLE))
                                 - 84.6 * (CAST(greatest(sy0, w) AS DOUBLE)
                                           / CAST(w AS DOUBLE)), 6)
                         END AS flesch
                  FROM c)
            SELECT doc_id, n_words, n_uniq, n_toks,
                   (n_words >= 5 AND flesch > -100.0
                    AND n_uniq * 10 >= n_toks * 3) AS keep
            FROM m ORDER BY doc_id
        """,
        "q_lisa": f"""
            WITH pts AS ({SQL_POINTS}),
            cells AS (SELECT floor(lat / 5.0) AS cx, floor(lon / 5.0) AS cy,
                             count(*) AS x
                      FROM pts GROUP BY 1, 2),
            tot AS (SELECT count(*) AS n, sum(x) AS s FROM cells),
            dev AS (SELECT cx, cy, CAST(t.n * x - t.s AS BIGINT) AS d
                    FROM cells, tot t),
            nb AS (SELECT a.cx, a.cy, count(*) AS n_nb,
                          CAST(sum(b.d) AS BIGINT) AS nbs
                   FROM dev a JOIN dev b
                     ON b.cx BETWEEN a.cx - 1 AND a.cx + 1
                    AND b.cy BETWEEN a.cy - 1 AND a.cy + 1
                    AND NOT (b.cx = a.cx AND b.cy = a.cy)
                   GROUP BY a.cx, a.cy),
            den AS (SELECT sum(d * d) AS ss FROM dev)
            SELECT CAST(v.cx AS BIGINT) AS cx, CAST(v.cy AS BIGINT) AS cy,
                   CAST(coalesce(nb.n_nb, 0) AS BIGINT) AS n_nb,
                   CAST(v.d * coalesce(nb.nbs, 0) AS BIGINT) AS li_num,
                   CASE WHEN d.ss > 0 THEN
                     CAST(t.n * v.d * coalesce(nb.nbs, 0) AS DOUBLE)
                         / CAST(d.ss AS DOUBLE) END AS local_i,
                   CASE WHEN nb.nbs IS NULL OR v.d = 0 OR nb.nbs = 0
                             THEN NULL
                        WHEN v.d > 0 AND nb.nbs > 0 THEN 'HH'
                        WHEN v.d < 0 AND nb.nbs < 0 THEN 'LL'
                        WHEN v.d > 0 THEN 'HL' ELSE 'LH' END AS quadrant
            FROM dev v LEFT JOIN nb ON nb.cx = v.cx AND nb.cy = v.cy,
                 tot t, den d
            ORDER BY cx, cy
        """,
        "q_retention": """
            WITH wk AS (SELECT DISTINCT user_id,
                               CAST(date_trunc('week', ts) AS DATE) AS week
                        FROM events),
            fi AS (SELECT user_id, min(week) AS cohort_week
                   FROM wk GROUP BY user_id)
            SELECT CAST(datediff('day', DATE '1970-01-01', f.cohort_week)
                        AS INT) AS cohort_day,
                   CAST(datediff('day', f.cohort_week, w.week) // 7 AS INT)
                       AS week_n,
                   count(DISTINCT w.user_id) AS n_users
            FROM wk w JOIN fi f ON f.user_id = w.user_id
            GROUP BY 1, 2
        """,
        # independent formulation: UNION ALL, not UNPIVOT
        "q_unpivot": """
            WITH li AS (SELECT * FROM lineitem WHERE l_orderkey < 300)
            SELECT l_orderkey, l_linenumber,
                   'l_quantity' AS metric, l_quantity AS val FROM li
            UNION ALL
            SELECT l_orderkey, l_linenumber, 'l_discount', l_discount FROM li
            UNION ALL
            SELECT l_orderkey, l_linenumber, 'l_tax', l_tax FROM li
        """,
        # quota replay: exact integer ppm arithmetic + the group_sample
        # 8-hex md5 rank
        "q_mixture_sample": """
            WITH tgt(source, ppm) AS (VALUES
                ('src1', 400000), ('src2', 200000),
                ('src3', 50000), ('src17', 300000)),
            q AS (SELECT d.source,
                         least(count(*), 300 * t.ppm // 1000000) AS k
                  FROM documents d JOIN tgt t ON t.source = d.source
                  GROUP BY d.source, t.ppm),
            r AS (SELECT doc_id, source, lang,
                         row_number() OVER (PARTITION BY source
                             ORDER BY substr(md5(source || ':'
                                 || CAST(doc_id AS VARCHAR)), 1, 8),
                                      doc_id) AS rn
                  FROM documents)
            SELECT r.doc_id, r.source, r.lang
            FROM r JOIN q ON q.source = r.source WHERE r.rn <= q.k
        """,
        "q_ntile": """
            SELECT l_orderkey, l_linenumber, l_returnflag,
                   ntile(4) OVER (PARTITION BY l_returnflag
                       ORDER BY l_extendedprice, l_orderkey, l_linenumber)
                       AS bucket
            FROM lineitem WHERE l_orderkey < 2000
        """,
        # full sketch replay: DuckDB rebuilds the identical count-min
        # table from the raw rows (seeded 40-bit md5 mod width), then
        # answers the same point queries
        "q_cms": f"""
            WITH seeds(i) AS (VALUES (0), (1), (2), (3)),
            sk AS (
              SELECT s.i AS cms_row,
                     {_hex40_bigint_sql(
                         "md5(CAST(s.i AS VARCHAR) || ':' "
                         "|| CAST(l.l_partkey AS VARCHAR))")} % 128
                         AS cms_bucket,
                     count(*) AS cms_count
              FROM lineitem l CROSS JOIN seeds s
              GROUP BY 1, 2),
            probes AS (SELECT p_partkey FROM part WHERE p_partkey % 41 = 0),
            pl AS (
              SELECT p.p_partkey, s.i AS cms_row,
                     {_hex40_bigint_sql(
                         "md5(CAST(s.i AS VARCHAR) || ':' "
                         "|| CAST(p.p_partkey AS VARCHAR))")} % 128
                         AS cms_bucket
              FROM probes p CROSS JOIN seeds s),
            est AS (
              SELECT pl.p_partkey,
                     min(coalesce(sk.cms_count, 0)) AS cms_estimate
              FROM pl LEFT JOIN sk ON sk.cms_row = pl.cms_row
                                  AND sk.cms_bucket = pl.cms_bucket
              GROUP BY pl.p_partkey),
            ex AS (SELECT l_partkey AS p_partkey, count(*) AS exact_count
                   FROM lineitem GROUP BY 1)
            SELECT est.p_partkey,
                   coalesce(ex.exact_count, 0) AS exact_count,
                   est.cms_estimate
            FROM est LEFT JOIN ex ON ex.p_partkey = est.p_partkey
        """,
        # brute-force anti-dominance join — independent of the two-phase
        # distributed plan
        "q_skyline": """
            SELECT p_partkey, p_size, p_retailprice FROM part a
            WHERE NOT EXISTS (
              SELECT 1 FROM part b
              WHERE b.p_size >= a.p_size
                AND b.p_retailprice >= a.p_retailprice
                AND (b.p_size > a.p_size
                     OR b.p_retailprice > a.p_retailprice))
        """,
        "q_kcore": _kcore_sql(12, 6),
        # neighbor-pair formulation (plain id order) vs the engine's
        # degree-ordered wedge scheme — independent triangle counting
        "q_clustering_coeff": f"""
            WITH {_MD5_GRAPH_SQL},
            und AS (SELECT DISTINCT least(src, dst) AS u,
                           greatest(src, dst) AS v
                    FROM ed WHERE src <> dst),
            nb AS (SELECT u AS n, v AS m FROM und
                   UNION ALL SELECT v AS n, u AS m FROM und),
            deg AS (SELECT n, count(*) AS d FROM nb GROUP BY n),
            tri AS (SELECT n1.n AS n, count(*) AS t
                    FROM nb n1 JOIN nb n2 ON n2.n = n1.n AND n2.m > n1.m
                    WHERE EXISTS (SELECT 1 FROM und e
                                  WHERE e.u = least(n1.m, n2.m)
                                    AND e.v = greatest(n1.m, n2.m))
                    GROUP BY n1.n)
            SELECT deg.n AS node, deg.d AS degree,
                   coalesce(tri.t, 0) AS n_tri,
                   CASE WHEN deg.d >= 2
                        THEN CAST(2 * coalesce(tri.t, 0) AS DOUBLE)
                             / CAST(deg.d * (deg.d - 1) AS DOUBLE)
                        ELSE 0.0 END AS cc
            FROM deg LEFT JOIN tri ON tri.n = deg.n
        """,
        # independent window-rank formulation of the sketch merge (the
        # engine merges k-length ARRAYS; the oracle re-ranks the union)
        "q_kmv_setops": f"""
            WITH ha AS (
              SELECT grp, hv,
                     row_number() OVER (PARTITION BY grp ORDER BY hv) AS rn
              FROM (SELECT DISTINCT l_returnflag AS grp,
                           {_hex40_bigint_sql(
                               "md5(CAST(l_partkey AS VARCHAR))")} AS hv
                    FROM lineitem WHERE l_linenumber <= 3)),
            ka AS (SELECT grp, hv FROM ha WHERE rn <= 64),
            sa AS (SELECT grp, count(*) AS n, max(hv) AS hk
                   FROM ka GROUP BY grp),
            hb AS (
              SELECT grp, hv,
                     row_number() OVER (PARTITION BY grp ORDER BY hv) AS rn
              FROM (SELECT DISTINCT l_returnflag AS grp,
                           {_hex40_bigint_sql(
                               "md5(CAST(l_partkey AS VARCHAR))")} AS hv
                    FROM lineitem WHERE l_linenumber >= 2)),
            kb AS (SELECT grp, hv FROM hb WHERE rn <= 64),
            sb AS (SELECT grp, count(*) AS n, max(hv) AS hk
                   FROM kb GROUP BY grp),
            hu AS (
              SELECT grp, hv,
                     row_number() OVER (PARTITION BY grp ORDER BY hv) AS rn
              FROM (SELECT DISTINCT grp, hv FROM
                      (SELECT * FROM ka UNION ALL SELECT * FROM kb))),
            ku AS (SELECT grp, hv FROM hu WHERE rn <= 64),
            su AS (SELECT grp, count(*) AS n, max(hv) AS hk
                   FROM ku GROUP BY grp),
            ests AS (
              SELECT sa.grp,
                     CASE WHEN sa.n < 64 THEN CAST(sa.n AS DOUBLE)
                          ELSE 69269232549888.0 / CAST(sa.hk AS DOUBLE)
                     END AS est_a,
                     CASE WHEN sb.n < 64 THEN CAST(sb.n AS DOUBLE)
                          ELSE 69269232549888.0 / CAST(sb.hk AS DOUBLE)
                     END AS est_b,
                     CASE WHEN su.n < 64 THEN CAST(su.n AS DOUBLE)
                          ELSE 69269232549888.0 / CAST(su.hk AS DOUBLE)
                     END AS est_union
              FROM sa JOIN sb ON sb.grp = sa.grp
                      JOIN su ON su.grp = sa.grp)
            SELECT grp AS l_returnflag, est_a, est_b, est_union,
                   (est_a + est_b) - est_union AS est_intersect,
                   ((est_a + est_b) - est_union) / est_union AS jaccard_est
            FROM ests
        """,
        # DuckDB runs its own recursive CTE — fully independent engine path
        "q_recursive_cte": """
            WITH RECURSIVE chain(root, node) AS (
              SELECT o_orderkey, o_orderkey FROM orders WHERE o_orderkey < 400
              UNION ALL
              SELECT root, node // 2 FROM chain WHERE node > 0
            )
            SELECT root, count(*) AS chain_len,
                   CAST(sum(node) AS BIGINT) AS chain_sum
            FROM chain GROUP BY root
        """,
        # the pruned read is a superset + exact predicate, so the
        # expected result is the plain filtered aggregate
        "q_sink_zorder": """
            WITH d AS (SELECT l_orderkey * 10 + l_linenumber AS doc_id
                       FROM lineitem),
            e AS (SELECT doc_id, doc_id * 7919 % 1000 AS a,
                         doc_id * 104729 % 1000 AS b FROM d)
            SELECT count(*) AS n, CAST(sum(doc_id) AS BIGINT) AS id_sum,
                   min(doc_id) AS id_min, max(doc_id) AS id_max
            FROM e
            WHERE a BETWEEN 100 AND 299 AND b BETWEEN 400 AND 599
        """,
        # bucket pruning is a superset read; the exact IN-filter defines
        # the expected rows
        "q_sink_bucket": """
            WITH d AS (SELECT l_orderkey * 10 + l_linenumber AS doc_id,
                              l_quantity AS qty, l_returnflag AS flag
                       FROM lineitem)
            SELECT doc_id, qty, flag FROM d
            WHERE doc_id IN (1, 71, 101, 171, 181, 191, 201, 999999991)
        """,
        # pruning is a superset read; the in-query asserts pin that
        # files were actually skipped, the hash pins no row was lost
        "q_sink_bloom": """
            WITH d AS (SELECT l_orderkey * 10 + l_linenumber AS doc_id,
                              l_quantity AS qty, l_returnflag AS flag
                       FROM lineitem WHERE l_orderkey < 1000)
            SELECT doc_id, qty, flag FROM d
            WHERE doc_id IN (11, 31, 42, 1013, 3022, 6081, 7772, 9991, 999999991)
        """,
        "q_incr_mv": _ora_incr_mv(),
        # exact-integer moments -> fixed IEEE chain (morans_i discipline)
        "q_corr": """
            WITH d AS (SELECT l_returnflag, CAST(l_quantity AS BIGINT) AS x,
                              CAST(floor(l_extendedprice) AS BIGINT) AS y
                       FROM lineitem WHERE l_orderkey < 20000),
            m AS (SELECT l_returnflag, count(*) AS n,
                         CAST(sum(x) AS BIGINT) AS sx,
                         CAST(sum(x * x) AS BIGINT) AS sxx,
                         CAST(sum(y) AS BIGINT) AS sy,
                         CAST(sum(y * y) AS BIGINT) AS syy,
                         CAST(sum(x * y) AS BIGINT) AS sxy
                  FROM d GROUP BY l_returnflag)
            SELECT l_returnflag, n,
                   CAST(n * sxy - sx * sy AS DOUBLE)
                     / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
                        * sqrt(CAST(n * syy - sy * sy AS DOUBLE))) AS corr
            FROM m
        """,
        "q_ols": """
            WITH d AS (SELECT l_returnflag, CAST(l_quantity AS BIGINT) AS x,
                              CAST(floor(l_extendedprice) AS BIGINT) AS y
                       FROM lineitem WHERE l_orderkey < 20000),
            m AS (SELECT l_returnflag, count(*) AS n,
                         CAST(sum(x) AS BIGINT) AS sx,
                         CAST(sum(x * x) AS BIGINT) AS sxx,
                         CAST(sum(y) AS BIGINT) AS sy,
                         CAST(sum(x * y) AS BIGINT) AS sxy
                  FROM d GROUP BY l_returnflag),
            s AS (SELECT l_returnflag, n, sx, sy,
                         CAST(n * sxy - sx * sy AS DOUBLE)
                           / CAST(n * sxx - sx * sx AS DOUBLE) AS slope
                  FROM m)
            SELECT l_returnflag, n, slope,
                   (CAST(sy AS DOUBLE) - slope * CAST(sx AS DOUBLE))
                     / CAST(n AS DOUBLE) AS intercept
            FROM s
        """,
        # per-term micro-unit quantization (HALF-UP floor(x*1e6+0.5))
        # makes the chi-square sum order-free exact
        "q_chi2_drift": """
            WITH d AS (SELECT l_returnflag AS c,
                              CASE WHEN l_linenumber <= 3 THEN 'a'
                                   ELSE 'b' END AS s
                       FROM lineitem),
            per AS (SELECT c, count(CASE WHEN s = 'a' THEN 1 END) AS oa,
                           count(CASE WHEN s = 'b' THEN 1 END) AS ob
                    FROM d GROUP BY c),
            tot AS (SELECT count(CASE WHEN s = 'a' THEN 1 END) AS ca,
                           count(CASE WHEN s = 'b' THEN 1 END) AS cb
                    FROM d),
            terms AS (
              SELECT p.oa + p.ob + 0 AS r, t.ca + t.cb AS n,
                     CAST(floor(
                       (CAST(p.oa * (t.ca + t.cb) - (p.oa + p.ob) * t.ca
                             AS DOUBLE)
                        * CAST(p.oa * (t.ca + t.cb) - (p.oa + p.ob) * t.ca
                               AS DOUBLE))
                       / CAST((t.ca + t.cb) * (p.oa + p.ob) * t.ca AS DOUBLE)
                       * 1000000.0 + 0.5) AS BIGINT)
                     +
                     CAST(floor(
                       (CAST(p.ob * (t.ca + t.cb) - (p.oa + p.ob) * t.cb
                             AS DOUBLE)
                        * CAST(p.ob * (t.ca + t.cb) - (p.oa + p.ob) * t.cb
                               AS DOUBLE))
                       / CAST((t.ca + t.cb) * (p.oa + p.ob) * t.cb AS DOUBLE)
                       * 1000000.0 + 0.5) AS BIGINT) AS tq
              FROM per p, tot t)
            SELECT n AS n_total, count(*) - 1 AS dof,
                   CAST(CAST(sum(tq) AS BIGINT) AS DOUBLE) / 1000000.0
                       AS chi2
            FROM terms GROUP BY n
        """,
        # doubled rank sums keep tie-averaged ranks exact int64; the
        # tie-corrected z is the same fixed IEEE chain as the engine
        "q_mannwhitney": """
            WITH d AS (SELECT CAST(l_quantity AS BIGINT) AS v,
                              CASE WHEN l_linenumber <= 3 THEN 'a'
                                   ELSE 'b' END AS s
                       FROM lineitem),
            per AS (SELECT v,
                           count(CASE WHEN s = 'a' THEN 1 END) AS na,
                           count(CASE WHEN s = 'b' THEN 1 END) AS nb
                    FROM d GROUP BY v),
            cum AS (SELECT na, na + nb AS cnt,
                           sum(na + nb) OVER (ORDER BY v) - (na + nb)
                               AS bef
                    FROM per),
            c AS (SELECT CAST(sum(na * (2 * bef + cnt + 1)) AS BIGINT)
                             AS r2a,
                         CAST(sum(cnt * cnt * cnt - cnt) AS BIGINT)
                             AS ties
                  FROM cum),
            tot AS (SELECT count(CASE WHEN s = 'a' THEN 1 END) AS n_a,
                           count(CASE WHEN s = 'b' THEN 1 END) AS n_b
                    FROM d)
            SELECT n_a, n_b,
                   CAST(r2a - n_a * (n_a + 1) AS DOUBLE) / 2.0 AS u_a,
                   CAST((r2a - n_a * (n_a + 1)) - n_a * n_b AS DOUBLE)
                     / (2.0 * sqrt(
                         CAST(n_a * n_b AS DOUBLE)
                         * CAST((n_a + n_b) * (n_a + n_b) * (n_a + n_b)
                                - (n_a + n_b) - ties AS DOUBLE)
                         / CAST(12 * (n_a + n_b) * (n_a + n_b - 1)
                                AS DOUBLE)))
                       AS z
            FROM c, tot
        """,
        # lower-median / MAD replay over distinct-value cumulative
        # counts; `//` keeps DuckDB at Spark's truncating semantics
        "q_robust_z": """
            WITH d AS (SELECT l_returnflag AS g,
                              CAST(l_quantity AS BIGINT) AS x
                       FROM lineitem WHERE l_orderkey < 20000),
            per AS (SELECT g, x AS v, count(*) AS c FROM d GROUP BY g, x),
            cum AS (SELECT g, v,
                           sum(c) OVER (PARTITION BY g ORDER BY v) AS cm,
                           sum(c) OVER (PARTITION BY g) AS n
                    FROM per),
            med AS (SELECT g, min(v) AS med FROM cum
                    WHERE cm >= (n + 1) // 2 GROUP BY g),
            dev AS (SELECT d.g, d.x, med.med, abs(d.x - med.med) AS dv
                    FROM d JOIN med ON med.g = d.g),
            per2 AS (SELECT g, dv AS v, count(*) AS c FROM dev
                     GROUP BY g, dv),
            cum2 AS (SELECT g, v,
                            sum(c) OVER (PARTITION BY g ORDER BY v) AS cm,
                            sum(c) OVER (PARTITION BY g) AS n
                     FROM per2),
            mad AS (SELECT g, min(v) AS mad FROM cum2
                    WHERE cm >= (n + 1) // 2 GROUP BY g)
            SELECT dev.g AS l_returnflag, dev.x AS x, dev.med AS med,
                   mad.mad AS mad,
                   CASE WHEN mad.mad > 0
                        THEN CAST(dev.x - dev.med AS DOUBLE)
                             / CAST(mad.mad AS DOUBLE) END AS robust_z
            FROM dev JOIN mad ON mad.g = dev.g
            WHERE CAST(dev.dv AS DOUBLE) >= 2.0 * CAST(mad.mad AS DOUBLE)
        """,
        # full filter replay: DuckDB rebuilds the identical 32-bit words
        # (seeded 40-bit md5 positions, bit_or agg) and probes them
        "q_bloom": f"""
            WITH seeds(i) AS (VALUES (0), (1), (2), (3)),
            ins AS (
              SELECT {_hex40_bigint_sql(
                  "md5(CAST(s.i AS VARCHAR) || ':' "
                  "|| CAST(l.l_partkey AS VARCHAR))")} % 131072 AS p
              FROM lineitem l CROSS JOIN seeds s),
            sk AS (SELECT p // 32 AS w,
                          bit_or(CAST(1 AS BIGINT)
                                 << CAST(p % 32 AS INTEGER)) AS bits
                   FROM ins GROUP BY 1),
            probes AS (SELECT CASE WHEN p_partkey % 2 = 0 THEN p_partkey
                                   ELSE p_partkey + 10000000 END
                                  AS probe_key
                       FROM part WHERE p_partkey % 7 = 0),
            pl AS (
              SELECT probe_key,
                     {_hex40_bigint_sql(
                         "md5(CAST(s.i AS VARCHAR) || ':' "
                         "|| CAST(probe_key AS VARCHAR))")} % 131072 AS p
              FROM probes CROSS JOIN seeds s)
            SELECT probe_key,
                   min(CASE WHEN (coalesce(sk.bits, 0)
                                  & (CAST(1 AS BIGINT)
                                     << CAST(pl.p % 32 AS INTEGER))) <> 0
                            THEN 1 ELSE 0 END) = 1 AS bloom_member
            FROM pl LEFT JOIN sk ON sk.w = pl.p // 32
            GROUP BY probe_key
        """,
        # identical-register HLL rebuild: bucket = 2-hex-char prefix,
        # rho = 41 - bit_length of the 40-bit suffix (bin() exists in
        # both engines and never left-pads)
        "q_hll": f"""
            WITH h AS (SELECT md5('hll:' || CAST(l_partkey AS VARCHAR)) AS hx
                       FROM lineitem),
            r AS (SELECT {_hexn_bigint_sql("hx", 1, 2)} AS b,
                         {_hexn_bigint_sql("hx", 3, 10)} AS v40
                  FROM h)
            SELECT CAST(b AS INTEGER) AS hll_bucket,
                   CAST(max(CASE WHEN v40 = 0 THEN 41
                                 ELSE 41 - length(bin(v40)) END) AS INTEGER)
                       AS hll_register
            FROM r GROUP BY b
        """,
        "q_hll_est": f"""
            WITH h AS (SELECT md5('hll:' || CAST(l_partkey AS VARCHAR)) AS hx
                       FROM lineitem),
            r AS (SELECT {_hexn_bigint_sql("hx", 1, 2)} AS b,
                         {_hexn_bigint_sql("hx", 3, 10)} AS v40
                  FROM h),
            sk AS (SELECT b,
                          max(CASE WHEN v40 = 0 THEN 41
                                   ELSE 41 - length(bin(v40)) END) AS reg
                   FROM r GROUP BY b),
            f AS (SELECT count(*) AS obs,
                         CAST((256 - count(*)) * (CAST(1 AS BIGINT) << 41)
                              + sum(CAST(1 AS BIGINT) << CAST(41 - reg AS INTEGER))
                              AS BIGINT) AS s
                  FROM sk)
            SELECT CAST(256 AS INTEGER) AS hll_m,
                   CAST(obs AS BIGINT) AS hll_observed,
                   s AS s_scaled,
                   CAST(floor(CAST({_HLL_EST_NUM!r} AS DOUBLE)
                              / CAST(s AS DOUBLE)) AS BIGINT) AS est_floor
            FROM f
        """,
        # independent formulation: two plain global ranking windows vs
        # the engine's distributed two-pass prefix-sum ranks
        "q_str_partition": """
            WITH pts AS (
              SELECT c_custkey AS doc_id,
                     CAST(-60.0 + ((c_custkey * 7919) % 120000) / 1000.0
                          AS DOUBLE) AS lat,
                     CAST(-150.0 + ((c_custkey * 104729) % 300000) / 1000.0
                          AS DOUBLE) AS lon
              FROM customer),
            rx AS (SELECT doc_id, lat, lon,
                          row_number() OVER (ORDER BY lon, doc_id) - 1 AS rank_x,
                          count(*) OVER () AS n
                   FROM pts),
            sl AS (SELECT *, CAST((rank_x * 4) // n AS INTEGER) AS str_slab
                   FROM rx),
            ry AS (SELECT doc_id, str_slab,
                          row_number() OVER (PARTITION BY str_slab
                                             ORDER BY lat, doc_id) - 1 AS rank_y,
                          count(*) OVER (PARTITION BY str_slab) AS m
                   FROM sl)
            SELECT doc_id, str_slab,
                   CAST((rank_y * 4) // m AS INTEGER) AS str_tile,
                   CAST(str_slab * 4 + (rank_y * 4) // m AS INTEGER) AS part_id
            FROM ry
        """,
        # full scalar replay: snap -> segment int lengths -> running
        # chainage -> ceil-DIV sample indexes -> one fixed IEEE
        # interpolation chain (same bits as the engine)
        "q_points_along": """
            WITH pos AS (
              SELECT user_id, event_id,
                     CAST(floor(CAST(-60.0 + ((event_id * 7919) % 120000)
                                     / 1000.0 AS DOUBLE)
                                * 1000000.0 + 0.5) AS BIGINT) AS y,
                     CAST(floor(CAST(-150.0 + ((event_id * 104729) % 300000)
                                     / 1000.0 AS DOUBLE)
                                * 1000000.0 + 0.5) AS BIGINT) AS x
              FROM events WHERE event_id < 2000),
            segs AS (
              SELECT user_id, event_id,
                     lag(x) OVER w AS ax, lag(y) OVER w AS ay,
                     x AS bx, y AS by,
                     max(event_id) OVER (PARTITION BY user_id) AS max_seq
              FROM pos WINDOW w AS (PARTITION BY user_id ORDER BY event_id)),
            s2 AS (
              SELECT *,
                     CAST(floor(sqrt(CAST((bx-ax)*(bx-ax) + (by-ay)*(by-ay)
                                          AS DOUBLE)) + 0.5) AS BIGINT) AS len
              FROM segs WHERE ax IS NOT NULL),
            s3 AS (
              SELECT *,
                     coalesce(sum(len) OVER (PARTITION BY user_id
                                             ORDER BY event_id
                                             ROWS BETWEEN UNBOUNDED PRECEDING
                                             AND 1 PRECEDING), 0) AS cum,
                     sum(len) OVER (PARTITION BY user_id) AS total
              FROM s2),
            s4 AS (
              SELECT *,
                     CAST((cum + 49999999) // 50000000 AS BIGINT) AS k_lo,
                     CAST((cum + len + 49999999) // 50000000 - 1
                       + CASE WHEN event_id = max_seq
                                   AND total % 50000000 = 0
                              THEN 1 ELSE 0 END AS BIGINT) AS k_hi
              FROM s3),
            e AS (
              SELECT user_id, ax, ay, bx, by, cum, len,
                     unnest(generate_series(k_lo, k_hi)) AS sample_k
              FROM s4 WHERE k_hi >= k_lo),
            t AS (
              SELECT *,
                     CASE WHEN len > 0
                          THEN CAST(sample_k * 50000000 - cum AS DOUBLE)
                               / CAST(len AS DOUBLE)
                          ELSE CAST(0.0 AS DOUBLE) END AS tt
              FROM e)
            SELECT user_id,
                   CAST(sample_k AS BIGINT) AS sample_k,
                   CAST(sample_k * 50000000 AS BIGINT) AS chain,
                   CAST(ax AS DOUBLE) + tt * CAST(bx - ax AS DOUBLE) AS px,
                   CAST(ay AS DOUBLE) + tt * CAST(by - ay AS DOUBLE) AS py
            FROM t
        """,
        "q_hll_grouped": f"""
            WITH h AS (SELECT l_returnflag,
                              md5('hll:' || CAST(l_partkey AS VARCHAR)) AS hx
                       FROM lineitem),
            r AS (SELECT l_returnflag,
                         {_hexn_bigint_sql("hx", 1, 2)} AS b,
                         {_hexn_bigint_sql("hx", 3, 10)} AS v40
                  FROM h),
            sk AS (SELECT l_returnflag, b,
                          max(CASE WHEN v40 = 0 THEN 41
                                   ELSE 41 - length(bin(v40)) END) AS reg
                   FROM r GROUP BY l_returnflag, b),
            f AS (SELECT l_returnflag, count(*) AS obs,
                         CAST((256 - count(*)) * (CAST(1 AS BIGINT) << 41)
                              + sum(CAST(1 AS BIGINT) << CAST(41 - reg AS INTEGER))
                              AS BIGINT) AS s
                  FROM sk GROUP BY l_returnflag)
            SELECT l_returnflag,
                   CAST(256 AS INTEGER) AS hll_m,
                   CAST(obs AS BIGINT) AS hll_observed,
                   s AS s_scaled,
                   CAST(floor(CAST({_HLL_EST_NUM!r} AS DOUBLE)
                              / CAST(s AS DOUBLE)) AS BIGINT) AS est_floor
            FROM f
        """,
        "q_orc_source": """
            SELECT l_returnflag, count(*) AS n_rows,
                   CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
                   CAST(sum(l_orderkey) AS BIGINT) AS sum_key
            FROM lineitem GROUP BY l_returnflag
        """,
        # character-window replay: generate_series + substr + md5
        "q_dup_substr": """
            WITH g AS (
              SELECT doc_id,
                     md5(substr(text, CAST(p AS INTEGER), 30)) AS gram_key
              FROM documents, LATERAL (
                SELECT unnest(generate_series(1, len(text) - 29)) AS p) s
              WHERE len(text) >= 30)
            SELECT gram_key,
                   count(DISTINCT doc_id) AS n_docs,
                   count(*) AS n_occurrences
            FROM g GROUP BY gram_key HAVING count(*) >= 3
        """,
        "q_dup_substr_spans": """
            WITH d AS (SELECT doc_id, text FROM documents
                       WHERE doc_id < 1500),
            g AS (
              SELECT doc_id, p,
                     md5(substr(text, CAST(p AS INTEGER), 30)) AS gram_key
              FROM d, LATERAL (
                SELECT unnest(generate_series(1, len(text) - 29)) AS p) s
              WHERE len(text) >= 30),
            dup AS (SELECT gram_key FROM g GROUP BY gram_key
                    HAVING count(*) >= 3)
            SELECT g.doc_id,
                   count(*) AS n_dup_windows,
                   CAST(min(g.p) AS INTEGER) AS first_pos,
                   CAST(max(g.p) AS INTEGER) AS last_pos
            FROM g JOIN dup ON dup.gram_key = g.gram_key
            GROUP BY g.doc_id
        """,
        # change-run collapse + lead() interval close, null-safe compare
        "q_scd2": """
            WITH e AS (SELECT user_id, ts, event_type, event_id
                       FROM events WHERE user_id < 200),
            f AS (SELECT user_id, ts, event_type, event_id,
                         lag(event_type) OVER w AS prev,
                         lag(ts) OVER w AS pts
                  FROM e
                  WINDOW w AS (PARTITION BY user_id
                               ORDER BY ts, event_id)),
            runs AS (SELECT user_id, ts, event_type, event_id FROM f
                     WHERE pts IS NULL
                        OR event_type IS DISTINCT FROM prev),
            o AS (SELECT user_id, event_type, ts AS valid_from,
                         lead(ts) OVER (PARTITION BY user_id
                                        ORDER BY ts, event_id)
                             AS valid_to
                  FROM runs)
            SELECT user_id, event_type,
                   epoch_us(valid_from) AS valid_from_us,
                   epoch_us(valid_to) AS valid_to_us,
                   valid_to IS NULL AS is_current
            FROM o
        """,
        "q_spearman": """
            WITH d AS (SELECT l_returnflag,
                              CAST(l_quantity AS BIGINT) AS x,
                              CAST(floor(l_extendedprice) AS BIGINT) AS y,
                              l_orderkey, l_linenumber, l_partkey,
                              l_suppkey, l_extendedprice, l_discount
                       FROM lineitem WHERE l_orderkey < 20000),
            r AS (SELECT l_returnflag,
                         row_number() OVER (PARTITION BY l_returnflag
                             ORDER BY x, l_orderkey, l_linenumber,
                                      l_partkey, l_suppkey,
                                      l_extendedprice, l_discount) AS rx,
                         row_number() OVER (PARTITION BY l_returnflag
                             ORDER BY y, l_orderkey, l_linenumber,
                                      l_partkey, l_suppkey,
                                      l_extendedprice, l_discount) AS ry
                  FROM d),
            m AS (SELECT l_returnflag, count(*) AS n,
                         CAST(sum(rx) AS BIGINT) AS sx,
                         CAST(sum(rx * rx) AS BIGINT) AS sxx,
                         CAST(sum(ry) AS BIGINT) AS sy,
                         CAST(sum(ry * ry) AS BIGINT) AS syy,
                         CAST(sum(rx * ry) AS BIGINT) AS sxy
                  FROM r GROUP BY l_returnflag)
            SELECT l_returnflag, n,
                   CAST(n * sxy - sx * sy AS DOUBLE)
                     / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
                        * sqrt(CAST(n * syy - sy * sy AS DOUBLE)))
                       AS spearman
            FROM m
        """,
        "q_ks_drift": """
            WITH d AS (SELECT l_quantity AS v,
                              CASE WHEN l_linenumber <= 3 THEN 'a'
                                   ELSE 'b' END AS s
                       FROM lineitem),
            per AS (SELECT v, count(CASE WHEN s = 'a' THEN 1 END) AS na,
                           count(CASE WHEN s = 'b' THEN 1 END) AS nb
                    FROM d GROUP BY v),
            cum AS (SELECT CAST(sum(na) OVER w AS BIGINT) AS ca,
                           CAST(sum(nb) OVER w AS BIGINT) AS cb
                    FROM per
                    WINDOW w AS (ORDER BY v
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
            tot AS (SELECT count(CASE WHEN s = 'a' THEN 1 END) AS n_a,
                           count(CASE WHEN s = 'b' THEN 1 END) AS n_b
                    FROM d)
            SELECT t.n_a, t.n_b,
                   CAST(max(abs(c.ca * t.n_b - c.cb * t.n_a)) AS DOUBLE)
                     / CAST(t.n_a * t.n_b AS DOUBLE) AS ks_d
            FROM cum c, tot t
            GROUP BY t.n_a, t.n_b
        """,
        "q_zscore": """
            WITH d AS (SELECT l_orderkey, l_linenumber, l_returnflag,
                              CAST(l_quantity AS BIGINT) AS x
                       FROM lineitem WHERE l_orderkey < 2000),
            m AS (SELECT l_returnflag, count(*) AS n,
                         CAST(sum(x) AS BIGINT) AS sx,
                         CAST(sum(x * x) AS BIGINT) AS sxx
                  FROM d GROUP BY l_returnflag)
            SELECT d.l_orderkey, d.l_linenumber, d.l_returnflag, d.x,
                   CAST(m.n * d.x - m.sx AS DOUBLE)
                     / sqrt(CAST(m.n * m.sxx - m.sx * m.sx AS DOUBLE)
                            * (CAST(m.n AS DOUBLE)
                               / CAST(m.n - 1 AS DOUBLE))) AS z
            FROM d JOIN m ON m.l_returnflag = d.l_returnflag
        """,
        # temporal pruning is a superset read; epoch_us matches the
        # engine's _epoch_micros convention on naive timestamps
        "q_sink_timeprune": """
            SELECT count(*) AS n, CAST(sum(event_id) AS BIGINT) AS id_sum,
                   min(event_id) AS id_min, max(event_id) AS id_max
            FROM events
            WHERE epoch_us(ts) BETWEEN 1704844800000000 AND 1705276800000000
        """,
        "q_grouping_sets": """
            SELECT l_returnflag, l_linestatus,
                   grouping(l_returnflag) AS g1, grouping(l_linestatus) AS g2,
                   count(*) AS n, round(sum(l_quantity), 2) AS qty
            FROM lineitem
            GROUP BY GROUPING SETS ((l_returnflag, l_linestatus),
                                    (l_returnflag), ())
        """,
        "q_media_neardup": _ora_media_neardup(),
        # exact-int Σv·Δt / ΣΔt (Δt in whole seconds); epoch_us matches
        # the engine's naive-UTC convention
        "q_twap": """
            WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS tu,
                              CAST(floor(value * 1000) AS BIGINT) AS vq
                       FROM events),
            w AS (SELECT user_id, vq,
                         (lead(tu) OVER (PARTITION BY user_id
                              ORDER BY tu, event_id) - tu)
                             // 1000000 AS dt
                  FROM e)
            SELECT user_id, count(*) AS n_obs,
                   CAST(CAST(sum(vq * dt) AS BIGINT) AS DOUBLE)
                     / CAST(CAST(sum(dt) AS BIGINT) AS DOUBLE) AS twap
            FROM w GROUP BY user_id
        """,
        "q_rolling": """
            SELECT l_orderkey, l_linenumber, l_returnflag,
                   CAST(sum(CAST(l_quantity AS BIGINT)) OVER w AS BIGINT)
                       AS roll_qty,
                   count(*) OVER w AS roll_n,
                   max(CAST(l_quantity AS BIGINT)) OVER w AS roll_max
            FROM lineitem WHERE l_orderkey < 3000
            WINDOW w AS (PARTITION BY l_returnflag
                         ORDER BY l_orderkey, l_linenumber, l_partkey,
                                  l_suppkey, l_quantity
                         ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)
        """,
        "q_audio_frames": """
            WITH u AS (SELECT DISTINCT user_id FROM events),
            c AS (SELECT user_id AS clip_id,
                         200 + (user_id * 37) % 5000 AS dur_ms FROM u),
            f AS (SELECT clip_id,
                         unnest(generate_series(0,
                             (dur_ms - 400) // 160)) AS frame_idx
                  FROM c WHERE dur_ms >= 400)
            SELECT clip_id, frame_idx,
                   frame_idx * 160 AS start_ms,
                   frame_idx * 160 + 400 AS end_ms
            FROM f
        """,
        # row-major ViT patch grid; `//` = Spark div on the positive
        # domain, sub-patch images emit no rows
        "q_image_patches": """
            WITH m AS (SELECT 'img' || CAST(p_partkey AS VARCHAR)
                                  AS media_ref,
                              (p_size * 7 + 13) // 16 AS nx,
                              ((p_partkey % 37) * 5 + 8) // 16 AS ny
                       FROM part WHERE p_partkey < 500),
            r AS (SELECT media_ref, nx,
                         unnest(generate_series(0, ny - 1)) AS py
                  FROM m WHERE ny > 0 AND nx > 0),
            g AS (SELECT media_ref, nx, py,
                         unnest(generate_series(0, nx - 1)) AS px
                  FROM r)
            SELECT media_ref, py * nx + px AS patch_id, py, px,
                   py * 16 AS y0, px * 16 AS x0
            FROM g
        """,
        "q_debounce": _ora_debounce(),
        # every rule replayed as a verbatim aggregate; count(CASE..)
        # keeps DuckDB at BIGINT (sum would widen to HUGEINT)
        "q_dq_checks": """
            SELECT 'not_null:l_shipdate' AS rule,
                   count(CASE WHEN l_shipdate IS NULL THEN 1 END)
                       AS n_violations
            FROM lineitem
            UNION ALL
            SELECT 'not_null:l_partkey',
                   count(CASE WHEN l_partkey IS NULL THEN 1 END)
            FROM lineitem
            UNION ALL
            SELECT 'range:l_discount',
                   count(CASE WHEN NOT (l_discount BETWEEN 0.0 AND 0.1)
                              THEN 1 END)
            FROM lineitem
            UNION ALL
            SELECT 'range:l_quantity',
                   count(CASE WHEN NOT (l_quantity BETWEEN 1.0 AND 30.0)
                              THEN 1 END)
            FROM lineitem
            UNION ALL
            SELECT 'in_set:l_returnflag',
                   count(CASE WHEN l_returnflag NOT IN ('A', 'N', 'R')
                              THEN 1 END)
            FROM lineitem
            UNION ALL
            SELECT 'unique:l_orderkey,l_linenumber',
                   coalesce(CAST(sum(n - 1) AS BIGINT), 0)
            FROM (SELECT count(*) AS n FROM lineitem
                  GROUP BY l_orderkey, l_linenumber HAVING count(*) > 1)
            UNION ALL
            SELECT 'ref:l_orderkey', count(*)
            FROM lineitem l
            WHERE l_orderkey IS NOT NULL
              AND NOT EXISTS (SELECT 1 FROM orders o
                              WHERE o.o_orderkey = l.l_orderkey)
        """,
        # DuckDB's own LATERAL — independent engine path
        "q_lateral": """
            SELECT c.c_custkey, t.o_orderkey, t.o_totalprice
            FROM customer c, LATERAL (
              SELECT o_orderkey, o_totalprice FROM orders o
              WHERE o.o_custkey = c.c_custkey
              ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) t
            WHERE c.c_custkey < 300
        """,
        "q_bpe": _ora_bpe(),
        # hybrid: the (word -> code) map is the replayed Soundex spec
        # (bit-equal to Spark's native soundex, pinned by pytest);
        # DuckDB recomputes every aggregate from the raw table
        "q_soundex": f"""
            WITH m AS ({_soundex_vocab_values()}),
            tok AS (SELECT unnest(string_split(text, ' ')) AS w
                    FROM documents),
            t AS (SELECT w FROM tok WHERE w <> '')
            SELECT m.code, count(*) AS n_occ,
                   count(DISTINCT t.w) AS n_words, min(t.w) AS first_word
            FROM t JOIN m ON m.w = t.w
            GROUP BY m.code
        """,
        "q_phonetic_join": f"""
            WITH m AS ({_soundex_vocab_values()}),
            probes(probe, pcode) AS (VALUES {", ".join(
                f"('{p}', '{_soundex_py(p)}')" for p in PHONETIC_PROBES)})
            SELECT p.probe, m.w
            FROM probes p JOIN m ON m.code = p.pcode
            WHERE levenshtein(p.probe, m.w) <= 2
        """,
        # Gi* replay: BETWEEN theta join for the 3x3 window (different
        # join algorithm), identical exact-integer + IEEE expression
        "q_getis_ord": f"""
            WITH pts AS ({SQL_POINTS}),
            cells AS (SELECT CAST(floor(lat / 5.0) AS BIGINT) AS cx,
                             CAST(floor(lon / 5.0) AS BIGINT) AS cy,
                             count(*) AS x
                      FROM pts GROUP BY 1, 2),
            tot AS (SELECT count(*) AS n, CAST(sum(x) AS BIGINT) AS s,
                           CAST(sum(x * x) AS BIGINT) AS s2
                    FROM cells),
            win AS (SELECT a.cx, a.cy, count(*) AS wi,
                           CAST(sum(b.x) AS BIGINT) AS ti
                    FROM cells a JOIN cells b
                      ON b.cx BETWEEN a.cx - 1 AND a.cx + 1
                     AND b.cy BETWEEN a.cy - 1 AND a.cy + 1
                    GROUP BY a.cx, a.cy)
            SELECT c.cx, c.cy, c.x, w.wi,
                   CAST(t.n * w.ti - t.s * w.wi AS DOUBLE)
                     / (sqrt(CAST(t.n * t.s2 - t.s * t.s AS DOUBLE))
                        * sqrt(CAST(t.n * w.wi - w.wi * w.wi AS DOUBLE)
                               / CAST(t.n - 1 AS DOUBLE))) AS gi_z
            FROM cells c JOIN win w ON w.cx = c.cx AND w.cy = c.cy, tot t
        """,
        # arithmetic replay of the native Z-order kernels: quantize with
        # the identical IEEE op order, interleave with unrolled >> & *
        "q_zorder": f"""
            {pts},
            q AS (SELECT doc_id,
                    {_zq_sql("lon", -180.0, 180.0, 16)} AS qx,
                    {_zq_sql("lat", -90.0, 90.0, 16)} AS qy,
                    {_zq_sql("lon", -180.0, 180.0, 8)} AS q3x,
                    {_zq_sql("lat", -90.0, 90.0, 8)} AS q3y,
                    {_zq_sql("doc_id", 0.0, float(1 << 21), 8)} AS q3i
                  FROM pts)
            SELECT doc_id,
                   {_zinterleave_sql(["qx", "qy"], 16)} AS zkey2,
                   {_zinterleave_sql(["q3x", "q3y", "q3i"], 8)} AS zkey3
            FROM q
        """,
        # n_null via count(*) - count(col): both engines yield BIGINT
        # (DuckDB sum(int) would widen to HUGEINT)
        "q_profile": """
            SELECT 'l_quantity' AS col_name, count(*) AS n_rows,
                   count(*) - count(l_quantity) AS n_null,
                   count(DISTINCT l_quantity) AS n_distinct,
                   CAST(min(l_quantity) AS DOUBLE) AS min_val,
                   CAST(max(l_quantity) AS DOUBLE) AS max_val
            FROM lineitem
            UNION ALL
            SELECT 'l_discount', count(*), count(*) - count(l_discount),
                   count(DISTINCT l_discount),
                   CAST(min(l_discount) AS DOUBLE),
                   CAST(max(l_discount) AS DOUBLE)
            FROM lineitem
            UNION ALL
            SELECT 'l_partkey', count(*), count(*) - count(l_partkey),
                   count(DISTINCT l_partkey),
                   CAST(min(l_partkey) AS DOUBLE),
                   CAST(max(l_partkey) AS DOUBLE)
            FROM lineitem
            UNION ALL
            SELECT 'l_tax', count(*), count(*) - count(l_tax),
                   count(DISTINCT l_tax),
                   CAST(min(l_tax) AS DOUBLE),
                   CAST(max(l_tax) AS DOUBLE)
            FROM lineitem
        """,
        "q_hilbert": _ora_hilbert(),
        # brute all-pairs token join — completely independent of the
        # engine's prefix filtering; exact integer Jaccard test
        "q_setsim": """
            WITH d AS (SELECT doc_id, text FROM documents WHERE doc_id < 1500),
            tokr AS (SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM d),
            tok AS (SELECT DISTINCT doc_id, t FROM tokr WHERE t <> ''),
            sz AS (SELECT doc_id, count(*) AS n FROM tok GROUP BY doc_id),
            pr AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
                   FROM tok a JOIN tok b ON a.t = b.t AND a.doc_id < b.doc_id
                   GROUP BY 1, 2)
            SELECT pr.id_a, pr.id_b, CAST(pr.inter AS BIGINT) AS n_inter,
                   CAST(sa.n + sb.n - pr.inter AS BIGINT) AS n_union
            FROM pr JOIN sz sa ON sa.doc_id = pr.id_a
                    JOIN sz sb ON sb.doc_id = pr.id_b
            WHERE 10 * pr.inter >= 9 * (sa.n + sb.n - pr.inter)
        """,
        "q_frechet": _ora_frechet(),
        # verbatim BM25: same fixed-order float chain (left-assoc, one
        # avgdl division); non-dyadic constants via exact VARCHAR casts
        "q_bm25": """
            WITH d AS (SELECT doc_id, text FROM documents WHERE doc_id < 1200),
            tokr AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM d),
            tok AS (SELECT * FROM tokr WHERE term <> ''),
            dl AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY doc_id),
            st AS (SELECT (SELECT count(*) FROM d) AS n_docs,
                          (SELECT count(*) FROM tok) AS n_toks),
            hits AS (SELECT * FROM tok
                     WHERE term IN ('the', 'spark', 'data', 'quick')),
            tf AS (SELECT doc_id, term, count(*) AS tf FROM hits GROUP BY 1, 2),
            dfq AS (SELECT term, count(DISTINCT doc_id) AS df
                    FROM hits GROUP BY term)
            SELECT tf.doc_id, count(*) AS n_hits,
                   round(sum(
                     ln((CAST(st.n_docs AS DOUBLE) - CAST(dfq.df AS DOUBLE)
                         + CAST(0.5 AS DOUBLE))
                        / (CAST(dfq.df AS DOUBLE) + CAST(0.5 AS DOUBLE))
                        + CAST(1.0 AS DOUBLE))
                     * CAST(tf.tf AS DOUBLE) * CAST('2.2' AS DOUBLE)
                     / (CAST(tf.tf AS DOUBLE) + CAST('1.2' AS DOUBLE)
                        * (CAST(0.25 AS DOUBLE) + CAST(0.75 AS DOUBLE)
                           * CAST(dl.dl AS DOUBLE)
                           / (CAST(st.n_toks AS DOUBLE)
                              / CAST(st.n_docs AS DOUBLE))))
                   ), 6) AS score
            FROM tf JOIN dfq ON dfq.term = tf.term
                    JOIN dl ON dl.doc_id = tf.doc_id, st
            GROUP BY tf.doc_id
        """,
        "q_labelprop": _ora_labelprop(),
        "q_hex_assign": f"""
            WITH {_ora_hex_cte()}
            SELECT hq, hr, count(*) AS n FROM hex GROUP BY hq, hr
        """,
        "q_lttb": _ora_lttb(),
        "q_pbf_roundtrip": _ora_pbf_roundtrip(),
        "q_snapshot_drift": _ora_snapshot_drift(),
        "q_hilbert_range": _ora_hilbert_range(37, 133, 60, 201),
        # verbatim window replay of the offset spec + row_number idx
        "q_assemble_spans": """
            WITH p AS (
              SELECT event_id % 40 AS doc_id, event_id AS seq,
                     CASE WHEN event_id % 3 = 0 THEN 'media'
                          ELSE 'text' END AS kind,
                     CASE WHEN event_id % 3 = 0 THEN ''
                          ELSE event_type || '-'
                               || CAST(event_id % 7 AS VARCHAR) END AS text,
                     CASE WHEN event_id % 3 = 0
                          THEN 'm' || CAST(event_id AS VARCHAR) END AS media_ref
              FROM events WHERE event_id < 2000)
            SELECT doc_id,
                   CAST(row_number() OVER w - 1 AS INTEGER) AS idx,
                   kind, text, coalesce(media_ref, '') AS media_ref,
                   CAST(coalesce(sum(CASE WHEN length(text) > 0
                                          THEN length(text) + 1 ELSE 0 END)
                       OVER (PARTITION BY doc_id ORDER BY seq
                             ROWS BETWEEN UNBOUNDED PRECEDING
                             AND 1 PRECEDING), 0) AS INTEGER) AS offset
            FROM p
            WINDOW w AS (PARTITION BY doc_id ORDER BY seq)
        """,
        # verbatim lead-window pair counts + one division
        "q_markov": """
            WITH p AS (
              SELECT event_type AS a,
                     lead(event_type) OVER (PARTITION BY user_id
                                            ORDER BY ts, event_id) AS b
              FROM events),
            pp AS (SELECT a, b FROM p WHERE b IS NOT NULL),
            cab AS (SELECT a, b, count(*) AS c_ab FROM pp GROUP BY 1, 2),
            ca AS (SELECT a, count(*) AS c_a FROM pp GROUP BY 1)
            SELECT cab.a, cab.b, cab.c_ab, ca.c_a,
                   CAST(cab.c_ab AS DOUBLE) / CAST(ca.c_a AS DOUBLE) AS p
            FROM cab JOIN ca ON ca.a = cab.a
        """,
        # the same integer type-1 quantile rule + clamp + exact sums
        "q_winsorized": """
            WITH li AS (SELECT l_returnflag,
                               CAST(floor(l_extendedprice) AS BIGINT) AS v
                        FROM lineitem),
            per AS (SELECT l_returnflag, v, count(*) AS c
                    FROM li GROUP BY 1, 2),
            cum AS (SELECT l_returnflag, v,
                           sum(c) OVER (PARTITION BY l_returnflag ORDER BY v
                                        ROWS UNBOUNDED PRECEDING) AS cum,
                           sum(c) OVER (PARTITION BY l_returnflag) AS n
                    FROM per),
            qs AS (SELECT l_returnflag,
                          min(CASE WHEN cum * 20 >= 1 * n THEN v END) AS p05,
                          min(CASE WHEN cum * 20 >= 19 * n THEN v END) AS p95
                   FROM cum GROUP BY l_returnflag)
            SELECT li.l_returnflag, count(*) AS n,
                   CAST(sum(least(greatest(li.v, qs.p05), qs.p95))
                        AS BIGINT) AS sum_w,
                   CAST(sum(least(greatest(li.v, qs.p05), qs.p95)) AS DOUBLE)
                       / CAST(count(*) AS DOUBLE) AS winsorized_mean
            FROM li JOIN qs ON qs.l_returnflag = li.l_returnflag
            GROUP BY li.l_returnflag
        """,
        # same seeded-md5 hash + exact integer interval thresholds
        "q_split": f"""
            SELECT doc_id,
                   CASE WHEN {_hex40_bigint_sql(
                       "md5('0:' || CAST(doc_id AS VARCHAR))"
                   )} < {((1 << 40) * 8) // 10} THEN 'train'
                        WHEN {_hex40_bigint_sql(
                       "md5('0:' || CAST(doc_id AS VARCHAR))"
                   )} < {((1 << 40) * 9) // 10} THEN 'val'
                        ELSE 'test' END AS split
            FROM documents
        """,
        # verbatim +1/-1 running-sum window replay with the same
        # (t, delta) order and earliest-peak argmax
        "q_concurrency": """
            WITH iv AS (
              SELECT user_id % 10 AS key,
                     epoch_us(ts) AS s,
                     epoch_us(ts) + (event_id % 50 + 1) * 60000000 AS e
              FROM events),
            d AS (SELECT key, s AS t, 1 AS dd FROM iv
                  UNION ALL
                  SELECT key, e AS t, -1 AS dd FROM iv),
            run AS (SELECT key, t,
                           sum(dd) OVER (PARTITION BY key ORDER BY t, dd
                                         ROWS UNBOUNDED PRECEDING) AS r
                    FROM d)
            SELECT key, CAST(r AS BIGINT) AS max_concurrent, t AS peak_us FROM (
              SELECT key, r, t, row_number() OVER (
                  PARTITION BY key ORDER BY r DESC, t ASC) AS rn
              FROM run)
            WHERE rn = 1
        """,
        # verbatim replay of the composed chain: counts -> rank ->
        # micro-nat ln-ln -> the exact-integer OLS moments
        "q_zipf": """
            WITH tokr AS (SELECT unnest(string_split(text, ' ')) AS tok
                          FROM documents),
            tok AS (SELECT tok FROM tokr WHERE tok <> ''),
            c AS (SELECT tok, count(*) AS cnt FROM tok GROUP BY tok),
            pts AS (SELECT
              CAST(round(ln(CAST(row_number() OVER (
                  ORDER BY cnt DESC, tok ASC) AS DOUBLE)) * 1000000.0)
                  AS BIGINT) AS x,
              CAST(round(ln(CAST(cnt AS DOUBLE)) * 1000000.0) AS BIGINT) AS y
              FROM c),
            m AS (SELECT count(*) AS n, sum(x) AS sx, sum(y) AS sy,
                         sum(x * x) AS sxx, sum(x * y) AS sxy
                  FROM pts)
            SELECT n,
                   round(CAST(n * sxy - sx * sy AS DOUBLE)
                         / CAST(n * sxx - sx * sx AS DOUBLE), 6) AS zipf_slope,
                   round(((CAST(sy AS DOUBLE)
                           - (CAST(n * sxy - sx * sy AS DOUBLE)
                              / CAST(n * sxx - sx * sx AS DOUBLE))
                             * CAST(sx AS DOUBLE))
                          / CAST(n AS DOUBLE)) / 1000000.0, 6) AS ln_c
            FROM m
        """,
        # FULL OUTER JOIN replay with IS DISTINCT FROM compares
        "q_table_diff": """
            WITH base AS (
              SELECT o_orderkey,
                     CAST(round(o_totalprice * 100) AS BIGINT) AS price_c,
                     o_orderstatus
              FROM orders WHERE o_orderkey < 6000),
            l AS (SELECT * FROM base WHERE o_orderkey % 13 <> 0),
            r AS (SELECT o_orderkey,
                         CASE WHEN o_orderkey % 7 = 0 THEN price_c + 1
                              ELSE price_c END AS price_c,
                         o_orderstatus
                  FROM base WHERE o_orderkey % 11 <> 0)
            SELECT coalesce(l.o_orderkey, r.o_orderkey) AS o_orderkey,
                   CASE WHEN l.o_orderkey IS NULL THEN 'added'
                        WHEN r.o_orderkey IS NULL THEN 'removed'
                        WHEN l.price_c IS DISTINCT FROM r.price_c
                             OR l.o_orderstatus IS DISTINCT FROM r.o_orderstatus
                        THEN 'changed' END AS diff_status
            FROM l FULL OUTER JOIN r ON l.o_orderkey = r.o_orderkey
            WHERE (l.o_orderkey IS NULL OR r.o_orderkey IS NULL
                   OR l.price_c IS DISTINCT FROM r.price_c
                   OR l.o_orderstatus IS DISTINCT FROM r.o_orderstatus)
        """,
        # pointer FOLLOWING via DuckDB's own recursion (vs the engine's
        # pointer DOUBLING) over an independently recomputed D8 field
        "q_basins": """
            WITH RECURSIVE g AS (
              SELECT o_orderkey % 32 AS x,
                     (o_orderkey // 32) % 32 AS y,
                     (o_orderkey * 7919) % 1000 AS z
              FROM orders WHERE o_orderkey < 1024),
            offs(dir, dx, dy) AS (VALUES (0, 1, 0), (1, 1, -1), (2, 0, -1),
                                         (3, -1, -1), (4, -1, 0), (5, -1, 1),
                                         (6, 0, 1), (7, 1, 1)),
            cand AS (SELECT c.x, c.y, o.dir, o.dx, o.dy, c.z - n.z AS drop
                     FROM g c JOIN offs o ON TRUE
                     JOIN g n ON n.x = c.x + o.dx AND n.y = c.y + o.dy
                     WHERE c.z > n.z),
            best AS (SELECT x, y, dx, dy FROM (
                       SELECT cand.*, row_number() OVER (
                           PARTITION BY x, y
                           ORDER BY drop DESC, dir ASC) AS rn
                       FROM cand)
                     WHERE rn = 1),
            ptr AS (SELECT g.x * 1024 + g.y AS node,
                           CASE WHEN b.dx IS NULL THEN g.x * 1024 + g.y
                                ELSE (g.x + b.dx) * 1024 + (g.y + b.dy)
                           END AS next
                    FROM g LEFT JOIN best b ON b.x = g.x AND b.y = g.y),
            rec AS (
              SELECT node, next AS cur FROM ptr
              UNION
              SELECT rec.node, p.next FROM rec JOIN ptr p ON p.node = rec.cur)
            SELECT rec.node, rec.cur AS root
            FROM rec JOIN ptr t ON t.node = rec.cur
            WHERE t.next = rec.cur
        """,
        # 8-offset VALUES join + window rank — independent formulation
        # of the engine's scatter + max(struct) argmax
        "q_flow_dir": """
            WITH g AS (
              SELECT o_orderkey % 32 AS x,
                     (o_orderkey // 32) % 32 AS y,
                     (o_orderkey * 7919) % 1000 AS z
              FROM orders WHERE o_orderkey < 1024),
            offs(dir, dx, dy) AS (VALUES (0, 1, 0), (1, 1, -1), (2, 0, -1),
                                         (3, -1, -1), (4, -1, 0), (5, -1, 1),
                                         (6, 0, 1), (7, 1, 1)),
            cand AS (SELECT c.x, c.y, c.z, o.dir, c.z - n.z AS drop
                     FROM g c JOIN offs o ON TRUE
                     JOIN g n ON n.x = c.x + o.dx AND n.y = c.y + o.dy
                     WHERE c.z > n.z),
            best AS (SELECT x, y, dir, drop FROM (
                       SELECT cand.*, row_number() OVER (
                           PARTITION BY x, y
                           ORDER BY drop DESC, dir ASC) AS rn
                       FROM cand)
                     WHERE rn = 1)
            SELECT g.x, g.y, g.z,
                   CAST(coalesce(b.dir, -1) AS INTEGER) AS flow_dir,
                   coalesce(b.drop, 0) AS drop
            FROM g LEFT JOIN best b ON b.x = g.x AND b.y = g.y
        """,
        # the oracle filters by quantized COORDS and never touches the
        # Z-curve — matching output proves the range decomposition
        "q_zrange": f"""
            WITH pts AS ({SQL_POINTS}),
            q AS (SELECT doc_id,
                         {_zq_sql('lon', -180.0, 180.0, 8)} AS qx,
                         {_zq_sql('lat', -90.0, 90.0, 8)} AS qy
                  FROM pts)
            SELECT doc_id, {_zinterleave_sql(['qx', 'qy'], 8)} AS zkey
            FROM q
            WHERE qx BETWEEN 37 AND 133 AND qy BETWEEN 60 AND 201
        """,
        # cross join + window argmax vs the engine's array fold —
        # independent formulation of the same HRW weight spec
        "q_rendezvous": f"""
            WITH sh(shard) AS (VALUES ('shard0'), ('shard1'), ('shard2'),
                                      ('shard3'), ('shard4'), ('shard5'),
                                      ('shard6')),
            w AS (SELECT c_custkey AS doc_id, sh.shard,
                         {_hex40_bigint_sql(
                             "md5(sh.shard || '|' || CAST(c_custkey AS VARCHAR))"
                         )} AS w
                  FROM customer, sh)
            SELECT doc_id, shard FROM (
              SELECT doc_id, shard,
                     row_number() OVER (PARTITION BY doc_id
                                        ORDER BY w DESC, shard ASC) AS rn
              FROM w)
            WHERE rn = 1
        """,
        # the same integer type-1 rule over DuckDB's window machinery
        "q_quantiles": """
            WITH per AS (
              SELECT l_returnflag, CAST(l_quantity AS BIGINT) AS v,
                     count(*) AS c
              FROM lineitem GROUP BY 1, 2),
            cum AS (
              SELECT l_returnflag, v,
                     sum(c) OVER (PARTITION BY l_returnflag ORDER BY v
                                  ROWS UNBOUNDED PRECEDING) AS cum,
                     sum(c) OVER (PARTITION BY l_returnflag) AS n
              FROM per)
            SELECT l_returnflag,
                   min(CASE WHEN cum * 4 >= 1 * n THEN v END) AS p25,
                   min(CASE WHEN cum * 2 >= 1 * n THEN v END) AS p50,
                   min(CASE WHEN cum * 4 >= 3 * n THEN v END) AS p75,
                   min(CASE WHEN cum * 10 >= 9 * n THEN v END) AS p90,
                   min(CASE WHEN cum * 1 >= 1 * n THEN v END) AS p100
            FROM cum GROUP BY l_returnflag
        """,
        # verbatim micro-nat NB replay: same ln/round chain, window
        # argmax instead of the engine's row_number pick
        "q_nb_classify": """
            WITH tr AS (SELECT doc_id, lang, text FROM documents
                        WHERE doc_id < 400),
            ttokr AS (SELECT lang, unnest(string_split(text, ' ')) AS tok
                      FROM tr),
            ttok AS (SELECT * FROM ttokr WHERE tok <> ''),
            c AS (SELECT lang, tok, count(*) AS c FROM ttok GROUP BY 1, 2),
            t AS (SELECT lang, count(*) AS t FROM ttok GROUP BY 1),
            v AS (SELECT count(DISTINCT tok) AS v FROM ttok),
            nn AS (SELECT count(*) AS n FROM tr),
            lbl AS (SELECT pr.lang, coalesce(t.t, 0) AS t, v.v,
                           CAST(round(ln(CAST(pr.nd AS DOUBLE)
                                         / CAST(nn.n AS DOUBLE))
                                      * 1000000.0) AS BIGINT) AS prior_q
                    FROM (SELECT lang, count(*) AS nd FROM tr GROUP BY 1) pr
                    LEFT JOIN t ON t.lang = pr.lang, nn, v),
            stokr AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
                      FROM documents),
            stok AS (SELECT * FROM stokr WHERE tok <> ''),
            terms AS (SELECT s.doc_id, l.lang,
                             CAST(round(ln(CAST(coalesce(c.c, 0) + 1 AS DOUBLE)
                                           / CAST(l.t + l.v AS DOUBLE))
                                        * 1000000.0) AS BIGINT) AS lq
                      FROM stok s CROSS JOIN lbl l
                      LEFT JOIN c ON c.lang = l.lang AND c.tok = s.tok),
            sums AS (SELECT doc_id, lang, sum(lq) AS s, count(*) AS nt
                     FROM terms GROUP BY 1, 2),
            tot AS (SELECT d.doc_id, l.lang,
                           l.prior_q + coalesce(su.s, 0) AS score_q,
                           coalesce(su.nt, 0) AS n_toks
                    FROM (SELECT doc_id FROM documents) d
                    CROSS JOIN lbl l
                    LEFT JOIN sums su
                      ON su.doc_id = d.doc_id AND su.lang = l.lang)
            SELECT doc_id, lang AS pred_label,
                   CAST(score_q AS BIGINT) AS score_q, n_toks
            FROM (SELECT tot.*, row_number() OVER (
                      PARTITION BY doc_id
                      ORDER BY score_q DESC, lang ASC) AS rn
                  FROM tot)
            WHERE rn = 1
        """,
        # same regex spec on DuckDB's RE2 (vs Spark's Java regex) +
        # CASE-form URL synthesis (vs element_at arrays)
        "q_url_normalize": r"""
            WITH u AS (
              SELECT o_orderkey,
                     (CASE o_orderkey % 3 WHEN 0 THEN 'http'
                           WHEN 1 THEN 'HTTPS' ELSE 'ftp' END)
                     || '://' || 'WWW.Site' || CAST(o_orderkey % 50 AS VARCHAR)
                     || '.Example.COM'
                     || (CASE o_orderkey % 4 WHEN 0 THEN '' WHEN 1 THEN ':80'
                              WHEN 2 THEN ':443' ELSE ':8080' END)
                     || (CASE o_orderkey % 5 WHEN 0 THEN '' WHEN 1 THEN '/'
                              WHEN 2 THEN '/a/b' WHEN 3 THEN '/a/b/'
                              ELSE '/idx.html' END)
                     || (CASE o_orderkey % 2 WHEN 0 THEN '' ELSE '?x=1&y=2' END)
                     || (CASE WHEN o_orderkey % 7 = 0 THEN '#sec' ELSE '' END)
                     AS url
              FROM orders WHERE o_orderkey < 3000),
            p AS (
              SELECT o_orderkey, url,
                regexp_extract(url, '^([a-zA-Z][a-zA-Z0-9+.-]*)://', 1)
                    AS scheme,
                regexp_extract(url, '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#:]*)', 1)
                    AS host,
                regexp_extract(url,
                    '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#:]*:([0-9]+)', 1) AS port,
                regexp_extract(url,
                    '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*(/[^?#]*)', 1) AS path,
                regexp_extract(url, '\?([^#]*)', 1) AS query,
                regexp_extract(url, '#(.*)$', 1) AS fragment
              FROM u),
            n AS (
              SELECT p.*,
                lower(scheme) AS scheme_l, lower(host) AS host_l,
                CASE WHEN port = '' OR (lower(scheme) = 'http' AND port = '80')
                          OR (lower(scheme) = 'https' AND port = '443')
                     THEN '' ELSE ':' || port END AS port_part,
                CASE WHEN path IN ('', '/') THEN '/'
                     ELSE regexp_replace(path, '/$', '') END AS path_n,
                CASE WHEN query = '' THEN '' ELSE '?' || query END AS query_part
              FROM p)
            SELECT o_orderkey, url, scheme, host, port, path, query, fragment,
                   scheme_l || '://' || host_l || port_part || path_n
                       || query_part AS url_norm,
                   regexp_extract(host_l, '([^.]+\.[^.]+)$', 1) AS domain
            FROM n
        """,
        # plain per-group GROUP BY + HAVING — independent of MG
        "q_frequent_grouped": """
            WITH tokr AS (SELECT lang, unnest(string_split(text, ' ')) AS tok
                          FROM documents),
            tok AS (SELECT * FROM tokr WHERE tok <> '')
            SELECT lang, tok, count(*) AS n
            FROM tok GROUP BY lang, tok HAVING count(*) >= 120
        """,
        # plain GROUP BY + HAVING — independent of the MG sketch path
        "q_frequent_items": """
            WITH it AS (
              SELECT CAST(CASE WHEN o_orderkey % 5 < 3
                               THEN o_orderkey % 40
                               ELSE o_orderkey END AS VARCHAR) AS item
              FROM orders)
            SELECT item, count(*) AS n
            FROM it GROUP BY item HAVING count(*) >= 100
        """,
        # verbatim window + trig replay of trajectory_kinematics (the
        # q_line_measures haversine chain + the atan2 bearing chain)
        "q_kinematics": """
            WITH f AS (
              SELECT event_id % 16 AS track_id, ts, event_id,
                     (event_id % 160) - 80 + 0.5 AS lat,
                     ((event_id * 7) % 350) - 175 + 0.25 AS lon
              FROM events),
            l AS (
              SELECT track_id, ts, lat, lon,
                     LAG(lat) OVER w AS pla, LAG(lon) OVER w AS plo,
                     epoch_us(ts) - epoch_us(LAG(ts) OVER w) AS dt_us
              FROM f
              WINDOW w AS (PARTITION BY track_id ORDER BY ts, event_id)),
            h AS (
              SELECT *,
                     SIN(((lat - pla) * 0.017453292519943295) / 2.0) AS sdlat,
                     SIN(((lon - plo) * 0.017453292519943295) / 2.0) AS sdlon,
                     (lon - plo) * 0.017453292519943295 AS dlon
              FROM l WHERE pla IS NOT NULL),
            m AS (
              SELECT track_id, ts, dt_us,
                CAST(ROUND(12742017.6 * ASIN(SQRT(LEAST(GREATEST(
                    sdlat * sdlat
                    + COS(pla * 0.017453292519943295)
                      * COS(lat * 0.017453292519943295) * (sdlon * sdlon)
                  , 0.0), 1.0)))) AS BIGINT) AS dist_m,
                ATAN2(SIN(dlon) * COS(lat * 0.017453292519943295),
                      COS(pla * 0.017453292519943295)
                      * SIN(lat * 0.017453292519943295)
                      - SIN(pla * 0.017453292519943295)
                        * COS(lat * 0.017453292519943295) * COS(dlon))
                  * 57.29577951308232 AS brg
              FROM h)
            SELECT track_id, epoch_us(ts) AS ts_us, dist_m, dt_us,
                   CASE WHEN dt_us > 0 THEN CAST(dist_m AS DOUBLE)
                        * 1000000.0 / CAST(dt_us AS DOUBLE) END AS speed_mps,
                   CASE WHEN dist_m > 0 THEN
                        ROUND(brg - 360.0 * FLOOR(brg / 360.0), 6)
                   END AS bearing_deg
            FROM m
        """,
        # plain BETWEEN theta join + agg — a fully independent
        # algorithm from the engine's cell-cover equi-join path
        "q_zonal": f"""
            WITH pts AS ({SQL_POINTS}),
            pv AS (SELECT doc_id, lat, lon, doc_id % 1000 AS v FROM pts),
            zones AS (SELECT n_nationkey AS zone_id,
                CAST((n_nationkey * 13) % 100 - 60 AS DOUBLE) + 0.5 AS lat_min,
                CAST((n_nationkey * 13) % 100 - 60 AS DOUBLE) + 0.5 + 9.0
                    AS lat_max,
                CAST((n_nationkey * 29) % 280 - 150 AS DOUBLE) + 0.25
                    AS lon_min,
                CAST((n_nationkey * 29) % 280 - 150 AS DOUBLE) + 0.25 + 14.0
                    AS lon_max
              FROM nation),
            hit AS (SELECT z.zone_id, count(*) AS n_pts,
                           sum(p.v) AS sum_v, min(p.v) AS min_v,
                           max(p.v) AS max_v
                    FROM zones z JOIN pv p
                      ON p.lat BETWEEN z.lat_min AND z.lat_max
                     AND p.lon BETWEEN z.lon_min AND z.lon_max
                    GROUP BY z.zone_id)
            SELECT z.zone_id,
                   coalesce(h.n_pts, 0) AS n_pts,
                   CAST(coalesce(h.sum_v, 0) AS BIGINT) AS sum_v,
                   h.min_v, h.max_v,
                   CAST(h.sum_v AS DOUBLE) / CAST(h.n_pts AS DOUBLE) AS mean_v
            FROM zones z LEFT JOIN hit h ON h.zone_id = z.zone_id
        """,
        # scatter-to-ring smoothing: per-hex counts joined against the
        # 7-offset VALUES window, re-aggregated — the grid_smooth
        # double-aggregate convention on the hex lattice
        "q_hex_kring": f"""
            WITH {_ora_hex_cte()},
            cnt AS (SELECT hq, hr, count(*) AS n FROM hex GROUP BY hq, hr),
            offs(dq, dr) AS (VALUES (0, 0), (1, 0), (1, -1), (0, -1),
                                    (-1, 0), (-1, 1), (0, 1))
            SELECT cnt.hq + offs.dq AS hq, cnt.hr + offs.dr AS hr,
                   CAST(sum(cnt.n) AS BIGINT) AS n_ring
            FROM cnt, offs
            GROUP BY 1, 2
        """,
        # Horn gradient replay: 8-coefficient VALUES join, HAVING
        # count = 8 interior guard, same integer sqrt/aspect spec —
        # independent formulation of the engine's scatter aggregate
        "q_slope_aspect": """
            WITH g AS (
              SELECT o_orderkey % 32 AS x,
                     (o_orderkey // 32) % 32 AS y,
                     (o_orderkey * 7919) % 1000 AS z
              FROM orders WHERE o_orderkey < 1024),
            offs(dx, dy, cgx, cgy) AS (VALUES
                (1, 0, 2, 0), (1, 1, 1, 1), (1, -1, 1, -1),
                (-1, 0, -2, 0), (-1, 1, -1, 1), (-1, -1, -1, -1),
                (0, 1, 0, 2), (0, -1, 0, -2)),
            grad AS (
              SELECT c.x, c.y,
                     sum(o.cgx * n.z) AS gx, sum(o.cgy * n.z) AS gy
              FROM g c JOIN offs o ON TRUE
              JOIN g n ON n.x = c.x + o.dx AND n.y = c.y + o.dy
              GROUP BY c.x, c.y HAVING count(*) = 8)
            SELECT g.x, g.y, g.z,
                   CAST(gr.gx AS BIGINT) AS gx, CAST(gr.gy AS BIGINT) AS gy,
                   CAST(floor(sqrt(CAST(gr.gx * gr.gx + gr.gy * gr.gy
                                        AS DOUBLE)) + 0.5) AS BIGINT)
                       AS slope_q,
                   CAST(CASE
                     WHEN gr.gx = 0 AND gr.gy = 0 THEN -1
                     WHEN abs(gr.gx) > abs(gr.gy) THEN
                       CASE WHEN -gr.gx > 0 THEN 0 ELSE 4 END
                     WHEN abs(gr.gy) > abs(gr.gx) THEN
                       CASE WHEN -gr.gy > 0 THEN 6 ELSE 2 END
                     WHEN -gr.gx > 0 AND -gr.gy > 0 THEN 7
                     WHEN -gr.gx > 0 AND -gr.gy < 0 THEN 1
                     WHEN -gr.gx < 0 AND -gr.gy < 0 THEN 3
                     ELSE 5 END AS INTEGER) AS aspect8
            FROM g JOIN grad gr ON gr.x = g.x AND gr.y = g.y
        """,
        "q_dedup_canonical": _ora_dedup_canonical(),
        # full DuckDB replay: md5 nibble-shift bucket hash, add-one
        # smoothed bucket distributions, micro-nat HALF-UP-away-from-
        # zero quantization, same two-division weight chain
        "q_dsir": f"""
            WITH tgt AS (SELECT doc_id, text FROM documents
                         WHERE doc_id % 7 = 0),
            raw AS (SELECT doc_id, text FROM documents WHERE doc_id < 400),
            tfl AS (SELECT list_filter(string_split(text, ' '),
                                       t -> t <> '') AS toks FROM tgt),
            rfl AS (SELECT doc_id,
                           list_filter(string_split(text, ' '),
                                       t -> t <> '') AS toks FROM raw),
            tfe AS (SELECT {_hexn_bigint_sql("md5(f)", 1, 8)} % 512 AS bucket
                    FROM (SELECT unnest(
                            list_transform(toks, t -> '1|' || t)
                            || [('2|' || toks[i] || ' ' || toks[i + 1])
                                for i in generate_series(1, len(toks) - 1)]
                          ) AS f FROM tfl)),
            rfe AS (SELECT doc_id,
                           {_hexn_bigint_sql("md5(f)", 1, 8)} % 512 AS bucket
                    FROM (SELECT doc_id, unnest(
                            list_transform(toks, t -> '1|' || t)
                            || [('2|' || toks[i] || ' ' || toks[i + 1])
                                for i in generate_series(1, len(toks) - 1)]
                          ) AS f FROM rfl)),
            tcnt AS (SELECT bucket, count(*) AS t_cnt FROM tfe GROUP BY bucket),
            pcnt AS (SELECT bucket, count(*) AS p_cnt FROM rfe GROUP BY bucket),
            tt AS (SELECT count(*) AS t FROM tfe),
            pp AS (SELECT count(*) AS p FROM rfe),
            lrq AS (SELECT r.doc_id,
                           ln(CAST(coalesce(tc.t_cnt, 0) + 1 AS DOUBLE)
                              / CAST(tt.t + 512 AS DOUBLE))
                           - ln(CAST(pc.p_cnt + 1 AS DOUBLE)
                                / CAST(pp.p + 512 AS DOUBLE)) AS lr
                    FROM rfe r
                    JOIN pcnt pc ON pc.bucket = r.bucket
                    LEFT JOIN tcnt tc ON tc.bucket = r.bucket, tt, pp),
            sc AS (SELECT doc_id, count(*) AS n_feats,
                          sum(CASE WHEN lr >= 0
                              THEN CAST(floor(lr * 1e6 + 0.5) AS BIGINT)
                              ELSE -CAST(floor(-lr * 1e6 + 0.5) AS BIGINT)
                              END) AS sq
                   FROM lrq GROUP BY doc_id)
            SELECT raw.doc_id,
                   CAST(coalesce(sc.n_feats, 0) AS BIGINT) AS n_feats,
                   CAST(sc.sq AS DOUBLE) / 1e6 / CAST(sc.n_feats AS DOUBLE)
                       AS dsir_weight
            FROM raw LEFT JOIN sc ON sc.doc_id = raw.doc_id
        """,
        "q_mmr": _ora_mmr(),
        # NOT-EXISTS neighbor-pair formulation vs the engine's
        # anti-join wedge plan; one IEEE division of exact ints
        "q_link_predict": f"""
            WITH {_MD5_GRAPH_SQL},
            und AS (SELECT DISTINCT least(src, dst) AS u,
                           greatest(src, dst) AS v
                    FROM ed WHERE src <> dst),
            nb AS (SELECT u AS c, v AS n FROM und
                   UNION ALL SELECT v AS c, u AS n FROM und),
            deg AS (SELECT c AS node, count(*) AS degree FROM nb GROUP BY c),
            pairs AS (SELECT l.n AS u, r.n AS v, count(*) AS n_common
                      FROM nb l JOIN nb r ON r.c = l.c AND l.n < r.n
                      GROUP BY 1, 2
                      HAVING count(*) >= 2),
            cand AS (SELECT p.* FROM pairs p
                     WHERE NOT EXISTS (SELECT 1 FROM und e
                                       WHERE e.u = p.u AND e.v = p.v))
            SELECT c.u, c.v, c.n_common,
                   du.degree AS deg_u, dv.degree AS deg_v,
                   CAST(c.n_common AS DOUBLE)
                   / CAST(du.degree + dv.degree - c.n_common AS DOUBLE)
                       AS jaccard
            FROM cand c
            JOIN deg du ON du.node = c.u
            JOIN deg dv ON dv.node = c.v
        """,
        # DuckDB's own recursion evaluates the identical integer
        # recurrence (nonnegative operands: // == truncating DIV)
        "q_ewma": """
            WITH RECURSIVE s AS (
              SELECT user_id % 16 AS key, event_id AS seq,
                     CAST(floor(value * CAST(100 AS DOUBLE) + 0.5)
                          AS BIGINT) AS val
              FROM events WHERE event_id < 2000 AND value >= 0),
            r AS (SELECT key, seq, val,
                         row_number() OVER (PARTITION BY key
                                            ORDER BY seq) AS rn
                  FROM s),
            ew AS (
              SELECT key, seq, val, rn,
                     val * 1000000 AS ewma_q
              FROM r WHERE rn = 1
              UNION ALL
              SELECT r.key, r.seq, r.val, r.rn,
                     (3 * r.val * 1000000 + 7 * ew.ewma_q) // 10
              FROM ew JOIN r ON r.key = ew.key AND r.rn = ew.rn + 1)
            SELECT key, seq, val, ewma_q,
                   CAST(ewma_q AS DOUBLE) / CAST(1000000 AS DOUBLE) AS ewma
            FROM ew
        """,
        "q_pii_scan": _ora_pii_scan(),
        # streaming complete-mode window agg == plain batch GROUP BY
        # over epoch-aligned buckets (the batch-parity contract)
        "q_stream_window": """
            SELECT epoch_us(time_bucket(INTERVAL '15 minutes', ts))
                       AS window_start_us,
                   epoch_us(time_bucket(INTERVAL '15 minutes', ts)
                       + INTERVAL '15 minutes') AS window_end_us,
                   event_type, count(*) AS n,
                   CAST(sum(CAST(floor(value * CAST(100 AS DOUBLE) + 0.5)
                                 AS BIGINT)) AS BIGINT) AS sum_q
            FROM events GROUP BY 1, 2, 3
        """,
        "q_stream_tiles": """
            SELECT epoch_us(time_bucket(INTERVAL '1 hour', ts))
                       AS window_start_us,
                   epoch_us(time_bucket(INTERVAL '1 hour', ts)
                       + INTERVAL '1 hour') AS window_end_us,
                   CAST(floor(CAST((event_id * 73) % 3600 AS DOUBLE)
                              / CAST(10 AS DOUBLE)
                              - CAST(180 AS DOUBLE)) AS BIGINT) AS cell_x,
                   CAST(floor(CAST((event_id * 37) % 1700 AS DOUBLE)
                              / CAST(10 AS DOUBLE)
                              - CAST(85 AS DOUBLE)) AS BIGINT) AS cell_y,
                   count(*) AS n
            FROM events GROUP BY 1, 2, 3, 4
        """,
        # single availableNow batch: stateful first-seen emission ==
        # the exact-dedup GROUP BY (cross-batch suppression is pinned
        # by the maxFilesPerTrigger=1 pytest)
        "q_stream_dedup": """
            WITH u AS (SELECT doc_id, text FROM documents
                       UNION ALL
                       SELECT doc_id + 1000000, text FROM documents)
            SELECT md5(text) AS fp, min(doc_id) AS keep_id,
                   count(*) AS n_copies
            FROM u GROUP BY md5(text)
        """,
        # exactly-once streamed ingestion == the source itself
        "q_stream_ingest": """
            SELECT lang, count(*) AS n_docs, min(doc_id) AS first_doc,
                   CAST(sum(n_chars) AS BIGINT) AS chars_total
            FROM documents GROUP BY lang
        """,
        # verbatim window + integer-DIV replay of the exact-integer
        # RRF contribution spec (2^40 DIV (k + dense_rank))
        "q_rrf": """
            WITH rl AS (
              SELECT 'a' AS system, o_orderkey % 16 AS q_id,
                     o_orderkey AS doc_id, o_totalprice AS score
              FROM orders WHERE o_orderkey < 4000
              UNION ALL
              SELECT 'b', o_orderkey % 16, o_orderkey,
                     CAST((o_orderkey * 7919) % 1000 AS DOUBLE)
              FROM orders WHERE o_orderkey < 4000 AND o_orderkey % 3 <> 0),
            rk AS (SELECT q_id, doc_id,
                          dense_rank() OVER (PARTITION BY system, q_id
                                             ORDER BY score DESC,
                                                      doc_id ASC) AS rnk
                   FROM rl),
            ag AS (SELECT q_id, doc_id,
                          count(*) AS n_systems,
                          CAST(sum(1099511627776 // (60 + rnk))
                               AS BIGINT) AS rrf_q
                   FROM rk GROUP BY q_id, doc_id),
            fr AS (SELECT q_id, doc_id, n_systems, rrf_q,
                          CAST(rrf_q AS DOUBLE)
                          / CAST(1099511627776 AS DOUBLE) AS rrf,
                          row_number() OVER (PARTITION BY q_id
                                             ORDER BY rrf_q DESC,
                                                      doc_id ASC)
                              AS fused_rank
                   FROM ag)
            SELECT q_id, doc_id, n_systems, rrf_q, rrf, fused_rank
            FROM fr WHERE fused_rank <= 10
        """,
        # the engine chains n_steps lazy joins; DuckDB RE-WALKS the
        # identical md5-index spec with its own recursion
        # independent algorithm: the engine derives lagged pairs with
        # one Window node; DuckDB re-derives them with a seq self-join.
        # The final r is the fixed cast/mul/sqrt/div IEEE chain.
        "q_acf": """
            WITH s AS (
              SELECT event_type AS key,
                     row_number() OVER (PARTITION BY event_type
                                        ORDER BY ts, event_id) AS seq,
                     CAST(floor(value * CAST(100 AS DOUBLE) + 0.5)
                          AS BIGINT) AS q
              FROM events),
            l AS (SELECT * FROM (VALUES (1),(2),(3),(4),(5)) t(lag)),
            p AS (SELECT a.key, l.lag, a.q AS x, b.q AS y
                  FROM s a JOIN l ON true
                  JOIN s b ON b.key = a.key AND b.seq = a.seq + l.lag),
            g AS (SELECT key, lag, count(*) AS n,
                         CAST(sum(x) AS BIGINT) AS sx,
                         CAST(sum(y) AS BIGINT) AS sy,
                         CAST(sum(x * y) AS BIGINT) AS sxy,
                         CAST(sum(x * x) AS BIGINT) AS sxx,
                         CAST(sum(y * y) AS BIGINT) AS syy
                  FROM p GROUP BY 1, 2)
            SELECT key, CAST(lag AS INT) AS lag, n,
                   CAST(n * sxy - sx * sy AS BIGINT) AS num,
                   CAST(n * sxx - sx * sx AS BIGINT) AS d1,
                   CAST(n * syy - sy * sy AS BIGINT) AS d2,
                   CASE WHEN n * sxx - sx * sx > 0
                         AND n * syy - sy * sy > 0
                        THEN CAST(n * sxy - sx * sy AS DOUBLE)
                             / sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
                                    * CAST(n * syy - sy * sy AS DOUBLE))
                        ELSE NULL END AS r
            FROM g
        """,
        "q_voronoi": f"""
            WITH pts AS ({SQL_POINTS}), st AS ({SQL_STATIONS}),
            r AS (SELECT doc_id AS point_id, station_id AS site_id,
                         (lat - s_lat) * (lat - s_lat)
                       + (lon - s_lon) * (lon - s_lon) AS d2,
                         row_number() OVER (
                             PARTITION BY doc_id
                             ORDER BY (lat - s_lat) * (lat - s_lat)
                                    + (lon - s_lon) * (lon - s_lon),
                                      station_id) AS rk
                  FROM pts, st)
            SELECT point_id, site_id, d2 FROM r WHERE rk = 1
        """,
        # verbatim replay of the signed-md5 hashing-trick spec
        "q_feature_hash": f"""
            WITH toks AS (
              SELECT doc_id,
                     unnest(list_filter(string_split(text, ' '),
                                        t -> t <> '')) AS term
              FROM documents WHERE doc_id < 200),
            h AS (SELECT doc_id, md5(term) AS hh FROM toks),
            f AS (SELECT doc_id,
                         CAST({_hex40_bigint_sql('hh')} % 256 AS INT) AS idx,
                         1 - 2 * (CAST(strpos('0123456789abcdef',
                                              substr(hh, 11, 1)) - 1
                                       AS BIGINT) % 2) AS s
                  FROM h)
            SELECT doc_id, idx, CAST(sum(s) AS BIGINT) AS weight
            FROM f GROUP BY 1, 2
        """,
        # two separable 1-D binomial passes replayed as plain double
        # aggregates (weights C(4, 2+d) = 1,4,6,4,1)
        "q_kde": f"""
            WITH pts AS ({SQL_POINTS}),
            q AS (
                SELECT least(greatest(CAST(floor((lon + CAST(180.0 AS DOUBLE))
                             / CAST(360.0 AS DOUBLE) * CAST(128.0 AS DOUBLE)) AS BIGINT),
                             0), 127) AS x,
                       least(greatest(CAST(floor((lat + CAST(90.0 AS DOUBLE))
                             / CAST(180.0 AS DOUBLE) * CAST(128.0 AS DOUBLE)) AS BIGINT),
                             0), 127) AS y
                FROM pts),
            counts AS (SELECT x, y, count(*) AS w FROM q GROUP BY x, y),
            k(d, c) AS (VALUES (-2,1),(-1,4),(0,6),(1,4),(2,1)),
            p1 AS (SELECT counts.x + k.d AS x, counts.y AS y,
                          CAST(sum(counts.w * k.c) AS BIGINT) AS w
                   FROM counts, k
                   WHERE counts.x + k.d BETWEEN 0 AND 127
                   GROUP BY 1, 2),
            p2 AS (SELECT p1.x AS x, p1.y + k.d AS y,
                          CAST(sum(p1.w * k.c) AS BIGINT) AS w
                   FROM p1, k
                   WHERE p1.y + k.d BETWEEN 0 AND 127
                   GROUP BY 1, 2)
            SELECT x, y, w FROM p2
        """,
        # independent algorithm: the engine shifts y with one Window
        # node; DuckDB re-derives each (x_t, y_(t+h)) pair with a seq
        # self-join over lags -3..3
        "q_ccf": """
            WITH s AS (
              SELECT event_type AS key,
                     row_number() OVER (PARTITION BY event_type
                                        ORDER BY ts, event_id) AS seq,
                     CAST(floor(value * CAST(100 AS DOUBLE) + 0.5)
                          AS BIGINT) AS qx,
                     CAST(floor(CAST((event_id * 37) % 101 AS DOUBLE)
                                * CAST(100 AS DOUBLE) + 0.5)
                          AS BIGINT) AS qy
              FROM events),
            l AS (SELECT * FROM (VALUES (-3),(-2),(-1),(0),(1),(2),(3)) t(lag)),
            p AS (SELECT a.key, l.lag, a.qx AS x, b.qy AS y
                  FROM s a JOIN l ON true
                  JOIN s b ON b.key = a.key AND b.seq = a.seq + l.lag),
            g AS (SELECT key, lag, count(*) AS n,
                         CAST(sum(x) AS BIGINT) AS sx,
                         CAST(sum(y) AS BIGINT) AS sy,
                         CAST(sum(x * y) AS BIGINT) AS sxy,
                         CAST(sum(x * x) AS BIGINT) AS sxx,
                         CAST(sum(y * y) AS BIGINT) AS syy
                  FROM p GROUP BY 1, 2)
            SELECT key, CAST(lag AS INT) AS lag, n,
                   CAST(n * sxy - sx * sy AS BIGINT) AS num,
                   CAST(n * sxx - sx * sx AS BIGINT) AS d1,
                   CAST(n * syy - sy * sy AS BIGINT) AS d2,
                   CASE WHEN n * sxx - sx * sx > 0
                         AND n * syy - sy * sy > 0
                        THEN CAST(n * sxy - sx * sy AS DOUBLE)
                             / sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
                                    * CAST(n * syy - sy * sy AS DOUBLE))
                        ELSE NULL END AS r
            FROM g
        """,
        # independent formulation: per-ROW doubled average ranks
        # (2*rank + ties - 1) vs the engine's distinct-value cumsum
        "q_roc_auc": """
            WITH s AS (
              SELECT event_type,
                     CASE WHEN event_id % 3 = 0 THEN 1 ELSE 0 END AS lab,
                     CAST(floor(value * CAST(5 AS DOUBLE)) AS BIGINT) AS sc
              FROM events),
            r AS (SELECT event_type, lab,
                         2 * rank() OVER (PARTITION BY event_type ORDER BY sc)
                         + count(*) OVER (PARTITION BY event_type, sc) - 1 AS dr
                  FROM s),
            a AS (SELECT event_type,
                         CAST(sum(lab) AS BIGINT) AS n_pos,
                         CAST(count(*) - sum(lab) AS BIGINT) AS n_neg,
                         CAST(sum(CASE WHEN lab = 1 THEN dr ELSE 0 END)
                              AS BIGINT) AS r2p
                  FROM r GROUP BY event_type)
            SELECT event_type, n_pos, n_neg,
                   CAST(r2p - n_pos * (n_pos + 1) AS BIGINT) AS u2,
                   CASE WHEN n_pos > 0 AND n_neg > 0
                        THEN CAST(r2p - n_pos * (n_pos + 1) AS DOUBLE)
                             / CAST(2 * n_pos * n_neg AS DOUBLE)
                        ELSE NULL END AS auc
            FROM a
        """,
        # full RAKE replay: stopword islands -> phrases -> corpus
        # deg/freq (integer DIV) -> phrase sums -> per-doc top-3;
        # stopword list imported from the operator so the sides
        # cannot drift
        "q_rake": f"""
            WITH d AS (
              SELECT doc_id,
                     list_filter(string_split(lower(text), ' '),
                                 t -> t <> '') AS toks
              FROM documents WHERE doc_id < 300),
            tk AS (
              SELECT doc_id, u.pos AS pos, u.term AS term,
                     CASE WHEN u.term IN ({_RAKE_SW_SQL})
                          THEN 1 ELSE 0 END AS st
              FROM (SELECT doc_id,
                           unnest(list_transform(range(1, len(toks) + 1),
                               i -> struct_pack(pos := i, term := toks[i])))
                               AS u
                    FROM d)),
            runs AS (
              SELECT doc_id, pos, term, st,
                     sum(st) OVER (PARTITION BY doc_id ORDER BY pos) AS run
              FROM tk),
            ph AS (
              SELECT doc_id, run,
                     string_agg(term, ' ' ORDER BY pos) AS phrase,
                     count(*) AS n_words
              FROM runs WHERE st = 0 GROUP BY doc_id, run),
            occ AS (
              SELECT doc_id, phrase, n_words,
                     unnest(string_split(phrase, ' ')) AS term
              FROM ph),
            ws AS (
              SELECT term,
                     CAST(sum(n_words) AS BIGINT) * 1000000
                         // CAST(count(*) AS BIGINT) AS wsq
              FROM occ GROUP BY term),
            sc AS (
              SELECT o.doc_id, o.phrase, o.n_words,
                     CAST(sum(w.wsq) AS BIGINT) AS psum,
                     CAST(count(*) AS BIGINT) AS occn
              FROM occ o JOIN ws w ON w.term = o.term
              GROUP BY o.doc_id, o.phrase, o.n_words),
            fin AS (
              SELECT doc_id, phrase, CAST(n_words AS INT) AS n_words,
                     (psum * n_words) // occn AS score_q,
                     row_number() OVER (
                         PARTITION BY doc_id
                         ORDER BY (psum * n_words) // occn DESC, phrase)
                         AS rank
              FROM sc)
            SELECT doc_id, phrase, n_words, score_q, CAST(rank AS INT) AS rank
            FROM fin WHERE rank <= 3
        """,
        # independent algorithm: the engine's centered window + ends
        # ride one Window node; DuckDB re-derives the window sum with
        # an offset self-join (period 7 odd -> h=3, denominator 14)
        "q_seasonal": """
            WITH s AS (
              SELECT event_type AS key,
                     CAST(row_number() OVER (PARTITION BY event_type
                                             ORDER BY ts, event_id) - 1
                          AS BIGINT) AS seq,
                     CAST(floor(value * CAST(100 AS DOUBLE) + 0.5)
                          AS BIGINT) AS q
              FROM events),
            off AS (SELECT * FROM (VALUES (-3),(-2),(-1),(0),(1),(2),(3)) t(o)),
            win AS (
              SELECT a.key, a.seq, a.q,
                     count(*) AS cnt, CAST(sum(b.q) AS BIGINT) AS s
              FROM s a JOIN off ON true
              JOIN s b ON b.key = a.key AND b.seq = a.seq + off.o
              GROUP BY a.key, a.seq, a.q),
            r AS (
              SELECT key, seq, seq % 7 AS phase, q,
                     CASE WHEN cnt = 7 THEN CAST(2 * s AS BIGINT) END AS trend2p,
                     CASE WHEN cnt = 7 THEN CAST(14 * q - 2 * s AS BIGINT) END
                         AS detr2p
              FROM win),
            se AS (SELECT key, phase,
                          CAST(sum(detr2p) AS BIGINT) AS s_num,
                          count(detr2p) AS s_cnt
                   FROM r GROUP BY 1, 2)
            SELECT r.key, r.seq, r.phase, r.q, r.trend2p, se.s_num, se.s_cnt,
                   CAST(r.trend2p AS DOUBLE) / CAST(14 AS DOUBLE) AS trend,
                   CAST(se.s_num AS DOUBLE) / CAST(se.s_cnt * 14 AS DOUBLE)
                       AS seasonal,
                   (CAST(r.q AS DOUBLE)
                    - CAST(r.trend2p AS DOUBLE) / CAST(14 AS DOUBLE))
                   - CAST(se.s_num AS DOUBLE) / CAST(se.s_cnt * 14 AS DOUBLE)
                       AS residual
            FROM r JOIN se ON se.key = r.key AND se.phase = r.phase
        """,
        # brute all-pairs replay of the cell-cover join
        "q_ripley": f"""
            WITH pts AS (SELECT * FROM ({SQL_POINTS}) WHERE doc_id < 1000),
            p2 AS (SELECT (a.lat - b.lat) * (a.lat - b.lat)
                        + (a.lon - b.lon) * (a.lon - b.lon) AS d2
                   FROM pts a JOIN pts b ON a.doc_id < b.doc_id),
            rr AS (SELECT * FROM (VALUES (CAST('0.5' AS DOUBLE)),
                                         (CAST('1.0' AS DOUBLE)),
                                         (CAST('2.0' AS DOUBLE))) t(r)),
            n AS (SELECT count(*) AS n FROM pts),
            c AS (SELECT rr.r,
                         CAST(coalesce(sum(CASE WHEN p2.d2 <= rr.r * rr.r
                                                THEN 1 END), 0) AS BIGINT)
                             AS n_pairs
                  FROM rr LEFT JOIN p2 ON true GROUP BY rr.r)
            SELECT c.r, c.n_pairs, n.n,
                   CASE WHEN n.n > 1
                        THEN CAST(c.n_pairs AS DOUBLE) * CAST(2 AS DOUBLE)
                             * CAST(43200 AS DOUBLE)
                             / CAST(n.n * (n.n - 1) AS DOUBLE)
                   END AS k_hat
            FROM c, n
        """,
        # full replay: positional 8-token windows -> md5 fingerprints
        # -> window-ranked keeper (independent of the engine's
        # min(struct) aggregate) -> island merge
        "q_ngram_spans": """
            WITH src AS (
              SELECT doc_id, text FROM documents WHERE doc_id < 400
              UNION ALL
              SELECT doc_id + 100000, text FROM documents WHERE doc_id < 400),
            d AS (SELECT doc_id,
                         list_filter(string_split(text, ' '), t -> t <> '')
                             AS toks
                  FROM src),
            w AS (SELECT doc_id, u.pos AS pos, u.fp AS fp
                  FROM (SELECT doc_id,
                               unnest(list_transform(range(1, len(toks) - 6),
                                   i -> struct_pack(
                                       pos := CAST(i - 1 AS BIGINT),
                                       fp := md5(array_to_string(
                                           list_slice(toks, i, i + 7), ' ')))))
                                   AS u
                        FROM d WHERE len(toks) >= 8)),
            rk AS (SELECT doc_id, pos,
                          row_number() OVER (PARTITION BY fp
                                             ORDER BY doc_id, pos) AS rn,
                          count(*) OVER (PARTITION BY fp) AS n
                   FROM w),
            dups AS (SELECT doc_id, pos FROM rk WHERE n > 1 AND rn > 1),
            fl AS (SELECT doc_id, pos,
                          CASE WHEN lag(pos) OVER w1 IS NULL
                               OR pos > lag(pos) OVER w1 + 8
                               THEN 1 ELSE 0 END AS nw
                   FROM dups
                   WINDOW w1 AS (PARTITION BY doc_id ORDER BY pos)),
            isl AS (SELECT doc_id, pos,
                           sum(nw) OVER (PARTITION BY doc_id ORDER BY pos) AS g
                    FROM fl)
            SELECT doc_id, min(pos) AS start, max(pos) + 8 AS "end",
                   count(*) AS n_windows
            FROM isl GROUP BY doc_id, g
        """,
        "q_isotonic": _ora_isotonic(),
        "q_cluster_hulls": _ora_cluster_hulls(),
        "q_chaikin": _ora_chaikin(),
        # brute all-pairs containment (independent of prefix filtering)
        "q_containment": """
            WITH src AS (
              SELECT doc_id, text FROM documents WHERE doc_id < 100
              UNION ALL
              SELECT doc_id + 200000,
                     array_to_string(list_slice(
                         string_split(text, ' '), 1, 15), ' ')
              FROM documents WHERE doc_id < 100),
            t0 AS (SELECT doc_id,
                          unnest(list_distinct(list_filter(
                              string_split(text, ' '), t -> t <> ''))) AS tok
                   FROM src),
            sz AS (SELECT doc_id, count(*) AS n FROM t0 GROUP BY 1),
            inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                             count(*) AS n_inter
                      FROM t0 a JOIN t0 b
                        ON b.tok = a.tok AND a.doc_id <> b.doc_id
                      GROUP BY 1, 2)
            SELECT i.id_a, i.id_b, CAST(i.n_inter AS BIGINT) AS n_inter,
                   CAST(sa.n AS BIGINT) AS na, CAST(sb.n AS BIGINT) AS nb
            FROM inter i
            JOIN sz sa ON sa.doc_id = i.id_a
            JOIN sz sb ON sb.doc_id = i.id_b
            WHERE 10 * i.n_inter >= 10 * sa.n
        """,
        "q_kanon": """
            SELECT user_id, event_type, count(*) AS n
            FROM events GROUP BY user_id, event_type HAVING count(*) < 5
        """,
        # independent open/close: row_number argmin/argmax vs the
        # engine's min/max-struct aggregates
        "q_ohlc": """
            WITH s AS (
              SELECT event_type AS key,
                     time_bucket(INTERVAL '6 hours', ts) AS b,
                     ts, event_id,
                     CAST(floor(value * CAST(100 AS DOUBLE) + 0.5)
                          AS BIGINT) AS q
              FROM events),
            r AS (SELECT *,
                         row_number() OVER (PARTITION BY key, b
                                            ORDER BY ts, event_id) AS rna,
                         row_number() OVER (PARTITION BY key, b
                                            ORDER BY ts DESC,
                                                     event_id DESC) AS rnd
                  FROM s)
            SELECT key, epoch_us(b) AS bucket_start_us,
                   CAST(max(CASE WHEN rna = 1 THEN q END) AS BIGINT) AS open,
                   max(q) AS high, min(q) AS low,
                   CAST(max(CASE WHEN rnd = 1 THEN q END) AS BIGINT) AS close,
                   count(*) AS n, CAST(sum(q) AS BIGINT) AS sum_q
            FROM r GROUP BY key, b
        """,
        # FLOOR-division replay of the bit-shift parent. LESSON:
        # DuckDB integer // TRUNCATES toward zero (-5 // 4 = -1) while
        # Spark shiftright is arithmetic (= floor, -5 >> 2 = -2) — on
        # signed grids the oracle must floor explicitly
        "q_raster_coarsen": f"""
            WITH pts AS ({SQL_POINTS}),
            c AS (SELECT CAST(floor(lat / CAST(1.0 AS DOUBLE)) AS BIGINT) AS cx,
                         CAST(floor(lon / CAST(1.0 AS DOUBLE)) AS BIGINT) AS cy,
                         count(*) AS x
                  FROM pts GROUP BY 1, 2)
            SELECT CAST(floor(cx / CAST(4 AS DOUBLE)) AS BIGINT) AS cx,
                   CAST(floor(cy / CAST(4 AS DOUBLE)) AS BIGINT) AS cy,
                   CAST(sum(x) AS BIGINT) AS x
            FROM c GROUP BY 1, 2
        """,
        # verbatim stride-scheduling replay (same md5 rank spec and
        # integer DIV stride; weights inline)
        "q_sample_points": _ora_sample_points(),
        "q_logreg": _ora_logreg(),
        "q_areal": _ora_areal(),
        # verbatim cleared-denominator kappa replay
        "q_kappa": """
            WITH s AS (
              SELECT event_type AS ra,
                     CASE WHEN event_id % 10 < 7 THEN event_type
                          ELSE 'x' || CAST(event_id % 3 AS VARCHAR)
                     END AS rb
              FROM events),
            tot AS (SELECT count(*) AS n,
                           CAST(sum(CASE WHEN ra = rb THEN 1 ELSE 0 END)
                                AS BIGINT) AS agree
                    FROM s),
            ma AS (SELECT ra, count(*) AS ca FROM s GROUP BY ra),
            mb AS (SELECT rb, count(*) AS cb FROM s GROUP BY rb),
            pe AS (SELECT CAST(coalesce(sum(ma.ca * mb.cb), 0) AS BIGINT)
                       AS pe_num
                   FROM ma JOIN mb ON mb.rb = ma.ra)
            SELECT tot.n, tot.agree, pe.pe_num,
                   CAST(tot.n * tot.agree - pe.pe_num AS BIGINT)
                       AS kappa_num,
                   CAST(tot.n * tot.n - pe.pe_num AS BIGINT) AS kappa_den,
                   CASE WHEN tot.n * tot.n - pe.pe_num <> 0
                        THEN CAST(tot.n * tot.agree - pe.pe_num AS DOUBLE)
                             / CAST(tot.n * tot.n - pe.pe_num AS DOUBLE)
                   END AS kappa
            FROM tot, pe
        """,
        # DuckDB's OWN recursion re-derives the chain labels: closure
        # over the degree-2 edge links, label = min reachable edge id
        "q_line_dissolve": """
            WITH RECURSIVE ids AS (SELECT range AS i FROM range(199)),
            chain AS (SELECT i AS eid, i AS a, i + 1 AS b FROM ids),
            sp AS (SELECT 500 + j * 25 AS eid, j * 25 AS a,
                          3000 + j * 25 AS b
                   FROM (SELECT range AS j FROM range(8))),
            ring AS (SELECT 800 + k AS eid, 2000 + k AS a,
                            2000 + (k + 1) % 10 AS b
                     FROM (SELECT range AS k FROM range(10))),
            e AS (SELECT * FROM chain UNION ALL SELECT * FROM sp
                  UNION ALL SELECT * FROM ring),
            inc AS (SELECT a AS node, eid FROM e
                    UNION ALL SELECT b, eid FROM e),
            d2 AS (SELECT min(eid) AS u, max(eid) AS v
                   FROM inc GROUP BY node
                   HAVING count(*) = 2 AND min(eid) <> max(eid)),
            sym AS (SELECT u, v FROM d2 UNION ALL SELECT v, u FROM d2),
            cl(a, b) AS (
                SELECT u, v FROM sym
                UNION
                SELECT cl.a, s.v FROM cl JOIN sym s ON s.u = cl.b),
            lab AS (SELECT e.eid,
                           least(e.eid, coalesce(min(cl.b), e.eid))
                               AS chain_id
                    FROM e LEFT JOIN cl ON cl.a = e.eid
                    GROUP BY e.eid),
            sz AS (SELECT chain_id, count(*) AS n_edges
                   FROM lab GROUP BY chain_id)
            SELECT lab.eid AS edge_id, lab.chain_id,
                   CAST(sz.n_edges AS BIGINT) AS n_edges
            FROM lab JOIN sz ON sz.chain_id = lab.chain_id
        """,
        # brute all-pairs slopes; double sort IS the exact rational
        # order for small-int deltas; equal-VALUE median ties reduce
        # to the same fraction, so the arbitrary tie row is safe
        "q_theil_sen": """
            WITH s AS (
              SELECT event_type AS g, event_id,
                     CAST(floor(value) AS BIGINT) AS x,
                     CAST(event_id % 23
                          + 2 * CAST(floor(value) AS BIGINT) AS BIGINT) AS y
              FROM events),
            p AS (SELECT a.g,
                         CASE WHEN b.x > a.x THEN b.x - a.x
                              ELSE a.x - b.x END AS dx,
                         CASE WHEN b.x > a.x THEN b.y - a.y
                              ELSE a.y - b.y END AS dy
                  FROM s a JOIN s b
                    ON b.g = a.g AND a.event_id < b.event_id
                   AND a.x <> b.x),
            r AS (SELECT g, dx, dy,
                         row_number() OVER (
                             PARTITION BY g
                             ORDER BY CAST(dy AS DOUBLE)
                                      / CAST(dx AS DOUBLE)) AS rn,
                         count(*) OVER (PARTITION BY g) AS np
                  FROM p),
            med AS (SELECT g, dx, dy, np FROM r
                    WHERE rn = (np - 1) // 2 + 1),
            ng AS (SELECT g, count(*) AS n FROM s GROUP BY g)
            SELECT ng.g AS event_type, ng.n,
                   CAST(med.np AS BIGINT) AS n_pairs,
                   CAST(med.dy // greatest(gcd(abs(med.dy), med.dx), 1)
                        AS BIGINT) AS slope_num,
                   CAST(med.dx // greatest(gcd(abs(med.dy), med.dx), 1)
                        AS BIGINT) AS slope_den,
                   CAST(med.dy // greatest(gcd(abs(med.dy), med.dx), 1)
                        AS DOUBLE)
                   / CAST(med.dx // greatest(gcd(abs(med.dy), med.dx), 1)
                          AS DOUBLE) AS slope
            FROM ng JOIN med ON med.g = ng.g
        """,
        "q_ldiv": """
            SELECT user_id, event_type, count(*) AS n,
                   count(DISTINCT CAST(floor(value) AS BIGINT))
                       AS n_distinct
            FROM events GROUP BY user_id, event_type
            HAVING count(DISTINCT CAST(floor(value) AS BIGINT)) < 10
        """,
        # verbatim KM replay: after-window risk set, micro-nat ln
        # quantization, cumulative sum, ppm-quantized exp
        # batch replay of the drained complete-mode counts + rank
        "q_stream_topk": """
            WITH c AS (SELECT time_bucket(INTERVAL '1 hour', ts)
                              AS window_start,
                              time_bucket(INTERVAL '1 hour', ts)
                                  + INTERVAL '1 hour' AS window_end,
                              event_type, count(*) AS n
                       FROM events GROUP BY 1, 2, 3),
            r AS (SELECT *, row_number() OVER (PARTITION BY window_start
                             ORDER BY n DESC, event_type ASC) AS rk
                  FROM c)
            SELECT epoch_us(window_start) AS window_start_us,
                   epoch_us(window_end) AS window_end_us, event_type, n,
                   CAST(rk AS INTEGER) AS rk
            FROM r WHERE rk <= 2
        """,
        # collapse + smoothed-mean replay (min_count 30, prior 20)
        "q_rare_collapse": """
            WITH s AS (SELECT CASE WHEN event_id % 2 = 0
                                   THEN 'big' || CAST(event_id % 3
                                                      AS VARCHAR)
                                   ELSE 'c' || CAST((event_id * 13) % 400
                                                    AS VARCHAR) END
                                  AS cat,
                              CAST(floor(value) AS BIGINT) AS y
                       FROM events),
            freq AS (SELECT cat, count(*) AS n FROM s GROUP BY cat),
            coll AS (SELECT CASE WHEN freq.n >= 30 THEN s.cat
                                 ELSE '__other__' END AS cat, s.y
                     FROM s JOIN freq ON freq.cat = s.cat),
            per AS (SELECT cat, count(*) AS n_c,
                           CAST(sum(y) AS BIGINT) AS sum_y
                    FROM coll GROUP BY cat),
            tot AS (SELECT count(*) AS n, CAST(sum(y) AS BIGINT) AS sy
                    FROM coll)
            SELECT per.cat, per.n_c, per.sum_y,
                   CAST(per.sum_y * tot.n + 20 * tot.sy AS DOUBLE)
                       / CAST(tot.n * (per.n_c + 20) AS DOUBLE) AS enc
            FROM per, tot
        """,
        # quintile ntiles over total orders + digit segment
        "q_rfm": """
            WITH agg AS (SELECT user_id,
                                max(epoch_us(ts)) AS last_us,
                                count(*) AS freq,
                                CAST(sum(CAST(floor(value
                                     * CAST(100 AS DOUBLE) + 0.5)
                                     AS BIGINT)) AS BIGINT) AS mon
                         FROM events GROUP BY user_id)
            SELECT user_id, last_us, freq, mon,
                   ntile(5) OVER (ORDER BY last_us DESC, user_id) AS r_q,
                   ntile(5) OVER (ORDER BY freq DESC, user_id) AS f_q,
                   ntile(5) OVER (ORDER BY mon DESC, user_id) AS m_q,
                   CAST(ntile(5) OVER (ORDER BY last_us DESC, user_id)
                        AS VARCHAR)
                   || CAST(ntile(5) OVER (ORDER BY freq DESC, user_id)
                           AS VARCHAR)
                   || CAST(ntile(5) OVER (ORDER BY mon DESC, user_id)
                           AS VARCHAR) AS segment
            FROM agg
        """,
        # cleared-numerator Wald rate-ratio replay
        "q_poisson_rate": """
            WITH s AS (SELECT 1 AS x, event_id % 5 + 1 AS t,
                              CASE WHEN user_id % 3 = 0 THEN 'a'
                                   ELSE 'b' END AS side
                       FROM events),
            m AS (SELECT
                    CAST(sum(CASE WHEN side = 'a' THEN x ELSE 0 END)
                         AS BIGINT) AS x_a,
                    CAST(sum(CASE WHEN side = 'a' THEN t ELSE 0 END)
                         AS BIGINT) AS t_a,
                    CAST(sum(CASE WHEN side = 'b' THEN x ELSE 0 END)
                         AS BIGINT) AS x_b,
                    CAST(sum(CASE WHEN side = 'b' THEN t ELSE 0 END)
                         AS BIGINT) AS t_b
                  FROM s)
            SELECT x_a, t_a, x_b, t_b,
                   CAST(x_a AS DOUBLE) / CAST(t_a AS DOUBLE) AS rate_a,
                   CAST(x_b AS DOUBLE) / CAST(t_b AS DOUBLE) AS rate_b,
                   CASE WHEN x_a > 0 AND x_b > 0
                        THEN (CAST(x_a * t_b - x_b * t_a AS DOUBLE)
                              / CAST(t_a * t_b AS DOUBLE))
                             / sqrt(CAST(x_a AS DOUBLE)
                                    / CAST(t_a * t_a AS DOUBLE)
                                    + CAST(x_b AS DOUBLE)
                                      / CAST(t_b * t_b AS DOUBLE))
                   END AS z
            FROM m
        """,
        # per-time O-E / V chain replay over the shared suffix window
        "q_logrank": """
            WITH s AS (
              SELECT CASE WHEN user_id % 2 = 0
                          THEN CAST(floor(value) AS BIGINT)
                          ELSE CAST(floor(value / CAST(2 AS DOUBLE))
                                    AS BIGINT) END AS t,
                     CASE WHEN event_id % 4 <> 0 THEN 1 ELSE 0 END AS ev,
                     CASE WHEN user_id % 2 = 0 THEN 'a' ELSE 'b' END
                         AS side
              FROM events),
            per AS (SELECT t,
                           CAST(sum(CASE WHEN side = 'a' THEN ev
                                         ELSE 0 END) AS BIGINT) AS d1,
                           CAST(sum(CASE WHEN side = 'a' THEN 1 - ev
                                         ELSE 0 END) AS BIGINT) AS c1,
                           CAST(sum(CASE WHEN side = 'b' THEN ev
                                         ELSE 0 END) AS BIGINT) AS d2,
                           CAST(sum(CASE WHEN side = 'b' THEN 1 - ev
                                         ELSE 0 END) AS BIGINT) AS c2
                    FROM s GROUP BY t),
            r AS (SELECT t, d1, d2,
                         CAST(sum(d1 + c1) OVER wa AS BIGINT) AS n1,
                         CAST(sum(d2 + c2) OVER wa AS BIGINT) AS n2
                  FROM per
                  WINDOW wa AS (ORDER BY t ROWS BETWEEN CURRENT ROW
                                AND UNBOUNDED FOLLOWING)),
            terms AS (SELECT
                        CAST(d1 + d2 AS BIGINT) AS d,
                        CAST(n1 + n2 AS BIGINT) AS n, d1, n1, n2
                      FROM r WHERE d1 + d2 > 0),
            q AS (SELECT
                    CASE WHEN CAST(d1 * n - d * n1 AS DOUBLE)
                              / CAST(n AS DOUBLE) >= 0
                         THEN CAST(floor(CAST(d1 * n - d * n1 AS DOUBLE)
                              / CAST(n AS DOUBLE) * 1000000.0 + 0.5)
                              AS BIGINT)
                         ELSE -CAST(floor(-(CAST(d1 * n - d * n1
                               AS DOUBLE) / CAST(n AS DOUBLE))
                               * 1000000.0 + 0.5) AS BIGINT)
                    END AS oeq,
                    CASE WHEN n > 1
                         THEN CAST(floor(CAST(d * n1 * n2 AS DOUBLE)
                              * CAST(n - d AS DOUBLE)
                              / CAST(n * n AS DOUBLE)
                              / CAST(n - 1 AS DOUBLE)
                              * 1000000.0 + 0.5) AS BIGINT)
                         ELSE 0 END AS vq
                  FROM terms),
            agg AS (SELECT CAST(sum(oeq) AS BIGINT) AS oe_micro,
                           CAST(sum(vq) AS BIGINT) AS v_micro
                    FROM q),
            tot AS (SELECT
                      CAST(sum(CASE WHEN side = 'a' THEN 1 ELSE 0 END)
                           AS BIGINT) AS n_a,
                      CAST(sum(CASE WHEN side = 'b' THEN 1 ELSE 0 END)
                           AS BIGINT) AS n_b
                    FROM s)
            SELECT tot.n_a, tot.n_b, agg.oe_micro, agg.v_micro,
                   CASE WHEN agg.v_micro > 0
                        THEN (CAST(agg.oe_micro AS DOUBLE) / 1000000.0)
                             / sqrt(CAST(agg.v_micro AS DOUBLE)
                                    / 1000000.0) END AS z,
                   CASE WHEN agg.v_micro > 0
                        THEN ((CAST(agg.oe_micro AS DOUBLE) / 1000000.0)
                              / sqrt(CAST(agg.v_micro AS DOUBLE)
                                     / 1000000.0))
                             * ((CAST(agg.oe_micro AS DOUBLE)
                                 / 1000000.0)
                                / sqrt(CAST(agg.v_micro AS DOUBLE)
                                       / 1000000.0)) END AS chi2
            FROM tot, agg
        """,
        # micro-quantized SSB/SSW replay
        "q_anova": """
            WITH s AS (SELECT event_type AS g,
                              CAST(floor(value / CAST(2 AS DOUBLE))
                                   AS BIGINT) AS v
                       FROM events),
            per AS (SELECT g, count(*) AS ng,
                           CAST(sum(v) AS BIGINT) AS sg,
                           CAST(sum(v * v) AS BIGINT) AS ssg
                    FROM s GROUP BY g),
            tot AS (SELECT CAST(sum(ng) AS BIGINT) AS n,
                           CAST(sum(sg) AS BIGINT) AS sm,
                           count(*) AS k
                    FROM per),
            t AS (SELECT per.ng, tot.n, tot.k,
                         CAST(per.ng * per.ssg - per.sg * per.sg
                              AS DOUBLE) / CAST(per.ng AS DOUBLE) AS ssw,
                         (CAST(per.sg * tot.n - tot.sm * per.ng
                               AS DOUBLE)
                          * CAST(per.sg * tot.n - tot.sm * per.ng
                                 AS DOUBLE))
                         / (CAST(tot.n AS DOUBLE) * CAST(tot.n AS DOUBLE)
                            * CAST(per.ng AS DOUBLE)) AS ssb
                  FROM per, tot),
            agg AS (SELECT n, k,
                           CAST(sum(CAST(floor(ssb * 1000000.0 + 0.5)
                                AS BIGINT)) AS BIGINT) AS ssb_micro,
                           CAST(sum(CAST(floor(ssw * 1000000.0 + 0.5)
                                AS BIGINT)) AS BIGINT) AS ssw_micro
                    FROM t GROUP BY n, k)
            SELECT n, k, ssb_micro, ssw_micro,
                   CASE WHEN k > 1 AND n > k AND ssw_micro > 0
                        THEN (CAST(ssb_micro AS DOUBLE)
                              / CAST(k - 1 AS DOUBLE))
                             / (CAST(ssw_micro AS DOUBLE)
                                / CAST(n - k AS DOUBLE)) END AS f
            FROM agg
        """,
        # total-order percent_rank/cume_dist replay
        "q_percent_rank": """
            SELECT event_type, event_id,
                   CAST(floor(value) AS BIGINT) AS v,
                   percent_rank() OVER w AS pr,
                   cume_dist() OVER w AS cd
            FROM events WHERE event_id < 3000
            WINDOW w AS (PARTITION BY event_type
                         ORDER BY CAST(floor(value) AS BIGINT), event_id)
        """,
        # KM's additive sibling: same risk-set chain, division-only
        # increments (no ln/exp), exact int cumulative hazard
        "q_nelson_aalen": """
            WITH s AS (
              SELECT event_type,
                     CAST(floor(value) AS BIGINT) AS t,
                     CASE WHEN event_id % 4 <> 0 THEN 1 ELSE 0 END AS ev
              FROM events),
            per AS (SELECT event_type, t,
                           CAST(sum(ev) AS BIGINT) AS d,
                           CAST(sum(1 - ev) AS BIGINT) AS c
                    FROM s GROUP BY 1, 2),
            r AS (SELECT event_type, t, d, c,
                         CAST(sum(d + c) OVER (
                             PARTITION BY event_type ORDER BY t
                             ROWS BETWEEN CURRENT ROW
                                  AND UNBOUNDED FOLLOWING) AS BIGINT)
                             AS n_risk
                  FROM per),
            q AS (SELECT event_type, t, d, c, n_risk,
                         CAST(floor(CAST(d AS DOUBLE)
                                    / CAST(n_risk AS DOUBLE)
                                    * 1000000.0 + 0.5) AS BIGINT) AS qv
                  FROM r)
            SELECT event_type, t, n_risk, d, c,
                   CAST(sum(qv) OVER (PARTITION BY event_type ORDER BY t
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                        AS BIGINT) AS hazard_micro,
                   CAST(CAST(sum(qv) OVER (PARTITION BY event_type
                        ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING
                        AND CURRENT ROW) AS BIGINT) AS DOUBLE)
                       / 1000000.0 AS hazard
            FROM q
        """,
        "q_median_survival": """
            WITH km AS (
            WITH s AS (
              SELECT event_type,
                     CAST(floor(value) AS BIGINT) AS t,
                     CASE WHEN event_id % 4 <> 0 THEN 1 ELSE 0 END AS ev
              FROM events),
            per AS (SELECT event_type, t,
                           CAST(sum(ev) AS BIGINT) AS d,
                           CAST(sum(1 - ev) AS BIGINT) AS c
                    FROM s GROUP BY 1, 2),
            r AS (SELECT event_type, t, d, c,
                         CAST(sum(d + c) OVER (
                             PARTITION BY event_type ORDER BY t
                             ROWS BETWEEN CURRENT ROW
                                  AND UNBOUNDED FOLLOWING) AS BIGINT)
                             AS n_risk
                  FROM per),
            q AS (SELECT event_type, t, d, c, n_risk,
                         CASE WHEN d = n_risk THEN NULL
                              WHEN d = 0 THEN 0
                              ELSE -CAST(floor(-ln(CAST(n_risk - d AS DOUBLE)
                                                   / CAST(n_risk AS DOUBLE))
                                                * 1000000.0 + 0.5) AS BIGINT)
                         END AS qv,
                         CASE WHEN d = n_risk THEN 1 ELSE 0 END AS dd
                  FROM r),
            cum AS (SELECT event_type, t, n_risk, d, c,
                           CAST(sum(qv) OVER w AS BIGINT) AS log_micro,
                           max(dd) OVER w AS dead
                    FROM q
                    WINDOW w AS (PARTITION BY event_type ORDER BY t
                                 ROWS BETWEEN UNBOUNDED PRECEDING
                                      AND CURRENT ROW))
            SELECT event_type, t, n_risk, d, c,
                   CASE WHEN dead = 1 THEN NULL ELSE log_micro END
                       AS log_micro,
                   CASE WHEN dead = 1 THEN CAST(0 AS BIGINT)
                        ELSE CAST(floor(exp(CAST(log_micro AS DOUBLE)
                                            / CAST(1000000 AS DOUBLE))
                                        * CAST(1000000 AS DOUBLE) + 0.5)
                                  AS BIGINT)
                   END AS survival_ppm
            FROM cum
        ),
            crossed AS (SELECT event_type, min(t) AS median_t
                        FROM km WHERE survival_ppm <= 500000
                        GROUP BY event_type),
            base AS (SELECT event_type, count(*) AS n_times,
                            CAST(min(survival_ppm) AS BIGINT) AS final_ppm
                     FROM km GROUP BY event_type)
            SELECT base.event_type, base.n_times, base.final_ppm,
                   crossed.median_t
            FROM base LEFT JOIN crossed
                 ON crossed.event_type = base.event_type
        """,
        "q_kaplan_meier": """
            WITH s AS (
              SELECT event_type,
                     CAST(floor(value) AS BIGINT) AS t,
                     CASE WHEN event_id % 4 <> 0 THEN 1 ELSE 0 END AS ev
              FROM events),
            per AS (SELECT event_type, t,
                           CAST(sum(ev) AS BIGINT) AS d,
                           CAST(sum(1 - ev) AS BIGINT) AS c
                    FROM s GROUP BY 1, 2),
            r AS (SELECT event_type, t, d, c,
                         CAST(sum(d + c) OVER (
                             PARTITION BY event_type ORDER BY t
                             ROWS BETWEEN CURRENT ROW
                                  AND UNBOUNDED FOLLOWING) AS BIGINT)
                             AS n_risk
                  FROM per),
            q AS (SELECT event_type, t, d, c, n_risk,
                         CASE WHEN d = n_risk THEN NULL
                              WHEN d = 0 THEN 0
                              ELSE -CAST(floor(-ln(CAST(n_risk - d AS DOUBLE)
                                                   / CAST(n_risk AS DOUBLE))
                                                * 1000000.0 + 0.5) AS BIGINT)
                         END AS qv,
                         CASE WHEN d = n_risk THEN 1 ELSE 0 END AS dd
                  FROM r),
            cum AS (SELECT event_type, t, n_risk, d, c,
                           CAST(sum(qv) OVER w AS BIGINT) AS log_micro,
                           max(dd) OVER w AS dead
                    FROM q
                    WINDOW w AS (PARTITION BY event_type ORDER BY t
                                 ROWS BETWEEN UNBOUNDED PRECEDING
                                      AND CURRENT ROW))
            SELECT event_type, t, n_risk, d, c,
                   CASE WHEN dead = 1 THEN NULL ELSE log_micro END
                       AS log_micro,
                   CASE WHEN dead = 1 THEN CAST(0 AS BIGINT)
                        ELSE CAST(floor(exp(CAST(log_micro AS DOUBLE)
                                            / CAST(1000000 AS DOUBLE))
                                        * CAST(1000000 AS DOUBLE) + 0.5)
                                  AS BIGINT)
                   END AS survival_ppm
            FROM cum
        """,
        # exact two-proportion chain replay
        "q_prop_test": """
            WITH s AS (
              SELECT event_type,
                     CASE WHEN event_id % 3 = 0 THEN 1 ELSE 0 END AS succ
              FROM events WHERE event_type IN ('click', 'view')),
            a AS (SELECT
                    CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                         AS BIGINT) AS n_a,
                    CAST(sum(CASE WHEN event_type = 'click' THEN succ
                             ELSE 0 END) AS BIGINT) AS s_a,
                    CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
                         AS BIGINT) AS n_b,
                    CAST(sum(CASE WHEN event_type = 'view' THEN succ
                             ELSE 0 END) AS BIGINT) AS s_b
                  FROM s)
            SELECT n_a, s_a, n_b, s_b,
                   CAST(s_a * n_b - s_b * n_a AS BIGINT) AS diff_num,
                   CASE WHEN n_a > 0 AND n_b > 0
                         AND (s_a + s_b) * (n_a + n_b - s_a - s_b)
                             * n_a * n_b > 0
                        THEN CAST(s_a * n_b - s_b * n_a AS DOUBLE)
                             * sqrt(CAST(n_a + n_b AS DOUBLE))
                             / sqrt(CAST((s_a + s_b)
                                         * (n_a + n_b - s_a - s_b)
                                         * n_a * n_b AS DOUBLE))
                   END AS z
            FROM a
        """,
        "q_mix": """
            WITH w AS (SELECT doc_id, lang,
                              CASE lang WHEN 'en' THEN 5 WHEN 'de' THEN 1
                                        WHEN 'zh' THEN 2 WHEN 'fr' THEN 1
                                        WHEN 'es' THEN 3 END AS wt
                       FROM documents),
            r AS (SELECT doc_id, lang, wt,
                         row_number() OVER (
                             PARTITION BY lang
                             ORDER BY substr(md5('0:' || lang || ':'
                                             || CAST(doc_id AS VARCHAR)),
                                             1, 8),
                                      doc_id) AS i
                  FROM w),
            t AS (SELECT doc_id, lang, CAST(i AS BIGINT) AS i,
                         CAST((i * 1048576) // wt AS BIGINT) AS mix_t
                  FROM r)
            SELECT doc_id, lang, i, mix_t,
                   CAST(row_number() OVER (ORDER BY mix_t, lang, i) - 1
                        AS BIGINT) AS mix_pos
            FROM t
        """,
        # verbatim rank-sum replay (sum(i*x) is tie-invariant)
        "q_concentration": """
            WITH s AS (SELECT o_orderpriority,
                              CAST(floor(o_totalprice) AS BIGINT) AS x
                       FROM orders),
            r AS (SELECT o_orderpriority, x,
                         row_number() OVER (PARTITION BY o_orderpriority
                                            ORDER BY x) AS i
                  FROM s),
            a AS (SELECT o_orderpriority, count(*) AS n,
                         CAST(sum(x) AS BIGINT) AS total,
                         CAST(sum(x * x) AS BIGINT) AS sumsq,
                         CAST(sum(i * x) AS BIGINT) AS ix
                  FROM r GROUP BY 1)
            SELECT o_orderpriority, n, total, sumsq,
                   CAST(2 * ix - (n + 1) * total AS BIGINT) AS gini_num,
                   CASE WHEN total > 0 AND n > 1
                        THEN CAST(2 * ix - (n + 1) * total AS DOUBLE)
                             / CAST(n * total AS DOUBLE) END AS gini,
                   CASE WHEN total > 0
                        THEN CAST(sumsq AS DOUBLE)
                             / CAST(total * total AS DOUBLE) END AS hhi
            FROM a
        """,
        # exact q_num = 4*m*intra - sum_c d_c^2 over the md5 graph
        # with the node%5 labeling
        "q_modularity": f"""
            WITH {_MD5_GRAPH_SQL},
            e0 AS (SELECT src AS a, dst AS b FROM ed WHERE src <> dst),
            und AS (SELECT DISTINCT least(a, b) AS u, greatest(a, b) AS v
                    FROM e0),
            tot AS (SELECT count(*) AS m,
                           CAST(coalesce(sum(CASE WHEN u % 5 = v % 5
                                                  THEN 1 END), 0) AS BIGINT)
                               AS intra
                    FROM und),
            ends AS (SELECT u AS node, u % 5 AS lbl FROM und
                     UNION ALL SELECT v, v % 5 FROM und),
            dc AS (SELECT lbl, count(*) AS d FROM ends GROUP BY lbl),
            s2 AS (SELECT CAST(sum(d * d) AS BIGINT) AS sum_dc2 FROM dc)
            SELECT CAST(tot.m AS BIGINT) AS m, tot.intra,
                   CAST(4 * tot.m * tot.intra - coalesce(s2.sum_dc2, 0)
                        AS BIGINT) AS q_num,
                   CASE WHEN tot.m > 0
                        THEN CAST(4 * tot.m * tot.intra
                                  - coalesce(s2.sum_dc2, 0) AS DOUBLE)
                             / CAST(4 * tot.m * tot.m AS DOUBLE)
                   END AS modularity
            FROM tot, s2
        """,
        # 9-term fixed chi2 chain with the SAME micro-probability
        # literals (benford_probs_micro imported from the operator)
        "q_benford": _ora_benford_sql(),
        # verbatim CASE replay with the SAME integer weights
        # (fs_weights imported from the operator — cannot drift)
        "q_fs_link": f"""
            WITH l AS (SELECT c_custkey AS id_a, c_nationkey,
                              c_mktsegment AS seg,
                              CAST(floor(c_acctbal) AS BIGINT) % 100 AS ab
                       FROM customer WHERE c_custkey < 500),
            r AS (SELECT c_custkey AS id_b, c_nationkey,
                         c_mktsegment AS seg,
                         CAST(floor(c_acctbal) AS BIGINT) % 100 AS ab
                  FROM customer
                  WHERE c_custkey >= 500 AND c_custkey < 1000)
            SELECT l.id_a, r.id_b,
                   CAST((CASE WHEN l.seg IS NOT NULL AND r.seg IS NOT NULL
                              AND l.seg = r.seg THEN 1 ELSE 0 END)
                      + (CASE WHEN l.ab IS NOT NULL AND r.ab IS NOT NULL
                              AND l.ab = r.ab THEN 1 ELSE 0 END) AS INT)
                       AS n_agree,
                   CAST((CASE WHEN l.seg IS NOT NULL AND r.seg IS NOT NULL
                              AND l.seg <> r.seg THEN 1 ELSE 0 END)
                      + (CASE WHEN l.ab IS NOT NULL AND r.ab IS NOT NULL
                              AND l.ab <> r.ab THEN 1 ELSE 0 END) AS INT)
                       AS n_disagree,
                   CAST((CASE WHEN l.seg IS NULL OR r.seg IS NULL THEN 0
                              WHEN l.seg = r.seg THEN {_FS_W["seg"][0]}
                              ELSE {_FS_W["seg"][1]} END)
                      + (CASE WHEN l.ab IS NULL OR r.ab IS NULL THEN 0
                              WHEN l.ab = r.ab THEN {_FS_W["ab"][0]}
                              ELSE {_FS_W["ab"][1]} END) AS BIGINT)
                       AS score_micro
            FROM l JOIN r ON r.c_nationkey = l.c_nationkey
        """,
        # semantic-level independence: the sniffer must INVERT the
        # doc_id%8 synthesis; the oracle never touches bytes
        "q_sniff": """
            SELECT doc_id,
                   CASE doc_id % 8
                        WHEN 0 THEN 'png' WHEN 1 THEN 'jpeg'
                        WHEN 2 THEN 'gif' WHEN 3 THEN 'pdf'
                        WHEN 4 THEN 'wav' WHEN 5 THEN 'mp4'
                        WHEN 6 THEN 'gzip' ELSE 'unknown' END AS media_type
            FROM documents
        """,
        # batch gaps-and-islands == streaming session_window merge
        # (strictly-greater gap splits; end = last ts + gap)
        "q_stream_session": """
            WITH o AS (
              SELECT user_id, ts,
                     CASE WHEN LAG(ts) OVER w IS NULL
                          OR epoch_us(ts) - epoch_us(LAG(ts) OVER w)
                             > 21600000000
                          THEN 1 ELSE 0 END AS nw
              FROM events
              WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
            s AS (SELECT user_id, ts,
                         SUM(nw) OVER (PARTITION BY user_id
                                       ORDER BY ts) AS g
                  FROM o)
            SELECT epoch_us(MIN(ts)) AS session_start_us,
                   epoch_us(MAX(ts) + INTERVAL 6 HOUR) AS session_end_us,
                   user_id, COUNT(*) AS n_events
            FROM s GROUP BY user_id, g
        """,
        # the stream-stream drain over closed input IS the batch join
        "q_stream_join": """
            SELECT a.user_id,
                   epoch_us(a.ts) AS click_us, epoch_us(b.ts) AS buy_us,
                   a.event_id AS click_id, b.event_id AS buy_id,
                   CAST(floor(b.value * CAST(100 AS DOUBLE) + 0.5)
                        AS BIGINT) AS buy_q
            FROM events a JOIN events b
              ON b.user_id = a.user_id
             AND a.event_type = 'click' AND b.event_type = 'purchase'
             AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL 6 HOUR
        """,
        # S16: closed-input LEFT OUTER drain == the batch left join
        # (the sentinel rows force every unmatched left past its state
        # horizon, so attribution misses emit exactly once)
        "q_stream_left_outer": """
            WITH c AS (SELECT user_id, ts AS click_ts,
                              event_id AS click_id
                       FROM events
                       WHERE event_type = 'click' AND event_id < 4000),
                 b AS (SELECT user_id, ts AS buy_ts, event_id AS buy_id
                       FROM events WHERE event_type = 'purchase')
            SELECT c.user_id,
                   epoch_us(c.click_ts) AS click_us, c.click_id,
                   epoch_us(b.buy_ts) AS buy_us, b.buy_id
            FROM c LEFT JOIN b
              ON b.user_id = c.user_id
             AND b.buy_ts >= c.click_ts
             AND b.buy_ts <= c.click_ts + INTERVAL 6 HOUR
        """,
        "q_sink_retention": _ora_sink_roundtrip(),
        # hand-derived expected audit per fixture case (documented in
        # tests/pbf_fixtures.py::build_rel_invalid): 5500 clean donut,
        # 5501 bowtie self-crossing, 5502 unclosable chain, 5503
        # non-spec role, 5504 absent member way
        "q_validate_rels": """
            SELECT * FROM (VALUES
              (5500, 2, 0, 0, 1, 1, 0, 0, 0, TRUE),
              (5501, 1, 0, 0, 1, 0, 0, 0, 1, FALSE),
              (5502, 1, 0, 0, 0, 0, 1, 0, 0, FALSE),
              (5503, 2, 1, 0, 1, 0, 0, 0, 0, FALSE),
              (5504, 2, 0, 1, 1, 0, 0, 0, 0, FALSE)
            ) AS t(rel_id, n_way_members, n_bad_role, n_missing_geom,
                   n_outer_rings, n_inner_rings, n_unclosed_outer,
                   n_unclosed_inner, n_self_intersect, is_valid)
        """,
        "q_random_walks": _ora_walk_sql() + "\nSELECT start, rep, step, node FROM walk",
        "q_walk_pairs": _ora_walk_sql()
        + """
            SELECT wa.node AS center, wb.node AS context,
                   count(*) AS n_pairs
            FROM walk wa JOIN walk wb
              ON wb.start = wa.start AND wb.rep = wa.rep
             AND wa.step <> wb.step AND abs(wa.step - wb.step) <= 2
            GROUP BY 1, 2
        """,
        # same Python-computed integer discount literals as the
        # operator (ndcg_discounts(10)); DCG/IDCG exact int64, each
        # metric ONE division of exact ints
        "q_rank_metrics": _ora_rank_metrics(),
        "q_confusion": """
            WITH s AS (
              SELECT event_type AS label,
                     CASE WHEN event_id % 10 < 7 THEN event_type
                          ELSE 'x' || CAST(event_id % 3 AS VARCHAR)
                     END AS pred
              FROM events),
            t AS (SELECT label AS cls, count(*) AS n_true
                  FROM s GROUP BY 1),
            p AS (SELECT pred AS cls, count(*) AS n_pred
                  FROM s GROUP BY 1),
            tp AS (SELECT label AS cls, count(*) AS tp
                   FROM s WHERE label = pred GROUP BY 1),
            u AS (SELECT coalesce(t.cls, p.cls) AS cls,
                         coalesce(t.n_true, 0) AS n_true,
                         coalesce(p.n_pred, 0) AS n_pred
                  FROM t FULL OUTER JOIN p ON p.cls = t.cls),
            j AS (SELECT u.cls, u.n_true, u.n_pred,
                         coalesce(tp.tp, 0) AS tp
                  FROM u LEFT JOIN tp ON tp.cls = u.cls)
            SELECT cls, CAST(n_true AS BIGINT) AS n_true,
                   CAST(n_pred AS BIGINT) AS n_pred,
                   CAST(tp AS BIGINT) AS tp,
                   CAST(n_pred - tp AS BIGINT) AS fp,
                   CAST(n_true - tp AS BIGINT) AS fn,
                   CASE WHEN n_pred > 0
                        THEN CAST(tp AS DOUBLE) / CAST(n_pred AS DOUBLE)
                   END AS precision,
                   CASE WHEN n_true > 0
                        THEN CAST(tp AS DOUBLE) / CAST(n_true AS DOUBLE)
                   END AS recall,
                   CASE WHEN n_true + n_pred > 0
                        THEN CAST(2 * tp AS DOUBLE)
                             / CAST(n_true + n_pred AS DOUBLE)
                   END AS f1
            FROM j
        """,
        "q_span_corrupt": _ora_span_corrupt(),
        # degree-capped bigram bipartite projection replay
        "q_bipartite": """
            WITH d AS (SELECT doc_id,
                              list_slice(str_split(text, ' '), 1, 13)
                                  AS toks
                       FROM documents),
            t AS (SELECT doc_id, unnest(toks) AS tok,
                         unnest(range(len(toks))) AS pos
                  FROM d),
            bg AS (SELECT a.doc_id AS l, a.tok || ' ' || b.tok AS r
                   FROM t a JOIN t b
                     ON b.doc_id = a.doc_id AND b.pos = a.pos + 1),
            e0 AS (SELECT DISTINCT l, r FROM bg),
            deg AS (SELECT r, count(*) AS dg FROM e0 GROUP BY r),
            e AS (SELECT e0.l, e0.r FROM e0 JOIN deg USING (r)
                  WHERE deg.dg <= 10),
            p AS (SELECT a.l AS left_a, b.l AS left_b,
                         count(*) AS weight
                  FROM e a JOIN e b ON b.r = a.r AND a.l < b.l
                  GROUP BY 1, 2)
            SELECT left_a, left_b, CAST(weight AS BIGINT) AS weight
            FROM p WHERE weight >= 2
        """,
        "q_textrank": _ora_textrank(),
        # brute pairwise tau-b replay (categories invariant to the
        # rid order among exact ties)
        "q_kendall": """
            WITH s AS (SELECT event_type AS g,
                              CAST(floor(value) AS BIGINT) AS x,
                              CAST(event_id % 23
                                   + 2 * CAST(floor(value) AS BIGINT)
                                   AS BIGINT) AS y
                       FROM events WHERE event_id < 4000),
            r AS (SELECT g, x, y,
                         row_number() OVER (PARTITION BY g
                                            ORDER BY x, y) AS rid
                  FROM s),
            p AS (SELECT a.g, b.x - a.x AS dx, b.y - a.y AS dy
                  FROM r a JOIN r b ON b.g = a.g AND a.rid < b.rid),
            agg AS (SELECT g,
                       CAST(sum(CASE WHEN (dx > 0 AND dy > 0)
                                       OR (dx < 0 AND dy < 0)
                                     THEN 1 ELSE 0 END) AS BIGINT) AS nc,
                       CAST(sum(CASE WHEN (dx > 0 AND dy < 0)
                                       OR (dx < 0 AND dy > 0)
                                     THEN 1 ELSE 0 END) AS BIGINT) AS nd,
                       CAST(sum(CASE WHEN dx = 0 AND dy <> 0
                                     THEN 1 ELSE 0 END) AS BIGINT) AS tx,
                       CAST(sum(CASE WHEN dx <> 0 AND dy = 0
                                     THEN 1 ELSE 0 END) AS BIGINT) AS ty,
                       CAST(sum(CASE WHEN dx = 0 AND dy = 0
                                     THEN 1 ELSE 0 END) AS BIGINT) AS txy
                    FROM p GROUP BY g),
            ns AS (SELECT g, count(*) AS n FROM s GROUP BY g)
            SELECT ns.g AS event_type, ns.n, agg.nc, agg.nd,
                   CAST((ns.n * (ns.n - 1)) // 2 AS BIGINT) AS n0,
                   CAST(agg.tx + agg.txy AS BIGINT) AS n1,
                   CAST(agg.ty + agg.txy AS BIGINT) AS n2,
                   CASE WHEN (ns.n * (ns.n - 1)) // 2 > agg.tx + agg.txy
                         AND (ns.n * (ns.n - 1)) // 2 > agg.ty + agg.txy
                        THEN CAST(agg.nc - agg.nd AS DOUBLE)
                             / (sqrt(CAST((ns.n * (ns.n - 1)) // 2
                                          - agg.tx - agg.txy AS DOUBLE))
                                * sqrt(CAST((ns.n * (ns.n - 1)) // 2
                                            - agg.ty - agg.txy AS DOUBLE)))
                   END AS tau_b
            FROM ns JOIN agg ON agg.g = ns.g
        """,
        # prefix-sum SSE-split replay; argmax = score DESC, seq ASC
        "q_binseg": """
            WITH s AS (SELECT event_type AS g, event_id AS seq,
                              CAST(floor(value * CAST(100 AS DOUBLE)
                                         + 0.5) AS BIGINT)
                              + CASE WHEN event_id > 5000 THEN 3000
                                     ELSE 0 END AS x
                       FROM events),
            cum AS (SELECT g, seq,
                           CAST(sum(x) OVER (PARTITION BY g ORDER BY seq
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                AND CURRENT ROW) AS BIGINT) AS sl,
                           row_number() OVER (PARTITION BY g
                                              ORDER BY seq) AS nl,
                           CAST(sum(x) OVER (PARTITION BY g) AS BIGINT)
                               AS st,
                           count(*) OVER (PARTITION BY g) AS nt
                    FROM s),
            sc AS (SELECT g, seq, nl, nt - nl AS nr, sl, st - sl AS sr,
                          st, nt,
                          CAST(sl AS DOUBLE) * CAST(sl AS DOUBLE)
                              / CAST(nl AS DOUBLE)
                          + CAST(st - sl AS DOUBLE)
                            * CAST(st - sl AS DOUBLE)
                              / CAST(nt - nl AS DOUBLE) AS score
                   FROM cum WHERE nl < nt),
            r AS (SELECT *, row_number() OVER (PARTITION BY g
                            ORDER BY score DESC, seq ASC) AS rn
                  FROM sc)
            SELECT g AS event_type, seq AS split_seq,
                   nl AS n_left, nr AS n_right,
                   CAST(sl AS BIGINT) AS sum_left,
                   CAST(sr AS BIGINT) AS sum_right, score,
                   score - CAST(st AS DOUBLE) * CAST(st AS DOUBLE)
                           / CAST(nt AS DOUBLE) AS gain
            FROM r WHERE rn = 1
        """,
        "q_hull_diameter": _ora_hull_diameter(),
        "q_ktruss": _ora_ktruss(),
        "q_hits": _ora_hits(),
        "q_ransac": _ora_ransac(),
        "q_clip_polygons": _ora_clip_polygons(),
        "q_sprt": _ora_sprt(),
        "q_osm_diff": _ora_osm_diff(),
        "q_taginfo": _ora_taginfo(),
        "q_visvalingam": _ora_visvalingam(),
        "q_multi_split": _ora_multi_split(),
        # add-one WoE/IV replay (micro-nat quantized terms)
        "q_woe": """
            WITH s AS (SELECT 'c' || CAST((event_id * 11) % 6 AS VARCHAR)
                               AS cat,
                              CASE WHEN (event_id * 7919) % 100
                                   < 30 + 8 * ((event_id * 11) % 6)
                                   THEN 1 ELSE 0 END AS y
                       FROM events),
            per AS (SELECT cat, count(*) AS n,
                           CAST(sum(y) AS BIGINT) AS n_pos,
                           CAST(sum(1 - y) AS BIGINT) AS n_neg
                    FROM s GROUP BY cat),
            tot AS (SELECT CAST(sum(n_pos) AS BIGINT) AS p,
                           CAST(sum(n_neg) AS BIGINT) AS q,
                           count(*) AS k
                    FROM per),
            j AS (SELECT per.cat, per.n, per.n_pos, per.n_neg,
                         tot.p + tot.k AS p1, tot.q + tot.k AS q1
                  FROM per, tot),
            t AS (SELECT cat, n, n_pos, n_neg,
                         ln(CAST((n_pos + 1) * q1 AS DOUBLE)
                            / CAST((n_neg + 1) * p1 AS DOUBLE)) AS lnv,
                         CAST((n_pos + 1) * q1 - (n_neg + 1) * p1
                              AS DOUBLE)
                             / CAST(p1 * q1 AS DOUBLE) AS d
                  FROM j),
            qq AS (SELECT cat, n, n_pos, n_neg,
                          CASE WHEN lnv >= 0
                               THEN CAST(floor(lnv * 1000000.0 + 0.5)
                                         AS BIGINT)
                               ELSE -CAST(floor(-lnv * 1000000.0 + 0.5)
                                          AS BIGINT) END AS woe_micro,
                          CASE WHEN d * lnv >= 0
                               THEN CAST(floor(d * lnv * 1000000.0
                                               + 0.5) AS BIGINT)
                               ELSE -CAST(floor(-(d * lnv) * 1000000.0
                                                + 0.5) AS BIGINT)
                          END AS ivq
                   FROM t),
            iv AS (SELECT CAST(sum(ivq) AS BIGINT) AS iv_micro FROM qq)
            SELECT qq.cat, qq.n, qq.n_pos, qq.n_neg, qq.woe_micro,
                   CAST(qq.woe_micro AS DOUBLE) / 1000000.0 AS woe,
                   iv.iv_micro
            FROM qq, iv
        """,
        "q_bootstrap": _ora_bootstrap(),
        # exact-moment regression metric replay
        "q_regression_metrics": """
            WITH s AS (SELECT CAST(floor(value) AS BIGINT) AS y,
                              CAST(floor(value) AS BIGINT)
                              + event_id % 21 - 10 AS yhat
                       FROM events),
            m AS (SELECT count(*) AS n,
                         CAST(sum(abs(y - yhat)) AS BIGINT) AS sae,
                         CAST(sum((y - yhat) * (y - yhat)) AS BIGINT)
                             AS sse,
                         CAST(sum(y) AS BIGINT) AS sy,
                         CAST(sum(y * y) AS BIGINT) AS syy
                  FROM s)
            SELECT n, sae, sse,
                   CAST(sae AS DOUBLE) / CAST(n AS DOUBLE) AS mae,
                   sqrt(CAST(sse AS DOUBLE) / CAST(n AS DOUBLE)) AS rmse,
                   CASE WHEN n * syy - sy * sy > 0
                        THEN 1.0 - CAST(n * sse AS DOUBLE)
                                   / CAST(n * syy - sy * sy AS DOUBLE)
                   END AS r2
            FROM m
        """,
        # SQL-standard ntile over the same total order
        "q_lift": """
            WITH s AS (SELECT event_id,
                              (event_id * 104729) % 100000 AS score,
                              CASE WHEN event_id % 7 = 0 THEN 1
                                   ELSE 0 END AS y
                       FROM events),
            b AS (SELECT y, ntile(10) OVER (ORDER BY score DESC,
                                            event_id ASC) AS bucket
                  FROM s),
            per AS (SELECT bucket, count(*) AS n,
                           CAST(sum(y) AS BIGINT) AS n_pos
                    FROM b GROUP BY bucket),
            cum AS (SELECT bucket, n, n_pos,
                           CAST(sum(n_pos) OVER (ORDER BY bucket
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                AND CURRENT ROW) AS BIGINT) AS cum_pos,
                           CAST(sum(n_pos) OVER () AS BIGINT) AS tp,
                           CAST(sum(n) OVER () AS BIGINT) AS tn
                    FROM per)
            SELECT bucket, n, n_pos, cum_pos,
                   CASE WHEN tp > 0
                        THEN CAST(cum_pos AS DOUBLE)
                             / CAST(tp AS DOUBLE) END AS gain,
                   CASE WHEN tp > 0
                        THEN CAST(n_pos * tn AS DOUBLE)
                             / CAST(n * tp AS DOUBLE) END AS lift
            FROM cum
        """,
        # 3-step episode window replay
        "q_sequences": """
            WITH w AS (SELECT user_id, event_type AS a,
                              lead(event_type, 1) OVER wk AS b,
                              lead(event_type, 2) OVER wk AS c
                       FROM events
                       WINDOW wk AS (PARTITION BY user_id
                                     ORDER BY event_id)),
            ep AS (SELECT a || '>' || b || '>' || c AS episode
                   FROM w WHERE c IS NOT NULL)
            SELECT episode, count(*) AS support
            FROM ep GROUP BY episode HAVING count(*) >= 5
        """,
        "q_er": _ora_er(),
        "q_cluster_eval": _ora_cluster_eval(),
        # exact ceil-DIV rank + order statistic replay
        "q_conformal": """
            WITH s AS (SELECT (event_id * 7919) % 100000 AS v
                       FROM events),
            pv AS (SELECT v, count(*) AS c FROM s GROUP BY v),
            cum AS (SELECT v,
                           CAST(sum(c) OVER (ORDER BY v
                               ROWS BETWEEN UNBOUNDED PRECEDING
                               AND CURRENT ROW) AS BIGINT) AS cm
                    FROM pv),
            tot AS (SELECT count(*) AS n,
                           ((count(*) + 1) * 9 + 9) // 10 AS rank_r
                    FROM s),
            th AS (SELECT min(v) AS threshold
                   FROM cum, tot WHERE cum.cm >= tot.rank_r)
            SELECT tot.n, CAST(tot.rank_r AS BIGINT) AS rank_r,
                   th.threshold,
                   CAST(0.9 AS DOUBLE) AS coverage_target
            FROM tot, th
        """,
        # cleared-denominator smoothed target mean
        "q_target_enc": """
            WITH s AS (SELECT event_type AS cat,
                              CAST(floor(value) AS BIGINT) AS y
                       FROM events),
            per AS (SELECT cat, count(*) AS n_c,
                           CAST(sum(y) AS BIGINT) AS sum_y
                    FROM s GROUP BY cat),
            tot AS (SELECT count(*) AS n, CAST(sum(y) AS BIGINT) AS sy
                    FROM s)
            SELECT per.cat, per.n_c, per.sum_y,
                   CAST(per.sum_y * tot.n + 50 * tot.sy AS DOUBLE)
                       / CAST(tot.n * (per.n_c + 50) AS DOUBLE) AS enc
            FROM per, tot
        """,
        # exact int64 power sums; central moments via the SAME fixed
        # left-associative double chains (no window sums anywhere —
        # DuckDB's segment-tree windowed sum orders doubles
        # differently from Spark's sequential fold)
        "q_moments": """
            WITH s AS (SELECT event_type AS g,
                              CAST(floor(value / CAST(2 AS DOUBLE))
                                   AS BIGINT) AS v
                       FROM events),
            agg AS (SELECT g, count(*) AS n,
                           CAST(sum(v) AS BIGINT) AS s1,
                           CAST(sum(v * v) AS BIGINT) AS s2,
                           CAST(sum(v * v * v) AS BIGINT) AS s3,
                           CAST(sum(v * v * v * v) AS BIGINT) AS s4
                    FROM s GROUP BY g),
            m AS (SELECT g, n,
                         CAST(s1 AS DOUBLE) AS s1d,
                         CAST(s2 AS DOUBLE) AS s2d,
                         CAST(s3 AS DOUBLE) AS s3d,
                         CAST(s4 AS DOUBLE) AS s4d,
                         CAST(n AS DOUBLE) AS nd,
                         CAST(n * s2 - s1 * s1 AS BIGINT) AS a_int
                  FROM agg),
            mm AS (SELECT g, n, nd, s1d,
                          CAST(a_int AS DOUBLE) / (nd * nd) AS m2,
                          (nd * nd * s3d - 3.0 * nd * s1d * s2d
                           + 2.0 * s1d * s1d * s1d)
                              / (nd * nd * nd) AS m3,
                          (nd * nd * nd * s4d
                           - 4.0 * nd * nd * s1d * s3d
                           + 6.0 * nd * s1d * s1d * s2d
                           - 3.0 * s1d * s1d * s1d * s1d)
                              / (nd * nd * nd * nd) AS m4
                   FROM m)
            SELECT g AS event_type, n, s1d / nd AS mean, m2, m3, m4,
                   CASE WHEN m2 > 0 THEN m3 / (sqrt(m2) * m2)
                   END AS skewness,
                   CASE WHEN m2 > 0 THEN m4 / (m2 * m2) - 3.0
                   END AS kurtosis_ex
            FROM mm
        """,
        # micro-nat JSD replay; // truncates in both engines
        "q_jsd": """
            WITH s AS (SELECT 'x' || CAST((event_id * 13) % 5 AS VARCHAR)
                               AS cat,
                              CASE WHEN event_id % 2 = 0 THEN 'a'
                                   ELSE 'b' END AS side
                       FROM events),
            per AS (SELECT cat,
                           CAST(sum(CASE WHEN side = 'a' THEN 1
                                         ELSE 0 END) AS BIGINT) AS ca,
                           CAST(sum(CASE WHEN side = 'b' THEN 1
                                         ELSE 0 END) AS BIGINT) AS cb
                    FROM s GROUP BY cat),
            tot AS (SELECT CAST(sum(CASE WHEN side = 'a' THEN 1
                                         ELSE 0 END) AS BIGINT) AS n_a,
                           CAST(sum(CASE WHEN side = 'b' THEN 1
                                         ELSE 0 END) AS BIGINT) AS n_b,
                           CAST(count(DISTINCT cat) AS BIGINT) AS n_cats
                    FROM s),
            j AS (SELECT per.ca + 1 AS ca1, per.cb + 1 AS cb1,
                         tot.n_a + tot.n_cats AS na1,
                         tot.n_b + tot.n_cats AS nb1,
                         tot.n_a, tot.n_b, tot.n_cats
                  FROM per, tot),
            t AS (SELECT n_a, n_b, n_cats,
                         (CAST(ca1 AS DOUBLE) / CAST(na1 AS DOUBLE))
                         * ln(CAST(2 * (ca1 * nb1) AS DOUBLE)
                              / CAST(ca1 * nb1 + cb1 * na1 AS DOUBLE))
                             AS ta,
                         (CAST(cb1 AS DOUBLE) / CAST(nb1 AS DOUBLE))
                         * ln(CAST(2 * (cb1 * na1) AS DOUBLE)
                              / CAST(ca1 * nb1 + cb1 * na1 AS DOUBLE))
                             AS tb
                  FROM j),
            q AS (SELECT n_a, n_b, n_cats,
                         (CASE WHEN ta >= 0
                               THEN CAST(floor(ta * 1000000.0 + 0.5)
                                         AS BIGINT)
                               ELSE -CAST(floor(-ta * 1000000.0 + 0.5)
                                          AS BIGINT) END)
                         + (CASE WHEN tb >= 0
                                 THEN CAST(floor(tb * 1000000.0 + 0.5)
                                           AS BIGINT)
                                 ELSE -CAST(floor(-tb * 1000000.0 + 0.5)
                                            AS BIGINT) END) AS tq
                  FROM t)
            SELECT n_a, n_b, n_cats,
                   CAST(CAST(sum(tq) AS BIGINT) // 2 AS BIGINT)
                       AS jsd_micro,
                   CAST(CAST(CAST(sum(tq) AS BIGINT) // 2 AS BIGINT)
                        AS DOUBLE) / 1000000.0 AS jsd
            FROM q GROUP BY n_a, n_b, n_cats
        """,
        # order-pinned AP fold along the q_rank_metrics ranking
        "q_ap": """
            WITH s AS (
              SELECT event_type AS query, event_id AS item,
                     (event_id * 104729) % 100000 AS score,
                     CASE WHEN event_id % 7 = 0 THEN 1
                          WHEN event_id % 3 = 0 THEN 1 ELSE 0 END AS rel
              FROM events),
            r AS (SELECT query, rel,
                         row_number() OVER (PARTITION BY query
                                            ORDER BY score DESC,
                                                     item ASC) AS rnk
                  FROM s),
            c AS (SELECT query, rel, rnk,
                         CAST(sum(rel) OVER (PARTITION BY query
                              ORDER BY rnk ROWS BETWEEN UNBOUNDED
                              PRECEDING AND CURRENT ROW) AS BIGINT)
                             AS cumrel
                  FROM r),
            f AS (SELECT query, count(*) AS n,
                         CAST(sum(rel) AS BIGINT) AS n_rel,
                         CAST(sum(CASE WHEN rel > 0
                                  THEN (cumrel * 1099511627776) // rnk
                                  ELSE 0 END) AS BIGINT) AS ap_u
                  FROM c GROUP BY query)
            SELECT query, n, n_rel, ap_u,
                   CASE WHEN n_rel > 0
                        THEN CAST(ap_u AS DOUBLE)
                             / (CAST(n_rel AS DOUBLE)
                                * 1099511627776.0) END AS ap
            FROM f
        """,
        # identical truncating-division double recurrence; DuckDB //
        # truncates toward zero exactly like the spec's tdiv
        "q_holt": """
            WITH RECURSIVE s AS (
              SELECT user_id % 16 AS key, event_id AS seq,
                     CAST(floor(value * CAST(100 AS DOUBLE) + 0.5)
                          AS BIGINT) AS val
              FROM events WHERE event_id < 2000 AND value >= 0),
            r AS (SELECT key, seq, val,
                         row_number() OVER (PARTITION BY key
                                            ORDER BY seq) AS rn
                  FROM s),
            ho AS (
              SELECT key, seq, val, rn,
                     val * 1000000 AS l, CAST(0 AS BIGINT) AS b
              FROM r WHERE rn = 1
              UNION ALL
              SELECT r.key, r.seq, r.val, r.rn,
                     (3 * r.val * 1000000 + 7 * (ho.l + ho.b)) // 10,
                     (2 * ((3 * r.val * 1000000 + 7 * (ho.l + ho.b))
                           // 10 - ho.l) + 8 * ho.b) // 10
              FROM ho JOIN r ON r.key = ho.key AND r.rn = ho.rn + 1)
            SELECT key, seq, val,
                   l AS level_q, b AS trend_q,
                   CAST(l + b AS BIGINT) AS forecast_q,
                   CAST(l AS DOUBLE) / CAST(1000000 AS DOUBLE) AS level,
                   CAST(b AS DOUBLE) / CAST(1000000 AS DOUBLE) AS trend
            FROM ho
        """,
        # cumulative-window Gini replay; argmax = ORDER BY score
        # DESC, v ASC (the operator's max(struct(score,-v)) tie rule)
        "q_stump": """
            WITH s AS (SELECT CAST(floor(value) AS BIGINT) AS x,
                              CASE WHEN floor(value) > 200
                                   THEN CASE WHEN event_id % 10 < 8
                                             THEN 1 ELSE 0 END
                                   ELSE CASE WHEN event_id % 10 < 2
                                             THEN 1 ELSE 0 END
                              END AS y
                       FROM events),
            pv AS (SELECT x AS v, CAST(sum(y) AS BIGINT) AS pos,
                          count(*) AS n
                   FROM s GROUP BY 1),
            cum AS (SELECT v,
                           CAST(sum(n) OVER wv AS BIGINT) AS nl,
                           CAST(sum(pos) OVER wv AS BIGINT) AS pl
                    FROM pv
                    WINDOW wv AS (ORDER BY v ROWS BETWEEN UNBOUNDED
                                  PRECEDING AND CURRENT ROW)),
            tot AS (SELECT count(*) AS tn, CAST(sum(y) AS BIGINT) AS tp
                    FROM s),
            cand AS (SELECT v, nl, pl, tn, tp,
                            tn - nl AS nr, tp - pl AS pr
                     FROM cum, tot WHERE nl < tn),
            sc AS (SELECT v, nl, nr, pl, pr, tn,
                          CAST(pl * pl + (nl - pl) * (nl - pl) AS DOUBLE)
                              / CAST(nl AS DOUBLE)
                          + CAST(pr * pr + (nr - pr) * (nr - pr) AS DOUBLE)
                              / CAST(nr AS DOUBLE) AS score
                   FROM cand)
            SELECT v AS threshold, score,
                   (CAST(tn AS DOUBLE) - score) / CAST(tn AS DOUBLE)
                       AS wgini,
                   nl AS n_left, nr AS n_right,
                   pl AS pos_left, pr AS pos_right,
                   CAST(CASE WHEN 2 * pl >= nl THEN 1 ELSE 0 END
                        AS INTEGER) AS pred_left,
                   CAST(CASE WHEN 2 * pr >= nr THEN 1 ELSE 0 END
                        AS INTEGER) AS pred_right
            FROM sc ORDER BY score DESC, v ASC LIMIT 1
        """,
        # add-one-smoothed PSI over the full 12-bin spine
        "q_psi": """
            WITH s AS (SELECT CASE WHEN event_id % 2 = 0
                                   THEN CAST(floor(value) AS BIGINT)
                                   ELSE CAST(floor(value
                                        * CAST(1.2 AS DOUBLE)) AS BIGINT)
                              END AS v,
                              CASE WHEN event_id % 2 = 0 THEN 'a'
                                   ELSE 'b' END AS side
                       FROM events),
            b AS (SELECT least(greatest((v * 12) // 600, 0), 11) AS bin,
                         sum(CASE WHEN side = 'a' THEN 1 ELSE 0 END)
                             AS ca,
                         sum(CASE WHEN side = 'b' THEN 1 ELSE 0 END)
                             AS cb
                  FROM s GROUP BY 1),
            spine AS (SELECT range AS bin FROM range(12)),
            fullb AS (SELECT spine.bin, coalesce(b.ca, 0) AS ca,
                             coalesce(b.cb, 0) AS cb
                      FROM spine LEFT JOIN b USING (bin)),
            tot AS (SELECT CAST(sum(CASE WHEN side = 'a' THEN 1
                                         ELSE 0 END) AS BIGINT) AS n_a,
                           CAST(sum(CASE WHEN side = 'b' THEN 1
                                         ELSE 0 END) AS BIGINT) AS n_b
                    FROM s),
            t AS (SELECT n_a, n_b,
                         CAST((ca + 1) * (n_b + 12)
                              - (cb + 1) * (n_a + 12) AS DOUBLE)
                             / CAST((n_a + 12) * (n_b + 12) AS DOUBLE)
                         * ln(CAST((ca + 1) * (n_b + 12) AS DOUBLE)
                              / CAST((cb + 1) * (n_a + 12) AS DOUBLE))
                             AS tv
                  FROM fullb, tot),
            q AS (SELECT n_a, n_b,
                         CAST(floor(tv * 1000000.0 + 0.5) AS BIGINT)
                             AS tq
                  FROM t)
            SELECT n_a, n_b, 12 AS n_bins,
                   CAST(sum(tq) AS BIGINT) AS psi_micro,
                   CAST(CAST(sum(tq) AS BIGINT) AS DOUBLE) / 1000000.0
                       AS psi
            FROM q GROUP BY n_a, n_b
        """,
        # verbatim doubled-rank replay; the group-term fold is the
        # same order-pinned running window in both engines
        "q_kruskal": """
            WITH s AS (SELECT event_type AS g,
                              CAST(floor(value * CAST(10 AS DOUBLE))
                                   AS BIGINT) AS v
                       FROM events),
            gv AS (SELECT g, v, count(*) AS ngv FROM s GROUP BY 1, 2),
            pv AS (SELECT v, CAST(sum(ngv) AS BIGINT) AS cnt
                   FROM gv GROUP BY 1),
            rk AS (SELECT v, cnt,
                          CAST(sum(cnt) OVER (ORDER BY v
                              ROWS BETWEEN UNBOUNDED PRECEDING
                              AND CURRENT ROW) - cnt AS BIGINT) AS bfr
                   FROM pv),
            pg AS (SELECT g,
                          CAST(sum(ngv * (2 * rk.bfr + rk.cnt + 1))
                               AS BIGINT) AS r2,
                          CAST(sum(ngv) AS BIGINT) AS ng
                   FROM gv JOIN rk USING (v) GROUP BY g),
            fold AS (SELECT g,
                            CAST(r2 AS DOUBLE) * CAST(r2 AS DOUBLE)
                                / CAST(4 * ng AS DOUBLE) AS term
                     FROM pg),
            run AS (SELECT sum(term) OVER (ORDER BY g
                               ROWS BETWEEN UNBOUNDED PRECEDING
                               AND CURRENT ROW) AS sacc,
                           row_number() OVER (ORDER BY g) AS rn,
                           count(*) OVER () AS k
                    FROM fold),
            lastrow AS (SELECT sacc, k FROM run WHERE rn = k),
            tot AS (SELECT CAST(sum(cnt * cnt * cnt - cnt) AS BIGINT)
                           AS ties_t,
                           CAST(sum(cnt) AS BIGINT) AS n
                    FROM pv)
            SELECT n, k, ties_t,
                   (sacc * 12.0) / CAST(n * (n + 1) AS DOUBLE)
                       - CAST(3 * (n + 1) AS DOUBLE) AS h,
                   CASE WHEN 1.0 - CAST(ties_t AS DOUBLE)
                                   / CAST(n * n * n - n AS DOUBLE) <> 0
                        THEN ((sacc * 12.0) / CAST(n * (n + 1) AS DOUBLE)
                              - CAST(3 * (n + 1) AS DOUBLE))
                             / (1.0 - CAST(ties_t AS DOUBLE)
                                      / CAST(n * n * n - n AS DOUBLE))
                   END AS h_tie
            FROM lastrow, tot
        """,
        # verbatim fixed-chain replay on exact int64 moments
        "q_welch": """
            WITH s AS (SELECT CAST(floor(value * CAST(10 AS DOUBLE))
                                   AS BIGINT) AS x,
                              CASE WHEN event_id % 2 = 0 THEN 'a'
                                   ELSE 'b' END AS side
                       FROM events),
            m AS (SELECT
                    CAST(sum(CASE WHEN side = 'a' THEN 1 ELSE 0 END)
                         AS BIGINT) AS na,
                    CAST(sum(CASE WHEN side = 'a' THEN x ELSE 0 END)
                         AS BIGINT) AS sxa,
                    CAST(sum(CASE WHEN side = 'a' THEN x * x ELSE 0 END)
                         AS BIGINT) AS sxxa,
                    CAST(sum(CASE WHEN side = 'b' THEN 1 ELSE 0 END)
                         AS BIGINT) AS nb,
                    CAST(sum(CASE WHEN side = 'b' THEN x ELSE 0 END)
                         AS BIGINT) AS sxb,
                    CAST(sum(CASE WHEN side = 'b' THEN x * x ELSE 0 END)
                         AS BIGINT) AS sxxb
                  FROM s),
            c AS (SELECT na, nb, sxa, sxb,
                         CAST(na * sxxa - sxa * sxa AS BIGINT) AS va,
                         CAST(nb * sxxb - sxb * sxb AS BIGINT) AS vb
                  FROM m),
            d AS (SELECT na, nb,
                         CAST(va AS DOUBLE)
                             / CAST(na * na * (na - 1) AS DOUBLE) AS a,
                         CAST(vb AS DOUBLE)
                             / CAST(nb * nb * (nb - 1) AS DOUBLE) AS b,
                         CAST(sxa * nb - sxb * na AS DOUBLE)
                             / CAST(na * nb AS DOUBLE) AS md,
                         CAST(va AS DOUBLE) / CAST(na AS DOUBLE) AS van,
                         CAST(vb AS DOUBLE) / CAST(nb AS DOUBLE) AS vbn
                  FROM c)
            SELECT na AS n_a, nb AS n_b,
                   CASE WHEN na >= 2 AND nb >= 2 THEN md END AS mean_diff,
                   CASE WHEN na >= 2 AND nb >= 2
                        THEN md / sqrt(a + b) END AS t,
                   CASE WHEN na >= 2 AND nb >= 2
                        THEN ((a + b) * (a + b))
                             / ((a * a) / CAST(na - 1 AS DOUBLE)
                                + (b * b) / CAST(nb - 1 AS DOUBLE))
                   END AS df_welch,
                   CASE WHEN na >= 2 AND nb >= 2 AND na + nb > 2
                        THEN md / sqrt((van + vbn)
                                       / CAST(na + nb - 2 AS DOUBLE))
                   END AS cohens_d
            FROM d
        """,
        # r×c chi2 with the chi2_test micro-quantization, + Cramér's V
        "q_cramers": """
            WITH s AS (SELECT event_type AS a,
                              'x' || CAST(event_id % 5 AS VARCHAR) AS b
                       FROM events),
            cells AS (SELECT a, b, count(*) AS o FROM s GROUP BY 1, 2),
            rm AS (SELECT a, CAST(sum(o) AS BIGINT) AS r
                   FROM cells GROUP BY 1),
            cm AS (SELECT b, CAST(sum(o) AS BIGINT) AS c
                   FROM cells GROUP BY 1),
            tot AS (SELECT CAST(sum(o) AS BIGINT) AS n,
                           CAST(count(DISTINCT a) AS BIGINT) AS ra,
                           CAST(count(DISTINCT b) AS BIGINT) AS cb
                    FROM cells),
            j AS (SELECT coalesce(cells.o, 0) AS o, rm.r, cm.c,
                         tot.n, tot.ra, tot.cb
                  FROM rm CROSS JOIN cm
                  LEFT JOIN cells ON cells.a = rm.a AND cells.b = cm.b,
                  tot),
            tq AS (SELECT n, ra, cb,
                          CAST(floor(
                              (CAST(o * n - r * c AS DOUBLE)
                               * CAST(o * n - r * c AS DOUBLE)
                               / CAST(n * r * c AS DOUBLE))
                              * 1000000.0 + 0.5) AS BIGINT) AS q
                   FROM j),
            agg AS (SELECT n, ra AS r_card, cb AS c_card,
                           CAST(sum(q) AS BIGINT) AS chi2q
                    FROM tq GROUP BY 1, 2, 3)
            SELECT n, r_card, c_card,
                   CAST(chi2q AS DOUBLE) / 1000000.0 AS chi2,
                   CASE WHEN least(r_card - 1, c_card - 1) > 0
                        THEN sqrt((CAST(chi2q AS DOUBLE) / 1000000.0)
                                  / CAST(n * least(r_card - 1, c_card - 1)
                                         AS DOUBLE))
                   END AS v
            FROM agg
        """,
        # micro-nat MI replay (sign-aware HALF-UP quantization)
        "q_mutinfo": """
            WITH s AS (SELECT event_type AS a,
                              'x' || CAST(event_id % 4 AS VARCHAR) AS b
                       FROM events),
            cells AS (SELECT a, b, count(*) AS o FROM s GROUP BY 1, 2),
            rm AS (SELECT a, CAST(sum(o) AS BIGINT) AS r
                   FROM cells GROUP BY 1),
            cm AS (SELECT b, CAST(sum(o) AS BIGINT) AS c
                   FROM cells GROUP BY 1),
            tot AS (SELECT CAST(sum(o) AS BIGINT) AS n FROM cells),
            j AS (SELECT cells.o, rm.r, cm.c, tot.n
                  FROM cells JOIN rm USING (a) JOIN cm USING (b), tot),
            t AS (SELECT n,
                         CAST(o AS DOUBLE)
                             * ln(CAST(n * o AS DOUBLE)
                                  / CAST(r * c AS DOUBLE)) AS tv
                  FROM j),
            tq AS (SELECT n,
                          CASE WHEN tv >= 0
                               THEN CAST(floor(tv * 1000000.0 + 0.5)
                                         AS BIGINT)
                               ELSE -CAST(floor(-tv * 1000000.0 + 0.5)
                                          AS BIGINT)
                          END AS q
                   FROM t)
            SELECT n, count(*) AS n_cells,
                   CAST(sum(q) AS BIGINT) AS mi_micro_rows,
                   CAST(CAST(sum(q) AS BIGINT) AS DOUBLE) / 1000000.0
                       / CAST(n AS DOUBLE) AS mi_nats
            FROM tq GROUP BY n
        """,
        # integer-ppm calibration bins; DuckDB sum() widens to
        # HUGEINT — the final DIV is cast back to BIGINT
        "q_ece": """
            WITH s AS (
              SELECT (event_id * 104729) % 1000001 AS sc,
                     CASE WHEN (event_id * 7919) % 1000000
                               < (event_id * 104729) % 1000001
                          THEN 1 ELSE 0 END AS y
              FROM events),
            b AS (SELECT CASE WHEN (sc * 10) // 1000000 > 9 THEN 9
                              ELSE (sc * 10) // 1000000 END AS bin,
                         count(*) AS n,
                         CAST(sum(y) AS BIGINT) AS n_pos,
                         CAST(sum(sc) AS BIGINT) AS sum_score_ppm
                  FROM s GROUP BY 1),
            g AS (SELECT bin, n, n_pos, sum_score_ppm,
                         abs(sum_score_ppm - n_pos * 1000000) AS gap_u
                  FROM b),
            t AS (SELECT CAST(sum(gap_u) // sum(n) AS BIGINT) AS ece_ppm
                  FROM g)
            SELECT CAST(g.bin AS BIGINT) AS bin, g.n, g.n_pos,
                   g.sum_score_ppm, CAST(g.gap_u AS BIGINT) AS gap_u,
                   t.ece_ppm
            FROM g, t
        """,
    }
    # batch-parity: the streaming drain equals batch ewma bit-for-bit
    d["q_stream_ewma"] = d["q_ewma"]

    # ---- batch r4-1 ----
    import math as _math

    _alt, _az = _math.radians(45.0), _math.radians(315.0)
    _ax = repr(-_math.cos(_alt) * _math.sin(_az))
    _ay = repr(-_math.cos(_alt) * _math.cos(_az))
    _az_c = repr(_math.sin(_alt))
    _r2 = repr(6371008.8 * 6371008.8)
    # Horn-gradient replay (the q_slope_aspect CTE) + the fixed shade
    # chain with strtod'd repr literals: ((ax*gx + ay*gy) + az*8),
    # den = sqrt(gx^2+gy^2+64), shade = floor(255*max(num,0)/den + .5)
    d["q_hillshade"] = f"""
        WITH g AS (
          SELECT o_orderkey % 32 AS x,
                 (o_orderkey // 32) % 32 AS y,
                 (o_orderkey * 7919) % 1000 AS z
          FROM orders WHERE o_orderkey < 1024),
        offs(dx, dy, cgx, cgy) AS (VALUES
            (1, 0, 2, 0), (1, 1, 1, 1), (1, -1, 1, -1),
            (-1, 0, -2, 0), (-1, 1, -1, 1), (-1, -1, -1, -1),
            (0, 1, 0, 2), (0, -1, 0, -2)),
        grad AS (
          SELECT c.x, c.y,
                 CAST(sum(o.cgx * n.z) AS BIGINT) AS gx,
                 CAST(sum(o.cgy * n.z) AS BIGINT) AS gy
          FROM g c JOIN offs o ON TRUE
          JOIN g n ON n.x = c.x + o.dx AND n.y = c.y + o.dy
          GROUP BY c.x, c.y HAVING count(*) = 8)
        SELECT g.x, g.y, g.z, gr.gx, gr.gy,
               CAST(floor(
                 CAST(255 AS DOUBLE)
                 * greatest(
                     (CAST('{_ax}' AS DOUBLE) * CAST(gr.gx AS DOUBLE)
                      + CAST('{_ay}' AS DOUBLE) * CAST(gr.gy AS DOUBLE))
                     + CAST('{_az_c}' AS DOUBLE) * CAST(8 AS DOUBLE),
                     CAST(0 AS DOUBLE))
                 / sqrt(CAST(gr.gx * gr.gx + gr.gy * gr.gy + 64 AS DOUBLE))
                 + 0.5) AS INTEGER) AS shade
        FROM g JOIN grad gr ON gr.x = g.x AND gr.y = g.y
    """
    # independent argmax: row_number over (count DESC, class ASC) vs
    # the engine's min(struct(-count, class))
    d["q_focal_majority"] = """
        WITH g AS (
          SELECT o_orderkey % 32 AS x,
                 (o_orderkey // 32) % 32 AS y,
                 (o_orderkey * 13) % 5 AS v
          FROM orders WHERE o_orderkey < 1024),
        offs(dx, dy) AS (VALUES (-1,-1), (-1,0), (-1,1), (0,-1), (0,0),
                                (0,1), (1,-1), (1,0), (1,1)),
        votes AS (SELECT c.x, c.y, n.v
                  FROM g c JOIN offs o ON TRUE
                  JOIN g n ON n.x = c.x + o.dx AND n.y = c.y + o.dy),
        cnt AS (SELECT x, y, v, count(*) AS c FROM votes GROUP BY 1, 2, 3),
        tot AS (SELECT x, y, CAST(sum(c) AS BIGINT) AS t
                FROM cnt GROUP BY 1, 2),
        rk AS (SELECT x, y, v, c, row_number() OVER (
                   PARTITION BY x, y ORDER BY c DESC, v ASC) AS rn
               FROM cnt)
        SELECT rk.x, rk.y, rk.v AS v_maj, CAST(rk.c AS BIGINT) AS n_maj
        FROM rk JOIN tot ON tot.x = rk.x AND tot.y = rk.y
        WHERE rk.rn = 1 AND tot.t = 9
    """
    d["q_interval_coverage"] = """
        WITH iv AS (
          SELECT user_id % 10 AS key, epoch_us(ts) AS s,
                 epoch_us(ts) + (event_id % 5 + 1) * 3600000000 AS e
          FROM events),
        o AS (SELECT key, s, e,
                     max(e) OVER (PARTITION BY key ORDER BY s, e
                                  ROWS BETWEEN UNBOUNDED PRECEDING
                                  AND 1 PRECEDING) AS pmax
              FROM iv),
        f AS (SELECT key, s, e,
                     CASE WHEN pmax IS NULL OR s > pmax THEN 1 ELSE 0 END
                         AS nw
              FROM o),
        c AS (SELECT key, s, e,
                     CAST(SUM(nw) OVER (PARTITION BY key ORDER BY s, e
                                        ROWS UNBOUNDED PRECEDING)
                          AS BIGINT) AS cid
              FROM f),
        pc AS (SELECT key, cid, min(s) AS cs, max(e) AS ce,
                      count(*) AS n
               FROM c GROUP BY 1, 2)
        SELECT key, CAST(sum(n) AS BIGINT) AS n_intervals,
               count(*) AS n_components,
               CAST(sum(ce - cs) AS BIGINT) AS covered
        FROM pc GROUP BY key
    """
    # brute |l|x|r|-per-key + row_number — the shape the engine's
    # two-window plan replaces
    d["q_nearest_event"] = """
        WITH l AS (SELECT event_id, user_id, ts, value FROM events
                   WHERE event_type = 'click'),
        r AS (SELECT user_id, ts, max(value) AS rv FROM events
              WHERE event_type = 'purchase' GROUP BY user_id, ts),
        cand AS (SELECT l.event_id, r.rv, epoch_us(r.ts) AS rts,
                        abs(epoch_us(l.ts) - epoch_us(r.ts)) AS dist
                 FROM l JOIN r ON r.user_id = l.user_id),
        best AS (SELECT event_id, rv, rts FROM (
                   SELECT *, row_number() OVER (PARTITION BY event_id
                       ORDER BY dist, rts) AS rn
                   FROM cand) WHERE rn = 1)
        SELECT l.event_id, l.user_id, epoch_us(l.ts) AS ts_us, l.value,
               best.rv AS rv_r, best.rts AS nearest_ts_us_r
        FROM l LEFT JOIN best ON best.event_id = l.event_id
    """
    d["q_mcnemar"] = """
        WITH s AS (SELECT CASE WHEN event_id % 3 = 0 THEN 1 ELSE 0 END AS a,
                          CASE WHEN (event_id * 7 + 1) % 5 < 2
                               THEN 1 ELSE 0 END AS b
                   FROM events),
        agg AS (SELECT count(*) AS n,
                       CAST(sum(CASE WHEN a = 1 AND b = 0 THEN 1 ELSE 0 END)
                            AS BIGINT) AS n_b,
                       CAST(sum(CASE WHEN a = 0 AND b = 1 THEN 1 ELSE 0 END)
                            AS BIGINT) AS n_c
                FROM s)
        SELECT n, n_b, n_c, n - (n_b + n_c) AS n_concordant,
               CASE WHEN n_b + n_c > 0 THEN
                   CAST((n_b - n_c) * (n_b - n_c) AS DOUBLE)
                   / CAST(n_b + n_c AS DOUBLE) END AS chi2
        FROM agg
    """
    d["q_trend"] = """
        WITH s AS (SELECT user_id % 5 AS w,
                          CASE WHEN event_id % 4 = 0 THEN 1 ELSE 0 END AS d
                   FROM events),
        per AS (SELECT w, count(*) AS n, CAST(sum(d) AS BIGINT) AS dd
                FROM s GROUP BY w),
        tot AS (SELECT CAST(sum(n) AS BIGINT) AS n,
                       CAST(sum(dd) AS BIGINT) AS r,
                       count(*) AS n_scores,
                       CAST(sum(w * dd) AS BIGINT) AS swd,
                       CAST(sum(w * n) AS BIGINT) AS swn,
                       CAST(sum(w * w * n) AS BIGINT) AS sw2n
                FROM per)
        SELECT n, r AS n_events, n_scores,
               n * swd - r * swn AS t_num,
               n * sw2n - swn * swn AS v_star,
               CASE WHEN r > 0 AND r < n AND n * sw2n - swn * swn > 0 THEN
                 CAST(n * swd - r * swn AS DOUBLE)
                 * sqrt(CAST(n AS DOUBLE))
                 / ((sqrt(CAST(r AS DOUBLE)) * sqrt(CAST(n - r AS DOUBLE)))
                    * sqrt(CAST(n * sw2n - swn * swn AS DOUBLE)))
               END AS z
        FROM tot
    """
    d["q_matching"] = _ora_matching()
    d["q_mis"] = _ora_mis()
    d["q_fisher"] = _ora_fisher()
    d["q_centroid"] = _ora_centroid()
    d["q_sink_branch"] = _ora_sink_roundtrip()
    d["q_betweenness"] = _ora_betweenness()
    # last-write-wins changelog state == argmax-per-key over the source
    d["q_stream_upsert"] = """
        SELECT user_id AS k, max(event_id) AS ver,
               arg_max(event_type, event_id) AS payload
        FROM events WHERE event_id < 5000
        GROUP BY user_id ORDER BY k
    """
    # independent formulation: correlated scalar subqueries per
    # conversion instead of the engine's join + max(struct)
    d["q_semantic_dedup"] = _ora_semantic_dedup()
    d["q_attribution"] = """
        WITH conv AS (SELECT user_id, event_id AS conv_id, ts AS conv_ts
                      FROM events
                      WHERE event_type = 'purchase' AND event_id < 6000),
        t AS (SELECT user_id, event_id, ts FROM events
              WHERE event_type = 'click' AND event_id < 6000)
        SELECT c.user_id, c.conv_id, epoch_us(c.conv_ts) AS conv_us,
               (SELECT t.event_id FROM t
                WHERE t.user_id = c.user_id AND t.ts <= c.conv_ts
                  AND t.ts >= c.conv_ts - INTERVAL 6 HOUR
                ORDER BY t.ts DESC, t.event_id DESC LIMIT 1) AS touch_id,
               epoch_us((SELECT max(t.ts) FROM t
                WHERE t.user_id = c.user_id AND t.ts <= c.conv_ts
                  AND t.ts >= c.conv_ts - INTERVAL 6 HOUR)) AS touch_us
        FROM conv c ORDER BY c.conv_id
    """
    # identical-chain slerp replay (the destination_point discipline)
    d["q_densify"] = f"""
        WITH pts AS ({SQL_POINTS}),
        a AS (SELECT doc_id, lat AS lat1, lon AS lon1 FROM pts
              WHERE doc_id < 2000),
        b AS (SELECT doc_id - 1 AS doc_id, lat AS lat2, lon AS lon2 FROM pts
              WHERE doc_id < 2000),
        legs AS (SELECT a.doc_id, lat1, lon1, lat2, lon2
                 FROM a JOIN b USING (doc_id)),
        t AS (SELECT doc_id,
                     lat1 * 0.017453292519943295 AS la1,
                     lon1 * 0.017453292519943295 AS lo1,
                     lat2 * 0.017453292519943295 AS la2,
                     lon2 * 0.017453292519943295 AS lo2,
                     lat1, lon1
              FROM legs),
        dcalc AS (SELECT *,
                    2.0 * asin(least(sqrt(greatest(
                        sin((la2 - la1) / 2) * sin((la2 - la1) / 2)
                        + cos(la1) * cos(la2)
                          * sin((lo2 - lo1) / 2) * sin((lo2 - lo1) / 2),
                        0.0)), 1.0)) AS dd
                  FROM t),
        s AS (SELECT d.*, CAST(gs AS BIGINT) AS seq,
                     CAST(gs AS DOUBLE) / 4.0 AS f
              FROM dcalc d CROSS JOIN generate_series(1, 3) AS g(gs)),
        i AS (SELECT *,
                     sin((1.0 - f) * dd) / sin(dd) AS ca,
                     sin(f * dd) / sin(dd) AS cb
              FROM s),
        v AS (SELECT doc_id, seq, dd, lat1, lon1,
                     ca * cos(la1) * cos(lo1) + cb * cos(la2) * cos(lo2) AS x,
                     ca * cos(la1) * sin(lo1) + cb * cos(la2) * sin(lo2) AS y,
                     ca * sin(la1) + cb * sin(la2) AS z
              FROM i)
        SELECT doc_id, seq,
               CAST(round((CASE WHEN dd < 1e-12 THEN lat1
                           ELSE atan2(z, sqrt(x * x + y * y))
                                * 57.29577951308232 END) * 10000000.0)
                    AS BIGINT) AS lat_e7,
               CAST(round((CASE WHEN dd < 1e-12 THEN lon1
                           ELSE atan2(y, x) * 57.29577951308232 END)
                          * 10000000.0) AS BIGINT) AS lon_e7
        FROM v ORDER BY doc_id, seq
    """
    # the url_normalize spec re-run + GROUP BY canonical key
    d["q_url_dedup"] = r"""
        WITH u AS (
          SELECT o_orderkey,
                 (CASE o_orderkey % 3 WHEN 0 THEN 'http'
                       WHEN 1 THEN 'HTTPS' ELSE 'ftp' END)
                 || '://' || 'WWW.Site' || CAST(o_orderkey % 50 AS VARCHAR)
                 || '.Example.COM'
                 || (CASE o_orderkey % 4 WHEN 0 THEN '' WHEN 1 THEN ':80'
                          WHEN 2 THEN ':443' ELSE ':8080' END)
                 || (CASE o_orderkey % 5 WHEN 0 THEN '' WHEN 1 THEN '/'
                          WHEN 2 THEN '/a/b' WHEN 3 THEN '/a/b/'
                          ELSE '/idx.html' END)
                 || (CASE o_orderkey % 2 WHEN 0 THEN '' ELSE '?x=1&y=2' END)
                 || (CASE WHEN o_orderkey % 7 = 0 THEN '#sec' ELSE '' END)
                 AS url
          FROM orders WHERE o_orderkey < 3000),
        p AS (
          SELECT o_orderkey,
            regexp_extract(url, '^([a-zA-Z][a-zA-Z0-9+.-]*)://', 1) AS scheme,
            regexp_extract(url, '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#:]*)', 1)
                AS host,
            regexp_extract(url,
                '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#:]*:([0-9]+)', 1) AS port,
            regexp_extract(url,
                '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*(/[^?#]*)', 1) AS path,
            regexp_extract(url, '\?([^#]*)', 1) AS query
          FROM u),
        n AS (
          SELECT o_orderkey,
            lower(scheme) || '://' || lower(host)
            || (CASE WHEN port = ''
                      OR (lower(scheme) = 'http' AND port = '80')
                      OR (lower(scheme) = 'https' AND port = '443')
                 THEN '' ELSE ':' || port END)
            || (CASE WHEN path IN ('', '/') THEN '/'
                     ELSE regexp_replace(path, '/$', '') END)
            || (CASE WHEN query = '' THEN '' ELSE '?' || query END)
                AS url_norm
          FROM p)
        SELECT url_norm, min(o_orderkey) AS canonical,
               count(*) AS n_dups
        FROM n GROUP BY url_norm ORDER BY url_norm
    """
    d["q_coloring"] = _ora_coloring()
    d["q_perm_test"] = _ora_perm_test()
    d["q_fk_check"] = """
        WITH li AS (SELECT l_partkey AS k FROM lineitem
                    WHERE l_orderkey < 2000),
        p AS (SELECT DISTINCT p_partkey AS k FROM part
              WHERE p_partkey % 5 <> 0)
        SELECT CAST((SELECT count(*) FROM li) AS BIGINT) AS n_child_rows,
               CAST((SELECT count(*) FROM li WHERE k IS NULL)
                    AS BIGINT) AS n_null_keys,
               CAST((SELECT count(*) FROM li
                     WHERE k IS NOT NULL
                       AND k NOT IN (SELECT k FROM p))
                    AS BIGINT) AS n_orphan_rows,
               CAST((SELECT count(DISTINCT k) FROM li
                     WHERE k IS NOT NULL
                       AND k NOT IN (SELECT k FROM p))
                    AS BIGINT) AS n_orphan_keys
    """
    # identical-chain trig replays (the cross_track discipline):
    # multiply by the reciprocal literal, never divide by DEG2RAD
    d["q_bearing"] = f"""
        WITH pts AS ({SQL_POINTS}),
        a AS (SELECT doc_id, lat AS la1, lon AS lo1 FROM pts
              WHERE doc_id < 3000),
        b AS (SELECT doc_id - 1 AS doc_id, lat AS la2, lon AS lo2 FROM pts
              WHERE doc_id < 3000),
        j AS (SELECT a.doc_id, la1, lo1, la2, lo2 FROM a JOIN b USING (doc_id)),
        c AS (SELECT doc_id,
               atan2(sin((lo2 - lo1) * 0.017453292519943295)
                       * cos(la2 * 0.017453292519943295),
                     cos(la1 * 0.017453292519943295)
                       * sin(la2 * 0.017453292519943295)
                     - sin(la1 * 0.017453292519943295)
                       * cos(la2 * 0.017453292519943295)
                       * cos((lo2 - lo1) * 0.017453292519943295))
               * 57.29577951308232 AS deg
              FROM j)
        SELECT doc_id,
               ((CAST(round(deg * 1000.0) AS BIGINT) % 360000) + 360000)
                   % 360000 AS bearing_mdeg
        FROM c ORDER BY doc_id
    """
    d["q_destination"] = f"""
        WITH pts AS ({SQL_POINTS}),
        p AS (SELECT doc_id, lat, lon,
                     CAST((doc_id * 37) % 360 AS DOUBLE) AS bdeg,
                     CAST((doc_id % 5000) * 100 AS DOUBLE) AS dist
              FROM pts WHERE doc_id < 3000),
        t AS (SELECT doc_id, lon,
                     lat * 0.017453292519943295 AS la,
                     bdeg * 0.017453292519943295 AS th,
                     dist / 6371008.8 AS dl
              FROM p),
        u AS (SELECT doc_id, lon, la, th, dl,
                     least(greatest(sin(la) * cos(dl)
                           + cos(la) * sin(dl) * cos(th), -1.0), 1.0) AS s2
              FROM t),
        v AS (SELECT doc_id,
                     asin(s2) * 57.29577951308232 AS lat_deg,
                     (lon * 0.017453292519943295
                      + atan2(sin(th) * sin(dl) * cos(la),
                              cos(dl) - sin(la) * s2))
                       * 57.29577951308232 AS lon_raw
              FROM u)
        SELECT doc_id,
               CAST(round(lat_deg * 10000000.0) AS BIGINT) AS lat_e7,
               CAST(round((fmod(fmod(lon_raw + 180.0, 360.0) + 360.0, 360.0)
                           - 180.0) * 10000000.0) AS BIGINT) AS lon_e7
        FROM v ORDER BY doc_id
    """
    d["q_scrub"] = """
        SELECT doc_id,
               trim(regexp_replace(regexp_replace(
                   chr(9) || text || chr(7) || '  x ',
                   '[\\x00-\\x08\\x0e-\\x1f\\x7f-\\x9f]', '', 'g'),
                   '\\s+', ' ', 'g')) AS scrubbed,
               lower(trim(regexp_replace(regexp_replace(
                   chr(9) || text || chr(7) || '  x ',
                   '[\\x00-\\x08\\x0e-\\x1f\\x7f-\\x9f]', '', 'g'),
                   '\\s+', ' ', 'g'))) AS scrubbed_lower
        FROM documents WHERE doc_id < 500 ORDER BY doc_id
    """
    d["q_flesch"] = """
        WITH d AS (SELECT doc_id, text AS t FROM documents
                   WHERE doc_id < 2000),
        c AS (SELECT doc_id,
                 len(list_filter(regexp_split_to_array(t, '\\s+'),
                                 x -> x <> '')) AS w,
                 greatest(len(regexp_extract_all(t, '[.!?]+')), 1) AS s,
                 len(regexp_extract_all(t, '[aeiouyAEIOUY]+')) AS sy0
              FROM d)
        SELECT doc_id, CAST(w AS BIGINT) AS n_words,
               CAST(s AS BIGINT) AS n_sentences,
               CAST(greatest(sy0, w) AS BIGINT) AS n_syllables,
               CASE WHEN w > 0 THEN
                 round(206.835
                       - 1.015 * (CAST(w AS DOUBLE) / CAST(s AS DOUBLE))
                       - 84.6 * (CAST(greatest(sy0, w) AS DOUBLE)
                                 / CAST(w AS DOUBLE)), 6)
               END AS flesch
        FROM c ORDER BY doc_id
    """
    d["q_flow_acc"] = _ora_flow_acc()
    # independent formulation: row_number ranks (ties resolved by the
    # same largest-qualifying-p argument as the engine's n_le form)
    d["q_bh_fdr"] = """
        WITH t AS (SELECT event_type AS g,
                          ((event_id * 37) % 1009) * 991 % 1000001 AS p
                   FROM events WHERE event_id < 5000),
        r AS (SELECT g, p, row_number() OVER (PARTITION BY g ORDER BY p) AS i,
                     count(*) OVER (PARTITION BY g) AS m FROM t),
        cut AS (SELECT g, max(m) AS m,
                       max(CASE WHEN p * m * 100 <= i * 5 * 1000000
                                THEN p END) AS cutoff
                FROM r GROUP BY g)
        SELECT c.g, CAST(c.m AS BIGINT) AS m,
               CAST(coalesce(sum(CASE WHEN t.p <= c.cutoff THEN 1 END), 0)
                    AS BIGINT) AS n_discoveries,
               CAST(c.cutoff AS BIGINT) AS p_cutoff_ppm
        FROM cut c LEFT JOIN t ON t.g = c.g
        GROUP BY c.g, c.m, c.cutoff
        ORDER BY c.g
    """
    # verbatim md5-nibble-parity replay of the AMS signs
    d["q_ams"] = """
        WITH v AS (SELECT source AS val FROM documents WHERE doc_id < 3000),
        s AS (SELECT CAST(gs AS INTEGER) AS sketch
              FROM generate_series(0, 15) AS t(gs)),
        r AS (SELECT s.sketch,
                     CASE WHEN substring(
                              md5(CAST(s.sketch AS VARCHAR) || ':' || val), 1, 1)
                          IN ('1','3','5','7','9','b','d','f')
                          THEN 1 ELSE -1 END AS sig
              FROM s CROSS JOIN v)
        SELECT sketch, CAST(sum(sig) AS BIGINT) AS x,
               CAST(sum(sig) * sum(sig) AS BIGINT) AS x2
        FROM r GROUP BY sketch ORDER BY sketch
    """
    d["q_scc"] = _ora_scc()
    d["q_topo_layers"] = _ora_topo_layers()
    # independent formulation: wedge SQL over the same derived edges
    d["q_adamic_adar"] = """
        WITH raw AS (
          SELECT (event_id * 5) % 400 AS a, (event_id * 7 + 2) % 400 AS b
          FROM events WHERE event_id < 450
        ),
        und AS (SELECT DISTINCT least(a, b) AS u, greatest(a, b) AS v
                FROM raw WHERE a <> b),
        sym AS (SELECT u AS c, v AS n FROM und
                UNION ALL SELECT v AS c, u AS n FROM und),
        deg AS (SELECT c, count(*) AS dc FROM sym GROUP BY c),
        wedge AS (
          SELECT l.n AS u, r.n AS v, l.c
          FROM sym l JOIN sym r ON r.c = l.c AND l.n < r.n
        ),
        pairs AS (
          SELECT w.u, w.v, count(*) AS n_common,
                 round(sum(1.0 / ln(d.dc)), 6) AS aa_score
          FROM wedge w JOIN deg d ON d.c = w.c
          GROUP BY w.u, w.v
        )
        SELECT p.u, p.v, CAST(p.n_common AS BIGINT) AS n_common, p.aa_score
        FROM pairs p LEFT JOIN und ON und.u = p.u AND und.v = p.v
        WHERE und.u IS NULL
        ORDER BY p.u, p.v
    """
    d["q_lcss"] = _ora_lcss()
    d["q_jaro_winkler"] = _ora_jaro_winkler()
    d["q_kmeans_fit"] = _ora_kmeans_fit()
    d["q_node2vec"] = _ora_node2vec()
    d["q_ppr"] = _ora_ppr()
    d["q_dtw"] = _ora_dtw()
    d["q_sink_changes"] = _ora_sink_changes()
    d["q_neg_samples"] = _ora_neg_samples()
    d["q_media_groups"] = _ora_media_groups()
    d["q_group_minhash"] = _ora_group_minhash()
    d["q_simhash_groups"] = _ora_simhash_groups()
    d["q_lorenz"] = """
        WITH per AS (SELECT o_custkey,
                            CAST(floor(sum(o_totalprice)) AS BIGINT)
                                AS spend
                     FROM orders GROUP BY o_custkey),
        r AS (SELECT spend,
                     CAST(row_number() OVER w AS BIGINT) AS rk,
                     CAST(SUM(spend) OVER (w ROWS UNBOUNDED PRECEDING)
                          AS BIGINT) AS cum
              FROM per
              WINDOW w AS (ORDER BY spend, o_custkey)),
        tot AS (SELECT count(*) AS n, CAST(sum(spend) AS BIGINT) AS t
                FROM per),
        dd AS (SELECT CAST((rk * 10) // n AS INTEGER) AS decile, rk,
                      cum * 1000000 // t AS share
               FROM r, tot)
        SELECT decile, CAST(max(rk) AS BIGINT) AS n_custs,
               CAST(max(share) AS BIGINT) AS cum_share_ppm
        FROM dd WHERE decile >= 1 GROUP BY decile
    """
    # independent formulation: per-ring shoelace via an offset SELF
    # JOIN on (pos+1) % n (vs the engine's lead window), then the same
    # conditional reversal
    d["q_ring_orient"] = f"""
        WITH pts AS ({SQL_POINTS}),
        base AS (SELECT doc_id % 40 AS line_id, doc_id AS k, lat, lon
                 FROM pts WHERE doc_id < 4000),
        ring AS (SELECT line_id, lat, lon,
                        CAST(row_number() OVER (PARTITION BY line_id
                             ORDER BY k) - 1 AS BIGINT) AS pos
                 FROM base),
        n AS (SELECT line_id, count(*) AS nn FROM ring GROUP BY line_id),
        seg AS (SELECT r.line_id,
                       CAST(round((r.lon * s.lat - s.lon * r.lat) * 1e8)
                            AS BIGINT) AS c2u
                FROM ring r
                JOIN n ON n.line_id = r.line_id
                JOIN ring s ON s.line_id = r.line_id
                           AND s.pos = (r.pos + 1) % n.nn),
        a AS (SELECT line_id, CAST(sum(c2u) AS BIGINT) AS a2u
              FROM seg GROUP BY line_id)
        SELECT r.line_id,
               CASE WHEN a.a2u < 0 THEN n.nn - 1 - r.pos
                    ELSE r.pos END AS pos,
               r.lat, r.lon,
               a.a2u > 0 AS ring_ccw,
               a.a2u < 0 AS was_reversed
        FROM ring r JOIN a ON a.line_id = r.line_id
                    JOIN n ON n.line_id = r.line_id
    """
    d["q_rle"] = """
        WITH s AS (SELECT user_id % 25 AS k, event_id AS o,
                          CASE WHEN event_id % 11 = 0 THEN NULL
                               ELSE event_type END AS v
                   FROM events WHERE event_id < 4000),
        f AS (SELECT k, o, v,
                     CASE WHEN row_number() OVER w = 1
                          OR v IS DISTINCT FROM lag(v) OVER w
                          THEN 1 ELSE 0 END AS nw
              FROM s WINDOW w AS (PARTITION BY k ORDER BY o)),
        r AS (SELECT k, o, v,
                     CAST(SUM(nw) OVER (PARTITION BY k ORDER BY o
                          ROWS UNBOUNDED PRECEDING) AS BIGINT) AS run_seq
              FROM f)
        SELECT k AS key, run_seq, min(v) AS value, count(*) AS run_len,
               min(o) AS start_ord, max(o) AS end_ord
        FROM r GROUP BY k, run_seq
    """
    d["q_youden"] = """
        WITH d AS (SELECT CAST(CASE WHEN event_id % 3 = 0 THEN 50 ELSE 0 END
                        + event_id % 40 AS BIGINT) AS s,
                          CASE WHEN event_id % 3 = 0 THEN 1 ELSE 0 END AS y
                   FROM events WHERE event_id < 6000),
        per AS (SELECT s, CAST(sum(y) AS BIGINT) AS p,
                       CAST(count(*) - sum(y) AS BIGINT) AS n
                FROM d GROUP BY s),
        tot AS (SELECT CAST(sum(y) AS BIGINT) AS pp,
                       CAST(count(*) - sum(y) AS BIGINT) AS nn
                FROM d),
        cum AS (SELECT s,
                       CAST(SUM(p) OVER (ORDER BY s DESC
                            ROWS UNBOUNDED PRECEDING) AS BIGINT) AS tp,
                       CAST(SUM(n) OVER (ORDER BY s DESC
                            ROWS UNBOUNDED PRECEDING) AS BIGINT) AS fp
                FROM per),
        j AS (SELECT cum.*, tot.pp, tot.nn,
                     tp * nn - fp * pp AS jn
              FROM cum, tot WHERE tot.pp > 0 AND tot.nn > 0),
        best AS (SELECT * FROM j ORDER BY jn DESC, s ASC LIMIT 1)
        SELECT s AS threshold, tp, fp, pp - tp AS fn, nn - fp AS tn,
               jn AS j_num,
               CAST(jn AS DOUBLE) / CAST(pp * nn AS DOUBLE) AS j
        FROM best
    """
    # identical IEEE chains (Williams formulary): haversine d13, two
    # atan2 bearings, asin XTD / atan2 ATD, mm rounding
    d["q_cross_track"] = f"""
        {pts},
        p AS (SELECT doc_id, lat, lon FROM pts WHERE doc_id < 3000),
        c AS (SELECT doc_id, lat, lon,
                (12742017.6 * ASIN(SQRT(LEAST(GREATEST(
                    SIN(((lat - 10.0) * 0.017453292519943295) / 2.0)
                    * SIN(((lat - 10.0) * 0.017453292519943295) / 2.0)
                    + COS(10.0 * 0.017453292519943295)
                      * COS(lat * 0.017453292519943295)
                      * (SIN(((lon - -20.0) * 0.017453292519943295) / 2.0)
                         * SIN(((lon - -20.0) * 0.017453292519943295) / 2.0))
                  , 0.0), 1.0)))) / 6371008.8 AS d13,
                ATAN2(
                  SIN((lon - -20.0) * 0.017453292519943295)
                  * COS(lat * 0.017453292519943295),
                  COS(10.0 * 0.017453292519943295)
                  * SIN(lat * 0.017453292519943295)
                  - SIN(10.0 * 0.017453292519943295)
                    * COS(lat * 0.017453292519943295)
                    * COS((lon - -20.0) * 0.017453292519943295)) AS t13,
                ATAN2(
                  SIN((25.0 - -20.0) * 0.017453292519943295)
                  * COS(30.0 * 0.017453292519943295),
                  COS(10.0 * 0.017453292519943295)
                  * SIN(30.0 * 0.017453292519943295)
                  - SIN(10.0 * 0.017453292519943295)
                    * COS(30.0 * 0.017453292519943295)
                    * COS((25.0 - -20.0) * 0.017453292519943295)) AS t12
              FROM p),
        m AS (SELECT doc_id, d13, t13 - t12 AS dbrg FROM c)
        SELECT doc_id,
               CAST(ROUND(ASIN(LEAST(GREATEST(SIN(d13) * SIN(dbrg),
                        CAST(-1 AS DOUBLE)), CAST(1 AS DOUBLE)))
                    * 6371008.8 * 1000.0) AS BIGINT) AS xtd_mm,
               CAST(ROUND((CASE WHEN COS(dbrg) < 0 THEN -1.0 ELSE 1.0 END)
                    * (ATAN2(SQRT(GREATEST(
                          SIN(d13) * SIN(d13)
                          - (SIN(d13) * SIN(dbrg)) * (SIN(d13) * SIN(dbrg)),
                          CAST(0 AS DOUBLE))), COS(d13)) * 6371008.8)
                    * 1000.0) AS BIGINT) AS atd_mm
        FROM m
    """
    d["q_stream_distinct"] = """
        SELECT epoch_us(time_bucket(INTERVAL '6 hours', ts))
                   AS window_start_us,
               epoch_us(time_bucket(INTERVAL '6 hours', ts)
                   + INTERVAL '6 hours') AS window_end_us,
               count(DISTINCT user_id) AS n_distinct
        FROM events GROUP BY 1, 2
    """
    # double-BFS replay: DuckDB's own recursion at BOTH stages; far
    # node picked by the same (hops DESC, node ASC) rule
    d["q_diameter"] = f"""
        WITH RECURSIVE {_MD5_GRAPH_SQL},
        e AS (SELECT DISTINCT src, dst FROM ed WHERE src <> dst),
        sym AS (SELECT src AS u, dst AS v FROM e
                UNION SELECT dst, src FROM e),
        w1(node, hops) AS (
            SELECT CAST(0 AS BIGINT), 0
            UNION
            SELECT s.v, w1.hops + 1 FROM w1 JOIN sym s ON s.u = w1.node
            WHERE w1.hops < 24),
        h1 AS (SELECT node, min(hops) AS hops FROM w1 GROUP BY node),
        far AS (SELECT node FROM h1
                ORDER BY hops DESC, node ASC LIMIT 1),
        w2(node, hops) AS (
            SELECT node, 0 FROM far
            UNION
            SELECT s.v, w2.hops + 1 FROM w2 JOIN sym s ON s.u = w2.node
            WHERE w2.hops < 24),
        h2 AS (SELECT node, min(hops) AS hops FROM w2 GROUP BY node)
        SELECT far.node AS far_node,
               (SELECT CAST(max(hops) AS INTEGER) FROM h2) AS ecc,
               (SELECT count(*) FROM h2) AS n_reached
        FROM far
    """
    # verbatim window replay: same (value, id) tiebreak rank
    d["q_quantile_norm"] = """
        WITH li AS (
          SELECT l_orderkey * 10 + l_linenumber AS rid,
                 CAST(l_quantity AS BIGINT) AS qty,
                 CAST(floor(l_extendedprice) AS BIGINT) AS price,
                 CAST(floor(l_discount * CAST(100 AS DOUBLE) + 0.5)
                      AS BIGINT) AS disc
          FROM lineitem WHERE l_orderkey < 2000),
        lf AS (SELECT rid AS id, 'qty' AS feature, qty AS value FROM li
               UNION ALL
               SELECT rid, 'price', price FROM li
               UNION ALL
               SELECT rid, 'disc', disc FROM li),
        r AS (SELECT id, feature, value,
                     CAST(row_number() OVER (PARTITION BY feature
                          ORDER BY value, id) AS INTEGER) AS rank
              FROM lf),
        ref AS (SELECT rank, CAST(sum(value) AS BIGINT) AS qn_sum
                FROM r GROUP BY rank)
        SELECT r.id, r.feature, r.value, r.rank, ref.qn_sum,
               CAST(3 AS INTEGER) AS n_features
        FROM r JOIN ref USING (rank)
    """
    # same spec, independent plumbing: lateral series positions + the
    # nibble-shift md5-40 + the identical packed-key sliding min
    d["q_winnow"] = f"""
        WITH t AS (SELECT doc_id,
                          list_filter(string_split(text, ' '),
                                      x -> x <> '') AS l
                   FROM documents WHERE doc_id < 1500),
        tok AS (SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos, l[i] AS tok
                FROM t, unnest(generate_series(1, len(l))) AS u(i)),
        g AS (SELECT doc_id, pos,
                     concat_ws(' ', tok,
                               lead(tok, 1) OVER w, lead(tok, 2) OVER w,
                               lead(tok, 3) OVER w) AS gram,
                     lead(tok, 3) OVER w IS NOT NULL AS full_g
              FROM tok
              WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
        h AS (SELECT doc_id, pos,
                     ({_hex40_bigint_sql("md5(gram)")} << 21)
                     | (2097151 - pos) AS key
              FROM g WHERE full_g),
        sel AS (SELECT doc_id,
                       min(key) OVER (PARTITION BY doc_id ORDER BY pos
                                      ROWS BETWEEN 2 PRECEDING
                                      AND CURRENT ROW) AS m,
                       row_number() OVER (PARTITION BY doc_id
                                          ORDER BY pos) AS rn
                FROM h)
        SELECT DISTINCT doc_id,
               CAST(2097151 - (m & 2097151) AS BIGINT) AS pos,
               CAST(m >> 21 AS BIGINT) AS fp_hash
        FROM sel WHERE rn >= 3
    """
    # composed buffer: the q_grid_morph dilate replay feeding the
    # q_contour case-table replay (independent at both stages)
    d["q_buffer"] = f"""
        {pts},
        g AS (
            SELECT DISTINCT
                   least(greatest(CAST(floor((lon + CAST(180.0 AS DOUBLE))
                         / CAST(360.0 AS DOUBLE) * CAST(128.0 AS DOUBLE)) AS BIGINT),
                         0), 127) AS x,
                   least(greatest(CAST(floor((lat + CAST(90.0 AS DOUBLE))
                         / CAST(180.0 AS DOUBLE) * CAST(128.0 AS DOUBLE)) AS BIGINT),
                         0), 127) AS y
            FROM pts),
        disk(dx, dy) AS (VALUES {_DISK2_VALS}),
        cnt AS (SELECT DISTINCT x + dx AS x, y + dy AS y FROM g, disk),
        d(dx, dy, bit) AS (VALUES (0,0,1),(1,0,2),(1,1,4),(0,1,8)),
        blocks AS (SELECT x - dx AS bx, y - dy AS by,
                          CAST(sum(bit) AS INTEGER) AS ms_case
                   FROM cnt, d GROUP BY 1, 2),
        segs(ms_case, x0o, y0o, x1o, y1o) AS (VALUES
            (1,0,1,1,0),(2,1,0,2,1),(3,0,1,2,1),(4,1,2,2,1),
            (5,0,1,1,0),(5,1,2,2,1),(6,1,0,1,2),(7,0,1,1,2),
            (8,0,1,1,2),(9,1,0,1,2),(10,1,0,2,1),(10,0,1,1,2),
            (11,1,2,2,1),(12,0,1,2,1),(13,1,0,2,1),(14,0,1,1,0))
        SELECT CAST(bx AS BIGINT) AS bx, CAST(by AS BIGINT) AS by, ms_case,
               CAST(2*bx + x0o AS BIGINT) AS x0,
               CAST(2*by + y0o AS BIGINT) AS y0,
               CAST(2*bx + x1o AS BIGINT) AS x1,
               CAST(2*by + y1o AS BIGINT) AS y1
        FROM blocks JOIN segs USING (ms_case)
    """
    # independent formulation: direct integer address arithmetic +
    # BETWEEN join + row_number LPM (the engine parses dotted strings,
    # bucket-explodes the ranges, and argmaxes a min-struct)
    d["q_cidr"] = """
        WITH ips AS (
          SELECT event_id,
                 CAST(event_id % 4 * 10 + 10 AS VARCHAR) || '.' ||
                 CAST((event_id * 7) % 256 AS VARCHAR) || '.' ||
                 CAST((event_id * 13) % 256 AS VARCHAR) || '.' ||
                 CAST(event_id % 251 AS VARCHAR) AS ip,
                 (event_id % 4 * 10 + 10) * 16777216
                 + ((event_id * 7) % 256) * 65536
                 + ((event_id * 13) % 256) * 256
                 + event_id % 251 AS ipi
          FROM events WHERE event_id < 4000),
        rawnets AS (
          SELECT (n_nationkey % 4 * 10 + 10) * 16777216
                 + ((n_nationkey * 37) % 224) * 65536 AS braw,
                 CAST(8 + n_nationkey % 8 AS INTEGER) AS ml
          FROM nation),
        nets AS (
          SELECT braw - braw % (CAST(1 AS BIGINT) << (32 - ml)) AS lo,
                 ml
          FROM rawnets),
        hit AS (
          SELECT i.event_id, n.lo, n.ml,
                 row_number() OVER (PARTITION BY i.event_id
                     ORDER BY n.ml DESC, n.lo ASC) AS rn
          FROM ips i JOIN nets n
            ON i.ipi BETWEEN n.lo
               AND n.lo + (CAST(1 AS BIGINT) << (32 - n.ml)) - 1)
        SELECT i.event_id, i.ip,
               h.lo AS net_base, CAST(h.ml AS INTEGER) AS net_masklen
        FROM ips i LEFT JOIN (SELECT * FROM hit WHERE rn = 1) h
          ON h.event_id = i.event_id
    """
    # single availableNow drain == the batch HAVING-threshold query
    d["q_stream_alert"] = """
        SELECT user_id, event_type, count(*) AS n_events
        FROM events GROUP BY user_id, event_type
        HAVING count(*) >= 30
    """
    d["q_sph_area"] = """
        WITH base AS (
          SELECT n_nationkey AS line_id,
                 CAST((n_nationkey * 7) % 120 - 60 AS DOUBLE) AS la,
                 CAST((n_nationkey * 11) % 300 - 150 AS DOUBLE) AS lo
          FROM nation),
        segidx(i) AS (VALUES (0), (1), (2), (3)),
        segs AS (
          SELECT line_id,
                 CASE i WHEN 0 THEN la WHEN 1 THEN la
                        ELSE la + CAST(1 AS DOUBLE) END AS lat0,
                 CASE i WHEN 0 THEN lo WHEN 3 THEN lo
                        ELSE lo + CAST(2 AS DOUBLE) END AS lon0,
                 CASE i WHEN 3 THEN la WHEN 0 THEN la
                        ELSE la + CAST(1 AS DOUBLE) END AS lat1,
                 CASE i WHEN 0 THEN lo + CAST(2 AS DOUBLE)
                        WHEN 1 THEN lo + CAST(2 AS DOUBLE)
                        ELSE lo END AS lon1
          FROM base JOIN segidx ON TRUE),
        per AS (
          SELECT line_id,
                 CAST(floor(
                   ((lon1 - lon0) * 0.017453292519943295)
                   * ((CAST(2 AS DOUBLE)
                       + sin(lat0 * 0.017453292519943295))
                      + sin(lat1 * 0.017453292519943295))
                   * 1e12 + 0.5) AS BIGINT) AS u
          FROM segs)
        SELECT line_id, count(*) AS n_segs,
               CAST(sum(u) AS BIGINT) AS sph_u,
               CAST('__R2__' AS DOUBLE)
               * abs(CAST(CAST(sum(u) AS BIGINT) AS DOUBLE)) / 2e12
                   AS area_m2
        FROM per GROUP BY line_id
    """.replace("__R2__", _r2)
    return d
