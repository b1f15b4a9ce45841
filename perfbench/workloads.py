"""The benchmark workloads and their traced layer probes.

Each workload times operations through the engine's public entry
points (``plans.ingest``, ``sources.pbf_source``, ``sink.iceberg_like``,
``operators.spatial_join``/``tiling``/``knn``) and checks each result
against the oracles in ``checks``. Sizes are fixed here, not derived
from the seed; the seed only changes coordinates, tags and query picks.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import time

import numpy as np

from . import checks
from .corpus import (BENCH_POLYGONS, CorpusParams, closed_way_count, code_hash, corpus,
                     region_boxes, sample_ids)
from .harness import CheckFailed, median, run_op
from .trace import EventLog

CELL_LEVEL = 12
BLOBS_PER_SPLIT = 4
BATCH_PARAMS = CorpusParams(n_nodes=48_000, n_ways=4_800, n_rels=480)
WARM_PARAMS = CorpusParams(n_nodes=2_000, n_ways=200, n_rels=20)
KNN_K = 5
# knn_join(level="auto") takes the broadcast-brute route up to 10k
# queries and the two-round route above that
BATCH_KNN_QUERIES = 32
BULK_KNN_QUERIES = 12_000
LOOKUP_KNN_QUERIES = 3
UPSERT_ROWS = 16
TILE_ZOOM, TILE_MIN_ZOOM = 12, 6
REGION_TILE_ZOOM, REGION_TILE_MIN_ZOOM = 16, 10
LOOKUP_CYCLE = ["region_pip", "region_tiles", "region_pip", "knn_few", "region_pip",
                "region_tiles", "region_pip", "region_tiles", "region_pip", "upsert_few"]


def spark_polygons():
    from osm_pbf_spark.operators.spatial_join import Polygon

    return [Polygon(pid, [np.array(ring, dtype=np.float64)]) for pid, ring in BENCH_POLYGONS.items()]


def warm_points(spark, n: int = 2000):
    from pyspark.sql import functions as F

    return spark.range(n).select(
        F.concat(F.lit("warm/"), F.col("id").cast("string")).alias("doc_id"),
        (F.rand(1) * 170 - 85).alias("lat"), (F.rand(2) * 360 - 180).alias("lon"))


def manifests(table_root: str) -> list[dict]:
    out = []
    for p in sorted(glob.glob(os.path.join(table_root, "_manifests", "split-*.json"))):
        with open(p) as f:
            out.append(json.load(f))
    return out


def table_bytes(table_root: str) -> int:
    from osm_pbf_spark.sink.iceberg_like import IcebergLikeSink

    return sum(os.path.getsize(p) for p in IcebergLikeSink(table_root).committed_files())


class Workload:
    name = ""
    params = BATCH_PARAMS
    deadline_s = 60.0
    # run one iteration before the measured window (see run.warm_iteration)
    warm_iteration = True

    def __init__(self, run) -> None:
        self.run = run
        self.rng = np.random.default_rng([run.seed, 1])
        self.corpus = corpus(run.work, run.seed, self.params)
        self.op_events: dict[str, list] = {}
        self.table_root = ""
        self.pruned: list[float] = []

    @property
    def spark(self):
        return self.run.session.spark

    # -- set-up ---------------------------------------------------------

    def fixture(self) -> None:
        """Untimed inputs that the measured operations need."""

    def warm_up(self) -> None:
        """First-call costs a user pays once per session: Python workers
        and their imports, broadcast + Arrow hand-off machinery, the kNN
        plan and the tile aggregation, paid by one small pip_join,
        knn_join and tile rollup."""
        from pyspark.sql import functions as F

        from osm_pbf_spark.operators.knn import knn_join
        from osm_pbf_spark.operators.spatial_join import pip_join

        pts = warm_points(self.spark)
        pip_join(self.spark, pts, spark_polygons()).count()
        q = pts.filter(F.col("doc_id").isin(["warm/1", "warm/2"]))
        knn_join(self.spark, q, pts, k=KNN_K, level="auto").count()
        tile_rollup(pts, TILE_ZOOM, TILE_MIN_ZOOM)

    def committed_table(self) -> str:
        """The corpus ingested once per (seed, params, engine source) and
        verified against the generator's coordinates; builds the
        driver-side point mirror. The engine's source hash is part of the
        key, so a table written by other engine code is never reused."""
        import osm_pbf_spark
        from osm_pbf_spark.plans.ingest import ingest_pbf
        from osm_pbf_spark.sink.iceberg_like import IcebergLikeSink

        engine = code_hash(os.path.dirname(osm_pbf_spark.__file__))
        root = os.path.join(self.run.work, "tables",
                            f"{engine}-{os.path.basename(self.corpus.path)}")
        if not os.path.exists(os.path.join(root, "snapshot.json")):
            tmp = f"{root}.tmp-{os.getpid()}"
            shutil.rmtree(tmp, ignore_errors=True)
            ingest_pbf(self.spark, self.corpus.path, tmp, cell_level=CELL_LEVEL,
                       blobs_per_split=BLOBS_PER_SPLIT)
            shutil.rmtree(root, ignore_errors=True)
            os.replace(tmp, root)
        rows = (IcebergLikeSink(root).read(self.spark)
                .select("doc_id", "kind", "lat", "lon").toPandas())
        if len(rows) != self.corpus.n_docs:
            raise CheckFailed(f"fixture holds {len(rows)} docs, expected {self.corpus.n_docs}")
        nodes = rows[rows["kind"] == "node"]
        doc_ids = nodes["doc_id"].to_numpy()
        ids = np.array([int(d.split("/")[1]) for d in doc_ids], dtype=np.int64)
        lat, lon = nodes["lat"].to_numpy(), nodes["lon"].to_numpy()
        order = np.argsort(ids)
        if not (np.array_equal(ids[order], self.corpus.node_ids)
                and np.allclose(lat[order], self.corpus.lat, rtol=0, atol=1e-9)
                and np.allclose(lon[order], self.corpus.lon, rtol=0, atol=1e-9)):
            raise CheckFailed("fixture node coordinates differ from the generated corpus")
        self.points = checks.Points(list(doc_ids[order]), lat[order], lon[order])
        return root

    # -- measured operations --------------------------------------------

    def op(self, kind: str, name: str, docs: int, action, check):
        """One timed operation. While tracing, the Spark events between
        the start and the end of its action are kept per operation name
        (events of the untimed check that follows are discarded)."""
        run = self.run
        traced = run.evlog is not None and run.tracer.enabled
        on_done = None
        if traced:
            EventLog.drain(self.spark)
            run.evlog.read_new()

            def on_done():
                EventLog.drain(self.spark)
                self.op_events.setdefault(name, []).append(run.evlog.read_new())

        with run.tracer.span(f"op.{name}", kind=kind):
            return run_op(run.session, run.ledger, kind, name, docs, self.deadline_s,
                          action, check, on_done)

    def iteration(self) -> None:
        raise NotImplementedError

    def points_df(self, df):
        from pyspark.sql import functions as F

        return (df.filter(F.col("lat").isNotNull() & ~F.isnan("lat"))
                .select("doc_id", "lat", "lon"))

    def region(self, sink, box):
        """Points of ``box`` read through the sink's cell-range pruning.
        While tracing, the share of live files the range skips is kept
        in ``self.pruned``."""
        from pyspark.sql import functions as F

        from osm_pbf_spark.functions import cells

        lat_lo, lat_hi, lon_lo, lon_hi = box
        lo = int(cells.cell_id(np.array([lat_lo]), np.array([lon_lo]), CELL_LEVEL)[0])
        hi = int(cells.cell_id(np.array([lat_hi]), np.array([lon_hi]), CELL_LEVEL)[0])
        if self.run.tracer.enabled:
            live = len(sink.committed_files())
            kept = len(sink.committed_files(stats_range=(lo, hi)))
            self.pruned.append((live - kept) / live if live else 0.0)
        df = sink.read(self.spark, stats_range=(lo, hi))
        return self.points_df(df.filter(
            F.col("lat").between(lat_lo, lat_hi) & F.col("lon").between(lon_lo, lon_hi)))

    def upsert(self, sink, schema, new_id: int, remember: bool) -> None:
        """One timed upsert of UPSERT_ROWS rows into ``sink``: 3/4 existing
        nodes moved by up to 0.01 degrees, 1/4 new nodes numbered from
        ``new_id``. Read-your-writes is checked on every key; with
        ``remember`` the point mirror then takes the new coordinates."""
        from pyspark.sql import functions as F

        from osm_pbf_spark.functions import cells

        n_upd = UPSERT_ROWS * 3 // 4
        upd = [str(x) for x in sample_ids(self.rng, self.points.doc_ids, n_upd)]
        rows = []
        for doc_id in upd + [f"node/{new_id + i}" for i in range(UPSERT_ROWS - n_upd)]:
            i = self.points.index.get(doc_id)
            base_lat, base_lon = ((self.points.lat[i], self.points.lon[i]) if i is not None
                                  else (float(self.rng.uniform(-80, 80)),
                                        float(self.rng.uniform(-170, 170))))
            lat = float(np.clip(base_lat + self.rng.uniform(-0.01, 0.01), -89.9, 89.9))
            lon = float(np.clip(base_lon + self.rng.uniform(-0.01, 0.01), -179.9, 179.9))
            cell = int(cells.cell_id(np.array([lat]), np.array([lon]), CELL_LEVEL)[0])
            spans = [{"kind": "text", "text": doc_id.replace("/", " "), "media_ref": "", "offset": 0},
                     {"kind": "geom", "text": "", "media_ref": "geom:point:%.7f,%.7f" % (lat, lon),
                      "offset": len(doc_id) + 1}]
            rows.append((doc_id, spans, "node", lat, lon, cell,
                         (cell >> 5) >> (2 * (CELL_LEVEL - 4))))
        df = self.spark.createDataFrame(rows, schema)
        ids = [r[0] for r in rows]

        def check(_):
            got = (sink.read(self.spark).filter(F.col("doc_id").isin(ids))
                   .select("doc_id", "lat", "lon", "spans").collect())
            checks.expect(len(got) == len(ids) and {r["doc_id"] for r in got} == set(ids),
                          f"read-your-writes: {len(got)} rows for {len(ids)} upserted keys")
            want = {r[0]: r for r in rows}
            for r in got:
                w = want[r["doc_id"]]
                checks.expect((r["lat"], r["lon"]) == (w[3], w[4])
                              and [s.asDict() for s in r["spans"]] == w[1],
                              f"read-your-writes: {r['doc_id']} not as written")
            if remember:
                for r in rows:
                    self.points.put(r[0], r[3], r[4])

        self.op("write", "upsert", len(rows), lambda: sink.upsert(df, ["doc_id"]), check)

    # -- reporting ------------------------------------------------------

    def stored_bytes_per_input_byte(self) -> float:
        return table_bytes(self.table_root) / self.corpus.n_bytes

    def layer_metrics(self, out: dict) -> None:
        """Workload-specific per-layer metrics from the traced phase."""

    def op_seconds(self, name: str) -> list[float]:
        return [o.seconds for o in self.run.traced_ops if o.ok and o.name == name]


# ---------------------------------------------------------------------------


class PbfIngest(Workload):
    """ingest_pbf (sorted layout) into an empty table, then read_pbf ->
    assemble_way_geometries over the same file."""

    name = "pbf_ingest"

    def fixture(self) -> None:
        self.table_root = os.path.join(self.run.work, f"ingest-{os.getpid()}")
        self.n_closed = closed_way_count(self.params)
        self.n_refs = 10 * self.params.n_ways + self.n_closed
        self.data_seqs = [r.seq for r in self._blob_refs()]
        self.iter_no = 0

    def warm_up(self) -> None:
        from osm_pbf_spark.plans.ingest import ingest_pbf
        from osm_pbf_spark.sources import pbf_source as src

        c = corpus(self.run.work, 0, WARM_PARAMS)
        root = os.path.join(self.run.work, f"warm-{os.getpid()}")
        shutil.rmtree(root, ignore_errors=True)
        ingest_pbf(self.spark, c.path, root, cell_level=CELL_LEVEL, blobs_per_split=BLOBS_PER_SPLIT)
        shutil.rmtree(root, ignore_errors=True)
        ents, _ = src.read_pbf(self.spark, c.path)
        src.assemble_way_geometries(src.ways(ents), src.nodes(ents)).count()

    def _blob_refs(self):
        from osm_pbf_spark.pbf.framing import scan_blobs

        return [r for r in scan_blobs(self.corpus.path) if r.blob_type == "OSMData"]

    def iteration(self) -> None:
        from pyspark.sql import functions as F

        from osm_pbf_spark.plans.ingest import ingest_pbf
        from osm_pbf_spark.sources import pbf_source as src

        spark, c = self.spark, self.corpus
        shutil.rmtree(self.table_root, ignore_errors=True)
        # a different seeded pair of blobs is verified after every ingest
        pick = np.random.default_rng([self.run.seed, 2, self.iter_no]).choice(
            self.data_seqs, 2, replace=False)
        self.iter_no += 1

        def check_ingest(sink):
            ms = manifests(self.table_root)
            n = sum(m["n_rows"] for m in ms)
            checks.expect(n == c.n_docs, f"ingest committed {n} docs, expected {c.n_docs}")
            want = checks.oracle_blob_docs(c.path, set(int(s) for s in pick))
            sample = sorted(want)[:: max(1, len(want) // 40)]
            rows = (sink.read(spark).filter(F.col("doc_id").isin(sample))
                    .select("doc_id", "spans").collect())
            checks.check_docs(rows, {d: want[d] for d in sample})

        self.op("write", "ingest", c.n_docs,
                lambda: ingest_pbf(spark, c.path, self.table_root, cell_level=CELL_LEVEL,
                                   blobs_per_split=BLOBS_PER_SPLIT),
                check_ingest)

        def assemble():
            ents, _ = src.read_pbf(spark, c.path)
            g = src.assemble_way_geometries(src.ways(ents), src.nodes(ents))
            return g.agg(F.count(F.lit(1)).alias("ways"),
                          F.sum(F.col("is_closed").cast("long")).alias("closed"),
                          F.sum(F.size("points")).alias("refs")).collect()[0]

        def check_assemble(r):
            checks.expect((r["ways"], r["closed"], r["refs"])
                          == (self.params.n_ways, self.n_closed, self.n_refs),
                          f"assembled {tuple(r)}, expected "
                          f"{(self.params.n_ways, self.n_closed, self.n_refs)}")

        self.op("read", "assemble", c.n_docs, assemble, check_assemble)

    def layer_metrics(self, out: dict) -> None:
        from pyspark.sql import functions as F

        from osm_pbf_spark.operators.docrender import render_documents
        from osm_pbf_spark.sources import pbf_source as src

        tr = self.run.tracer
        commits = []
        for sp in tr.named("op.ingest"):
            kids = [s for s in tr.spans if s.parent is not None and s.start >= sp.start
                    and s.end <= sp.end and s.name in ("sink.commit_reported_split",
                                                       "sink.commit_snapshot")]
            commits.append(sum(k.seconds for k in kids))
        out["sink.commit_s"] = median(commits)
        out["sources.assembly_s"] = median(self.op_seconds("assemble"))
        out["sources.assembly_shuffle_bytes"] = median(
            [EventLog.summarize(ev, 1).shuffle_write_bytes for ev in self.op_events.get("assemble", [])])

        spark, path = self.spark, self.corpus.path

        def decode_job():
            ents, _ = src.read_pbf(spark, path)
            ents.agg(F.sum("id")).collect()

        def render_job():
            ents, _ = src.read_pbf(spark, path)
            render_documents(ents).agg(F.sum(F.size("spans"))).collect()

        dec, ren = [], []
        for _ in range(2):
            t = time.perf_counter(); decode_job(); dec.append(time.perf_counter() - t)
            t = time.perf_counter(); render_job(); ren.append(time.perf_counter() - t)
        out["docrender.render_s"] = median(ren) - median(dec)


class SpatialBatch(Workload):
    """Full-table pip_join, mercator tiles + pyramid rollup, and a
    broadcast-brute knn_join on a table committed during set-up."""

    name = "spatial_batch"

    def fixture(self) -> None:
        self.table_root = self.committed_table()
        pts = self.points
        every = np.arange(len(pts))
        self.pip_want = checks.pip_rows(pts, every, BENCH_POLYGONS)
        self.pip_hash = sum(checks.row_crc(d, p) for d, p in self.pip_want)
        self.tiles_want = checks.tile_levels(pts, every, TILE_ZOOM, TILE_MIN_ZOOM)
        self.knn_queries = [str(x) for x in sample_ids(self.rng, pts.doc_ids, BATCH_KNN_QUERIES)]
        self.knn_checked = self.knn_queries[:: BATCH_KNN_QUERIES // 8]

    def table_points(self):
        from osm_pbf_spark.sink.iceberg_like import IcebergLikeSink

        return self.points_df(IcebergLikeSink(self.table_root).read(self.spark))

    def iteration(self) -> None:
        from pyspark.sql import functions as F

        from osm_pbf_spark.operators.knn import knn_join
        from osm_pbf_spark.operators.spatial_join import pip_join

        spark, n = self.spark, len(self.points)

        def pip():
            out = pip_join(spark, self.table_points(), spark_polygons())
            return out.agg(F.count(F.lit(1)).alias("n"),
                           F.sum(checks.spark_row_crc("doc_id", "poly_id")).alias("h")).collect()[0]

        def check_pip(r):
            checks.expect(r["n"] == len(self.pip_want), f"pip_join {r['n']} rows, "
                          f"expected {len(self.pip_want)}")
            checks.expect(int(r["h"] or 0) == self.pip_hash, "pip_join rows differ from oracle")

        self.op("read", "pip_join", n, pip, check_pip)
        self.op("read", "tiles", n, lambda: tile_rollup(self.table_points(), TILE_ZOOM, TILE_MIN_ZOOM),
                lambda rows: checks.check_tiles(rows, self.tiles_want))

        def knn():
            pts = self.table_points()
            q = pts.filter(F.col("doc_id").isin(self.knn_queries))
            return knn_join(spark, q, pts, k=KNN_K, level="auto").select(
                "query_id", "neighbor_id", "rank").collect()

        def check_knn(rows):
            checks.expect(len(rows) == KNN_K * len(self.knn_queries), f"knn {len(rows)} rows")
            checks.check_knn(rows, self.points, self.knn_checked, KNN_K)

        self.op("read", "knn_brute", len(self.knn_queries), knn, check_knn)

    def layer_metrics(self, out: dict) -> None:
        from pyspark.sql import functions as F

        from osm_pbf_spark.operators.knn import knn_join

        out["tiling.rollup_s"] = median(self.op_seconds("tiles"))
        out["tiling.leaf_tiles"] = float(self.tiles_want[TILE_ZOOM][1])
        out["knn.brute_s"] = median(self.op_seconds("knn_brute"))
        out["knn.stages_per_call"] = median(
            [EventLog.summarize(ev, 1).stages for ev in self.op_events.get("knn_brute", [])])
        sink_scan = []
        for _ in range(2):
            t = time.perf_counter()
            self.table_points().agg(F.sum("lat"), F.sum("lon")).collect()
            sink_scan.append(time.perf_counter() - t)
        out["sink.scan_s"] = median(sink_scan)
        # the two-round route, reached here with an explicit cell level
        # on the batch query set
        pts = self.table_points()
        q = pts.filter(F.col("doc_id").isin(self.knn_queries))
        self.op("read", "knn_two_round", len(self.knn_queries),
                      lambda: knn_join(self.spark, q, pts, k=KNN_K, level=10)
                      .select("query_id", "neighbor_id", "rank").collect(),
                      lambda rows: checks.check_knn(rows, self.points, self.knn_checked, KNN_K))
        two = [o for o in self.run.ledger.ops if o.name == "knn_two_round"]
        out["knn.two_round_s"] = two[-1].seconds if two else 0.0
        cover_metrics(self.points, np.arange(len(self.points)), len(self.pip_want), out)
        self.sink_probes(out)

    def sink_probes(self, out: dict) -> None:
        """Pruned region reads, and one upsert on a copy of the table so
        the measured table stays as committed."""
        from osm_pbf_spark.sink.iceberg_like import IcebergLikeSink

        sink = IcebergLikeSink(self.table_root)
        for box in region_boxes(self.rng, 4):
            want = {self.points.doc_ids[i] for i in self.points.in_box(box)}

            def check(ids, want=want):
                checks.expect(len(ids) == len(want) and set(ids) == want,
                              f"region read {len(ids)} rows, expected {len(want)}")

            self.op("read", "region_read", len(want),
                    lambda box=box: [r["doc_id"] for r in
                                     self.region(sink, box).select("doc_id").collect()],
                    check)
        out["sink.pruned_file_ratio"] = float(np.mean(self.pruned)) if self.pruned else 0.0
        copy = os.path.join(self.run.work, f"upsert-{os.getpid()}")
        shutil.rmtree(copy, ignore_errors=True)
        shutil.copytree(self.table_root, copy)
        try:
            sink = IcebergLikeSink(copy)
            self.upsert(sink, sink.read(self.spark).schema, 10 * self.params.n_nodes,
                        remember=False)
            ups = [o for o in self.run.ledger.ops if o.name == "upsert" and o.ok]
            out["sink.upsert_s"] = ups[-1].seconds if ups else 0.0
            out["sink.delete_manifests"] = float(
                sum(m.get("kind") == "equality_deletes" for m in manifests(copy)))
        finally:
            shutil.rmtree(copy, ignore_errors=True)


def tile_rollup(points, zoom: int, min_zoom: int):
    from pyspark.sql import functions as F

    from osm_pbf_spark.operators.tiling import assign_point_tiles, tile_pyramid_rollup

    roll = tile_pyramid_rollup(assign_point_tiles(points, zoom), zoom, min_zoom)
    return (roll.groupBy("tile_z")
            .agg(F.sum("n_docs").alias("docs"), F.count(F.lit(1)).alias("tiles"),
                 F.sum(checks.spark_row_crc("tile_z", "tile_x", "tile_y", "n_docs")).alias("h"))
            .collect())


def cover_metrics(points, idx: np.ndarray, matches: int, out: dict) -> None:
    """Candidate pairs the cell cover admits, per exact match, and the
    share of candidates that skip the exact refine (full cells), for the
    covers pip_join builds at its automatic levels."""
    from osm_pbf_spark.functions import cells
    from osm_pbf_spark.operators.spatial_join import pick_cover_level, polygon_cell_cover

    cand = full = n_cells = 0
    t = time.perf_counter()
    for poly in spark_polygons():
        level = pick_cover_level(poly)
        cover = polygon_cell_cover([poly], level)
        n_cells += len(cover)
        pc = cells.cell_id(points.lat[idx], points.lon[idx], level)
        hit = np.isin(pc, cover["cell"].to_numpy())
        cand += int(hit.sum())
        full += int(np.isin(pc, cover.loc[cover["full"], "cell"].to_numpy()).sum())
    out["spatial_join.cover_s"] = time.perf_counter() - t
    out["spatial_join.cover_cells"] = float(n_cells)
    out["spatial_join.candidates_per_match"] = cand / matches if matches else 0.0
    out["spatial_join.full_cell_share"] = full / cand if cand else 0.0


class KnnBulk(Workload):
    """knn_join(level="auto") with a query set above the broadcast-brute
    gate, i.e. the two-round route, under a per-operation deadline."""

    name = "knn_bulk"
    deadline_s = 90.0
    # each operation takes minutes on the current engine: a warming
    # iteration would double the run for no steadier figure
    warm_iteration = False

    def fixture(self) -> None:
        self.table_root = self.committed_table()
        self.queries = [str(x) for x in sample_ids(self.rng, self.points.doc_ids, BULK_KNN_QUERIES)]
        self.checked = self.queries[:: BULK_KNN_QUERIES // 5]

    def iteration(self) -> None:
        from pyspark.sql import functions as F

        from osm_pbf_spark.operators.knn import knn_join
        from osm_pbf_spark.sink.iceberg_like import IcebergLikeSink

        pts = self.points_df(IcebergLikeSink(self.table_root).read(self.spark))
        q = pts.filter(F.col("doc_id").isin(self.queries))

        def check(rows):
            checks.expect(len(rows) == KNN_K * len(self.queries), f"knn {len(rows)} rows")
            checks.check_knn(rows, self.points, self.checked, KNN_K)

        self.op("read", "knn_auto", len(self.queries),
                lambda: knn_join(self.spark, q, pts, k=KNN_K, level="auto")
                .select("query_id", "neighbor_id", "rank").collect(), check)


class LookupMix(Workload):
    """Closed loop, one client, on a fresh copy of the committed table:
    pruned region reads feeding pip_join or a tile rollup, few-point
    kNN lookups, and one small upsert in every ten operations."""

    name = "lookup_mix"
    deadline_s = 30.0

    def fixture(self) -> None:
        from osm_pbf_spark.sink.iceberg_like import IcebergLikeSink

        fixture_root = self.committed_table()
        self.table_root = os.path.join(self.run.work, f"lookup-{os.getpid()}")
        shutil.rmtree(self.table_root, ignore_errors=True)
        shutil.copytree(fixture_root, self.table_root)
        self.sink = IcebergLikeSink(self.table_root)
        self.schema = self.sink.read(self.spark).schema
        self.boxes = region_boxes(self.rng, 64)
        self.n_ops = 0
        self.next_new_id = 10 * self.params.n_nodes

    def iteration(self) -> None:
        kind = LOOKUP_CYCLE[self.n_ops % len(LOOKUP_CYCLE)]
        self.n_ops += 1
        getattr(self, kind)()

    def next_box(self):
        return self.boxes[self.n_ops % len(self.boxes)]

    def region_pip(self) -> None:
        from osm_pbf_spark.operators.spatial_join import pip_join

        box = self.next_box()
        idx = self.points.in_box(box)
        want = checks.pip_rows(self.points, idx, BENCH_POLYGONS)

        def check(rows):
            got = {(r["doc_id"], r["poly_id"]) for r in rows}
            checks.expect(len(rows) == len(got) and got == want,
                          f"region pip_join {len(rows)} rows differ from oracle ({len(want)})")

        self.op("read", "region_pip", len(idx),
                lambda: pip_join(self.spark, self.region(self.sink, box), spark_polygons())
                .select("doc_id", "poly_id").collect(), check)

    def region_tiles(self) -> None:
        box = self.next_box()
        idx = self.points.in_box(box)
        want = checks.tile_levels(self.points, idx, REGION_TILE_ZOOM, REGION_TILE_MIN_ZOOM)
        if not len(idx):
            want = {}
        self.op("read", "region_tiles", len(idx),
                lambda: tile_rollup(self.region(self.sink, box), REGION_TILE_ZOOM,
                                    REGION_TILE_MIN_ZOOM),
                lambda rows: checks.check_tiles(rows, want))

    def knn_few(self) -> None:
        from pyspark.sql import functions as F

        from osm_pbf_spark.operators.knn import knn_join

        qids = [str(x) for x in sample_ids(self.rng, self.points.doc_ids, LOOKUP_KNN_QUERIES)]
        pts = self.points_df(self.sink.read(self.spark))

        def check(rows):
            checks.check_knn(rows, self.points, qids, KNN_K)

        self.op("read", "knn_few", len(qids),
                lambda: knn_join(self.spark, pts.filter(F.col("doc_id").isin(qids)), pts, k=KNN_K,
                                 level="auto")
                .select("query_id", "neighbor_id", "rank").collect(), check)

    def upsert_few(self) -> None:
        self.upsert(self.sink, self.schema, self.next_new_id, remember=True)
        self.next_new_id += UPSERT_ROWS

    def layer_metrics(self, out: dict) -> None:
        ms = manifests(self.table_root)
        out["sink.pruned_file_ratio"] = float(np.mean(self.pruned)) if self.pruned else 0.0
        out["sink.delete_manifests"] = float(sum(m.get("kind") == "equality_deletes" for m in ms))
        out["sink.upsert_s"] = median(self.op_seconds("upsert"))
        out["tiling.rollup_s"] = median(self.op_seconds("region_tiles"))
        out["knn.brute_s"] = median(self.op_seconds("knn_few"))
        out["knn.stages_per_call"] = median(
            [EventLog.summarize(ev, 1).stages for ev in self.op_events.get("knn_few", [])])
        every = np.arange(len(self.points))
        cover_metrics(self.points, every,
                      len(checks.pip_rows(self.points, every, BENCH_POLYGONS)), out)


WORKLOADS = {w.name: w for w in (PbfIngest, SpatialBatch, KnnBulk, LookupMix)}
