"""Distributed OSM-PBF source (SURVEY.md §2.1 S1-S4, §3.2 entry point 1).

The reference decodes blob-at-a-time in one process. Here the same file
becomes an arbitrarily parallel scan:

1. driver LIGHT scan: read only the 4-byte lengths + BlobHeaders,
   seeking past payloads -> blob manifest (seq, offset, size);
2. decode + validate the OSMHeader once on the driver (fail fast on
   unsupported required_features — spec semantics);
3. bin the blobs by compressed size into decode tasks (by default one
   per core); ``spark.range(n)`` -> ``mapInArrow`` runs one Spark task
   per bin (the bin list ships in the kernel closure: no manifest
   DataFrame, no repartition), and each task opens the file and reads
   ONLY its byte ranges, running the vectorized numpy decode kernels
   per blob.

The decode emits ONE unified entity schema (kind + nullable
refs/members); ``nodes()`` / ``ways()`` / ``relations()`` are filters
on top. A single consumer reads and decodes every blob once, but
differently filtered consumers do not share the decode, since Spark
does not reuse a ``MapInArrow`` leaf. Way assembly, the one pipeline
consumer of two filters, therefore does not join ``ways(ents)`` with
``nodes(ents)``: it reruns the same task bins through a slim kernel
that emits only node coordinates and packed way refs, so the file is
decoded once (``assemble_way_geometries``). At cluster scale each
executor seeks independently into (an HDFS/S3 copy of) the file — no
shuffle anywhere in the decode stage.
"""

from __future__ import annotations

import heapq
from collections.abc import Iterable, Iterator

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..pbf.decode import decode_header_block, decode_primitive_block
from ..pbf.framing import read_blob_payload, scan_blobs

ENTITY_SPARK_SCHEMA = T.StructType(
    [
        T.StructField("kind", T.StringType()),
        T.StructField("id", T.LongType()),
        T.StructField("lat", T.DoubleType()),
        T.StructField("lon", T.DoubleType()),
        T.StructField("tags", T.MapType(T.StringType(), T.StringType())),
        T.StructField("refs", T.ArrayType(T.LongType())),
        T.StructField(
            "members",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField("role", T.StringType()),
                        T.StructField("ref", T.LongType()),
                        T.StructField("type", T.StringType()),
                    ]
                )
            ),
        ),
        T.StructField("version", T.IntegerType()),
        T.StructField("ts_ms", T.LongType()),
        T.StructField("changeset", T.LongType()),
        T.StructField("uid", T.IntegerType()),
        T.StructField("user", T.StringType()),
        T.StructField("visible", T.BooleanType()),
    ]
)

_ENTITY_ARROW_SCHEMA = pa.schema(
    [
        ("kind", pa.string()),
        ("id", pa.int64()),
        ("lat", pa.float64()),
        ("lon", pa.float64()),
        ("tags", pa.map_(pa.string(), pa.string())),
        ("refs", pa.list_(pa.int64())),
        (
            "members",
            pa.list_(
                pa.struct([("role", pa.string()), ("ref", pa.int64()), ("type", pa.string())])
            ),
        ),
        ("version", pa.int32()),
        ("ts_ms", pa.int64()),
        ("changeset", pa.int64()),
        ("uid", pa.int32()),
        ("user", pa.string()),
        ("visible", pa.bool_()),
    ]
)


def _unify(kind: str, tab: pa.Table) -> pa.Table:
    """Pad a per-kind table out to the unified entity schema."""
    n = len(tab)
    cols: dict[str, pa.Array | pa.ChunkedArray] = {
        "kind": pa.array([kind] * n, type=pa.string())
    }
    for field in _ENTITY_ARROW_SCHEMA:
        if field.name == "kind":
            continue
        if field.name in tab.column_names:
            cols[field.name] = tab.column(field.name)
        else:
            cols[field.name] = pa.nulls(n, field.type)
    return pa.table(cols, schema=_ENTITY_ARROW_SCHEMA)


def _entity_batches(tabs: dict[str, pa.Table]) -> Iterator[pa.RecordBatch]:
    """One decoded block -> unified entity batches, nodes, ways, relations."""
    for kind_name, kind in (("node", "nodes"), ("way", "ways"), ("relation", "relations")):
        t = tabs[kind]
        if len(t):
            yield from _unify(kind_name, t).to_batches()


# The slim assembly stream: node rows (id, null, lat, lon) and ref rows
# (ref, way_id << 24 | pos, null, null), keyed by node id.
_SLIM_ARROW_SCHEMA = pa.schema(
    [("key", pa.int64()), ("_wp", pa.int64()), ("lat", pa.float64()), ("lon", pa.float64())]
)

_NOT_PACKABLE = "way not packable for assembly (id >= 2^39 or >16M refs): id="


def _slim_batches(tabs: dict[str, pa.Table]) -> Iterator[pa.RecordBatch]:
    """One decoded block -> the slim assembly stream: its nodes' ids and
    coordinates, and one row per way ref carrying the packed
    ``way_id << 24 | pos``. Tags, members and info never leave the
    kernel. A way id outside ``[0, 2^39)`` or a position ``>= 2^24``
    fails loudly, like the pack expression of the generic route."""
    import numpy as np
    import pyarrow.compute as pc

    nd = tabs["nodes"]
    if len(nd):
        yield from pa.table(
            [nd.column("id"), pa.nulls(len(nd), pa.int64()), nd.column("lat"), nd.column("lon")],
            schema=_SLIM_ARROW_SCHEMA,
        ).to_batches()
    wy = tabs["ways"]
    if len(wy):
        refs = wy.column("refs").combine_chunks()
        lens = pc.list_value_length(refs).fill_null(0).to_numpy()
        way_id = np.repeat(wy.column("id").to_numpy(), lens)
        pos = np.arange(len(way_id), dtype=np.int64) - np.repeat(np.cumsum(lens) - lens, lens)
        bad = (way_id < 0) | (way_id >= 1 << 39) | (pos >= 1 << 24)
        if bad.any():
            i = int(np.argmax(bad))
            raise ValueError(f"{_NOT_PACKABLE}{way_id[i]} pos={pos[i]}")
        n = len(way_id)
        yield pa.record_batch(
            [refs.flatten(), pa.array((way_id << 24) | pos), pa.nulls(n, pa.float64()),
             pa.nulls(n, pa.float64())],
            schema=_SLIM_ARROW_SCHEMA,
        )


def _decode_blobs(
    blobs: Iterable[tuple[str, int, int]], emit=_entity_batches
) -> Iterator[pa.RecordBatch]:
    """(path, offset, size) blobs -> ``emit(decoded block)`` batches:
    unified entity batches by default, or the slim assembly stream.

    One block is decoded at a time, which keeps memory bounded at ~one
    inflated block (<= 32 MiB by spec), matching the reference's
    streaming posture.
    """
    f = None
    cur_path = None
    try:
        for path, off, size in blobs:
            if path != cur_path:
                if f is not None:
                    f.close()
                f = open(path, "rb")
                cur_path = path
            yield from emit(decode_primitive_block(read_blob_payload(f, off, size)))
    finally:
        if f is not None:
            f.close()


def polygons_from_closed_ways(geoms_df: DataFrame, max_polygons: int = 100_000):
    """Closed decoded ways -> broadcastable Polygon list (SURVEY §2.3).

    Mirrors the reference lifecycle: decoded geometries feed the
    spatial index, then PIP queries run against them (the r-tree
    insert+query becomes polygon cell covers + the broadcast join of
    operators.spatial_join.pip_join). The polygon side of a PIP join
    is broadcast, so it is collected here; ``max_polygons`` guards
    against collecting an unbroadcastable set — for region/boundary
    workloads (the PIP use case) polygon counts are 10^3-10^5 while
    the POINT side is the 10^12 one.
    """
    import numpy as np

    from ..operators.spatial_join import Polygon

    rows = (
        geoms_df.filter("is_closed AND size(points) >= 4")
        .select("way_id", "points")
        .limit(max_polygons + 1)
        .collect()
    )
    if len(rows) > max_polygons:
        raise ValueError(
            f"more than {max_polygons} closed ways; raise max_polygons or "
            "use rings_from_closed_ways with pip_join_rings (no driver collect)"
        )
    return [
        Polygon(
            f"way/{r['way_id']}",
            [np.array([[p["lat"], p["lon"]] for p in r["points"][:-1]], dtype=np.float64)],
        )
        for r in rows
    ]


def stitch_rings(segments: list[tuple[list[int], list[tuple[float, float]]]]):
    """Stitch way segments into closed rings by endpoint NODE ID.

    ``segments``: [(refs, points)] per member way, refs[i] <-> points[i].
    Returns (rings, leftover): rings as coordinate lists with the
    closing duplicate REMOVED (the Polygon convention), leftover = how
    many segments could not be closed (broken geometry in the input —
    dropped, as the reference's r-tree insert would reject them).

    Hash-endpoint matching — the standard OSM multipolygon ring
    assembly: a closed member way is a ring by itself; open ways chain
    end-to-start (reversing as needed) until the chain closes. LINEAR
    in total segments (endpoint -> segment index), so a coastline-size
    relation (10^5 member ways) stitches in one pass — the same
    function serves the driver broadcast path AND the distributed
    per-relation kernel (relation_rings), which keeps the two paths
    equal by construction. Deterministic ring order: closed members in
    input order first, then chains started from the lowest-index
    unused open segment.
    """
    from collections import defaultdict

    rings: list[list[tuple[float, float]]] = []
    opens: list[tuple[list[int], list[tuple[float, float]]]] = []
    for refs, pts in segments:
        if len(refs) < 2 or len(refs) != len(pts):
            continue
        if refs[0] == refs[-1]:
            if len(refs) >= 4:
                rings.append(list(pts[:-1]))
        else:
            opens.append((list(refs), list(pts)))
    by_end: dict = defaultdict(list)
    for i, (refs, _) in enumerate(opens):
        by_end[refs[0]].append(i)
        by_end[refs[-1]].append(i)
    used = [False] * len(opens)
    leftover = 0
    for start in range(len(opens)):
        if used[start]:
            continue
        used[start] = True
        chain_refs = list(opens[start][0])
        chain_pts = list(opens[start][1])
        while chain_refs[0] != chain_refs[-1]:
            tail = chain_refs[-1]
            nxt = next((j for j in by_end[tail] if not used[j]), None)
            if nxt is None:
                break
            used[nxt] = True
            refs, pts = opens[nxt]
            if refs[0] == tail:
                chain_refs += refs[1:]
                chain_pts += pts[1:]
            else:
                chain_refs += refs[-2::-1]
                chain_pts += pts[-2::-1]
        if chain_refs[0] == chain_refs[-1] and len(chain_refs) >= 4:
            rings.append(chain_pts[:-1])
        else:
            leftover += 1
    return rings, leftover


def _point_in_ring_scalar(lat: float, lon: float, ring) -> bool:
    inside = False
    j = len(ring) - 1
    for i in range(len(ring)):
        yi, xi = ring[i]
        yj, xj = ring[j]
        if (yi > lat) != (yj > lat) and lon < (xj - xi) * (lat - yi) / (yj - yi) + xi:
            inside = not inside
        j = i
    return inside


def _relation_member_segments(
    relations_df: DataFrame, ways_df: DataFrame, nodes_df: DataFrame
) -> DataFrame:
    """The distributed half of multipolygon assembly, shared by
    ``relation_rings`` and ``polygons_from_relations``: explode
    relation members -> join member ways -> resolve way refs to node
    coords (the same sort-merge regroup plan as G8 way assembly).

    Returns (rel_id, m_pos, role, refs, points) — one row per member
    way with its fully-resolved vertex array; ways with unresolved
    refs are dropped (a partial ring is broken geometry).
    """
    members = (
        relations_df.filter(F.element_at(F.col("tags"), "type") == "multipolygon")
        .select(
            F.col("id").alias("rel_id"),
            F.posexplode("members").alias("m_pos", "m"),
        )
        .filter((F.col("m.type") == "way") & F.col("m.role").isin("outer", "inner"))
        .select("rel_id", "m_pos", F.col("m.ref").alias("way_id"), F.col("m.role").alias("role"))
    )
    way_pts = ways_df.select(F.col("id").alias("way_id"), "refs").join(
        members.select("way_id").distinct(), "way_id", "inner"
    )
    # the packed-vertex assembly (same regroup plan as G8); refs ride
    # back in via a join on way_id — the coordinate arrays come out in
    # pos order, i.e. aligned with the original refs array
    geoms = (
        assemble_way_geometries(way_pts.select(F.col("way_id").alias("id"), "refs"), nodes_df)
        .join(way_pts, "way_id", "inner")
        .filter(F.size("points") == F.size("refs"))
        .select("way_id", "refs", "points")
    )
    return members.join(geoms, "way_id", "inner").select(
        "rel_id", "m_pos", "role", "refs", "points"
    )


def _stitch_relation(rel_id, seg_rows) -> list[tuple[str, int, list]]:
    """Per-relation stitch + hole-assignment kernel, shared VERBATIM by
    the driver path and the distributed kernel (so the two paths are
    equal by construction). ``seg_rows``: (m_pos, role, refs,
    pts[(lat, lon)]) tuples. Returns RINGS_SCHEMA-shaped rows
    (poly_id, ring_idx, pts) — ring 0 the outer, the rest its holes.

    Ring roles: 'outer' members form outer rings, 'inner' members form
    holes; each hole attaches to the first outer ring containing its
    probe vertex (even-odd PIP then excludes hole interiors). A
    relation with multiple outer rings emits one polygon per outer
    ring, id ``relation/<id>/<i>``; a single-outer relation keeps
    ``relation/<id>``.
    """
    segs = {"outer": [], "inner": []}
    for m_pos, role, refs, pts in sorted(seg_rows, key=lambda r: r[0]):
        segs[role].append((list(refs), pts))
    outers, leftover_o = stitch_rings(segs["outer"])
    inners, leftover_i = stitch_rings(segs["inner"])
    if leftover_o or leftover_i:
        import logging

        logging.getLogger(__name__).warning(
            "relation/%s: dropped %d outer / %d inner unclosable segment chains",
            rel_id, leftover_o, leftover_i,
        )
    if not outers:
        return []
    holes_for: dict[int, list] = {i: [] for i in range(len(outers))}
    for hole in inners:
        for i, outer in enumerate(outers):
            # probe with a hole vertex NOT shared with this outer
            # ring when one exists (a shared touch point — legal in
            # OSM — sits exactly on the boundary, where the even-odd
            # test is unreliable); fall back to the first vertex
            outer_set = set(outer)
            probe = next((v for v in hole if v not in outer_set), hole[0])
            if _point_in_ring_scalar(probe[0], probe[1], outer):
                holes_for[i].append(hole)
                break
    rows = []
    for i, outer in enumerate(outers):
        pid = f"relation/{rel_id}" if len(outers) == 1 else f"relation/{rel_id}/{i}"
        rows.append((pid, 0, outer))
        for k, hole in enumerate(holes_for[i]):
            rows.append((pid, k + 1, hole))
    return rows


def relation_rings(
    relations_df: DataFrame, ways_df: DataFrame, nodes_df: DataFrame
) -> DataFrame:
    """DISTRIBUTED multipolygon assembly: type=multipolygon relations
    -> rings DataFrame (RINGS_SCHEMA) for ``pip_join_rings`` — the
    planet-scale path with NO relation-count cap and NO driver-side
    stitching (SURVEY §2.3 G2; closes the r4-verdict driver
    bottleneck).

    Plan: the member-segment joins of ``_relation_member_segments``
    (all shuffle-join distributed), then ONE ``applyInPandas`` over
    rel_id running the linear hash-endpoint stitcher + hole
    assignment per relation. The unit of parallelism is the relation —
    matching the output granularity (a ring is ONE output row's packed
    vertex array), so finer distribution could not reduce the data a
    single task must hold; the largest real-world relation (~10^5
    member ways, ~10^7 vertices) is ~300 MB of task memory, loud
    Arrow failure beyond that. Skew across relations is handled by the
    shuffle (each relation is an independent group).
    """
    import pandas as pd

    from ..operators.spatial_join import RINGS_SCHEMA  # noqa: F401 (schema contract)

    rows_df = _relation_member_segments(relations_df, ways_df, nodes_df)

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        rel_id = pdf["rel_id"].iloc[0]
        seg_rows = [
            (
                int(m_pos),
                role,
                [int(x) for x in refs],
                [(float(p["lat"]), float(p["lon"])) for p in pts],
            )
            for m_pos, role, refs, pts in zip(
                pdf["m_pos"], pdf["role"], pdf["refs"], pdf["points"]
            )
        ]
        out = _stitch_relation(rel_id, seg_rows)
        if not out:
            # typed empty frame: plain {} columns default to float64
            # ndarrays, which Arrow cannot cast to list<struct>
            return pd.DataFrame(
                {
                    "poly_id": pd.Series([], dtype=object),
                    "ring_idx": pd.Series([], dtype="int64"),
                    "pts": pd.Series([], dtype=object),
                }
            )
        return pd.DataFrame(
            {
                "poly_id": [pid for pid, _, _ in out],
                "ring_idx": [idx for _, idx, _ in out],
                "pts": [
                    [{"lat": la, "lon": lo} for la, lo in ring]
                    for _, _, ring in out
                ],
            }
        )

    return rows_df.groupBy("rel_id").applyInPandas(kernel, RINGS_SCHEMA)


def polygons_from_relations(
    relations_df: DataFrame,
    ways_df: DataFrame,
    nodes_df: DataFrame,
    max_polygons: int = 100_000,
    max_vertices: int = 20_000_000,
):
    """type=multipolygon relations -> Polygon list with HOLES (SURVEY
    §2.3 G2) — the BROADCAST-side materialization of
    :func:`relation_rings`: stitching and hole assignment run
    DISTRIBUTED (the shared ``_stitch_relation`` kernel); the driver
    only streams the finished ring rows into ``Polygon`` objects under
    loud relation-count / vertex budgets (it must fit in a broadcast).
    Past the budgets, use ``relation_rings`` + ``pip_join_rings`` —
    same results, no caps.
    """
    import numpy as np

    from ..operators.spatial_join import Polygon

    n_rels = (
        relations_df.filter(F.element_at(F.col("tags"), "type") == "multipolygon")
        .select("id").distinct().limit(max_polygons + 1).count()
    )
    if n_rels > max_polygons:
        raise ValueError(
            f"more than {max_polygons} multipolygon relations; raise "
            "max_polygons or use relation_rings + pip_join_rings"
        )
    rings_df = relation_rings(relations_df, ways_df, nodes_df)
    by_poly: dict[str, list] = {}
    seen_vertices = 0
    for r in rings_df.toLocalIterator(prefetchPartitions=True):
        seen_vertices += len(r["pts"])
        if seen_vertices > max_vertices:
            raise ValueError(
                f"multipolygon geometry exceeds max_vertices={max_vertices}; "
                "raise it or use the rings-DataFrame join path "
                "(relation_rings + operators.spatial_join.pip_join_rings)"
            )
        by_poly.setdefault(r["poly_id"], []).append(r)

    def _rel_key(pid: str):
        parts = pid.split("/")
        return (int(parts[1]), int(parts[2]) if len(parts) > 2 else 0)

    out = []
    for pid in sorted(by_poly, key=_rel_key):
        rows = sorted(by_poly[pid], key=lambda r: r["ring_idx"])
        rings = [
            np.array([(p["lat"], p["lon"]) for p in r["pts"]], dtype=np.float64)
            for r in rows
        ]
        out.append(Polygon(pid, rings))
    return out


def validate_multipolygons(
    relations_df: DataFrame,
    ways_df: DataFrame,
    nodes_df: DataFrame,
    level: int = 6,
) -> DataFrame:
    """Distributed multipolygon VALIDITY audit (r5) — the OSM
    geometry-hygiene report a loader runs before trusting relation
    polygons. One row per type=multipolygon relation:

      (rel_id, n_way_members, n_bad_role, n_missing_geom,
       n_outer_rings, n_inner_rings, n_unclosed_outer,
       n_unclosed_inner, n_self_intersect, is_valid)

    - ``n_bad_role``: way members whose role is not outer/inner
      (role consistency);
    - ``n_missing_geom``: outer/inner members whose way is absent or
      has unresolved refs (broken geometry);
    - ``n_unclosed_*``: segment chains the stitcher cannot close,
      per role (ring closure);
    - ``n_self_intersect``: stitched rings with at least one PROPER
      self-crossing (segjoin::ring_self_intersections — the bowtie
      class);
    - ``is_valid``: all of the above zero AND >= 1 outer ring.

    Plan: member-role counts are one aggregate over the exploded
    members; missing geometry is one left-anti join against the
    resolved member segments; closure counts come from the same
    per-relation applyInPandas discipline as relation_rings; the
    self-crossing scan is the distributed cell-grid segment join.
    Everything shuffles on rel_id / cell — nothing touches the driver.
    """
    import pandas as pd

    from ..operators.segjoin import ring_self_intersections

    rels = relations_df.filter(
        F.element_at(F.col("tags"), "type") == "multipolygon"
    )
    mem = (
        rels.select(
            F.col("id").alias("rel_id"),
            F.posexplode("members").alias("m_pos", "m"),
        )
        .filter(F.col("m.type") == "way")
        .select(
            "rel_id", "m_pos",
            F.col("m.ref").alias("way_id"),
            F.col("m.role").alias("role"),
        )
    )
    base = mem.groupBy("rel_id").agg(
        F.count(F.lit(1)).alias("n_way_members"),
        F.sum(
            (~F.col("role").isin("outer", "inner")).cast("long")
        ).alias("n_bad_role"),
    )
    spec = mem.filter(F.col("role").isin("outer", "inner"))
    rows_df = _relation_member_segments(relations_df, ways_df, nodes_df)
    missing = (
        spec.join(rows_df.select("rel_id", "m_pos"), ["rel_id", "m_pos"], "left_anti")
        .groupBy("rel_id")
        .agg(F.count(F.lit(1)).alias("n_missing_geom"))
    )

    def report(pdf: pd.DataFrame) -> pd.DataFrame:
        rel_id = pdf["rel_id"].iloc[0]
        segs = {"outer": [], "inner": []}
        for m_pos, role, refs, pts in sorted(
            zip(pdf["m_pos"], pdf["role"], pdf["refs"], pdf["points"]),
            key=lambda r: r[0],
        ):
            segs[role].append(
                (
                    [int(x) for x in refs],
                    [(float(p["lat"]), float(p["lon"])) for p in pts],
                )
            )
        outers, lo = stitch_rings(segs["outer"])
        inners, li = stitch_rings(segs["inner"])
        return pd.DataFrame(
            {
                "rel_id": [rel_id],
                "n_outer_rings": [len(outers)],
                "n_inner_rings": [len(inners)],
                "n_unclosed_outer": [lo],
                "n_unclosed_inner": [li],
            }
        )

    rep = rows_df.groupBy("rel_id").applyInPandas(
        report,
        "rel_id long, n_outer_rings long, n_inner_rings long, "
        "n_unclosed_outer long, n_unclosed_inner long",
    )
    xi = (
        ring_self_intersections(
            relation_rings(relations_df, ways_df, nodes_df), level=level
        )
        .select("poly_id", "ring_idx")
        .distinct()
        .select(
            F.split("poly_id", "/").getItem(1).cast("long").alias("rel_id")
        )
        .groupBy("rel_id")
        .agg(F.count(F.lit(1)).alias("n_self_intersect"))
    )
    out = (
        base.join(missing, "rel_id", "left")
        .join(rep, "rel_id", "left")
        .join(xi, "rel_id", "left")
    )
    z = lambda c: F.coalesce(F.col(c), F.lit(0)).cast("long")  # noqa: E731
    return out.select(
        "rel_id",
        z("n_way_members").alias("n_way_members"),
        z("n_bad_role").alias("n_bad_role"),
        z("n_missing_geom").alias("n_missing_geom"),
        z("n_outer_rings").alias("n_outer_rings"),
        z("n_inner_rings").alias("n_inner_rings"),
        z("n_unclosed_outer").alias("n_unclosed_outer"),
        z("n_unclosed_inner").alias("n_unclosed_inner"),
        z("n_self_intersect").alias("n_self_intersect"),
        (
            (z("n_bad_role") == 0)
            & (z("n_missing_geom") == 0)
            & (z("n_unclosed_outer") == 0)
            & (z("n_unclosed_inner") == 0)
            & (z("n_self_intersect") == 0)
            & (z("n_outer_rings") >= 1)
        ).alias("is_valid"),
    )


FILE_REPORT_SPARK_SCHEMA = T.StructType(
    [
        T.StructField("split_id", T.StringType()),
        T.StructField("path", T.StringType()),
        T.StructField("n_rows", T.LongType()),
        T.StructField("n_bytes", T.LongType()),
        T.StructField("cell_min", T.LongType()),
        T.StructField("cell_max", T.LongType()),
    ]
)


def _ingest_arrow_schema() -> pa.Schema:
    """Arrow schema of the ingest's data files: the rendered docs plus
    their ``cell`` and ``cell_prefix``."""
    from ..operators.docrender import DOC_ARROW_SCHEMA

    return DOC_ARROW_SCHEMA.append(pa.field("cell", pa.int64())).append(
        pa.field("cell_prefix", pa.int64())
    )


def _decode_render_write_bins_factory(
    cell_level: int,
    table_root: str,
    tasks: list[list[tuple[str, str, list[int], list[int]]]],
):
    """Fused decode -> render -> cell -> SORT -> direct parquet write,
    one data file per BIN: a ``(split_id, path, offsets, sizes)`` group
    of one split's blobs. The kernel's input rows are task indexes into
    ``tasks`` (column ``id``, as ``spark.range`` yields them), each
    task a list of bins.

    Each bin's blobs are decoded, rendered to span documents and given
    their Morton cell and ``cell_prefix`` (the parent cell at level 4;
    both -1 for docs with no point geometry) in ONE Python pass — chaining mapInArrow stages would materialize
    every entity as JVM rows in between (measured ~8x the decode
    itself at 2M nodes). The bin's docs are then sorted by cell and
    written with pyarrow into its split's ``data/split=<split_id>``
    directory; the task returns only a one-row FILE REPORT per bin
    (split id, path, rows, bytes, cell min/max) to Spark. The
    Arrow->InternalRow conversion and JVM parquet encode of the nested
    span rows — the largest non-kernel cost of the ingest — never
    happen; the sink's manifest protocol (not Hadoop's committer) is
    what makes files visible, so a failed/duplicate task attempt just
    leaves an invisible orphan file. Each file and its directory entry
    are fsynced before the task reports the file, so a durable manifest
    never names a file a power loss could truncate.
    """
    import os
    import uuid

    import numpy as np
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from ..functions import cells as C
    from ..operators.docrender import _render_batch
    from ..sink.iceberg_like import _fsync

    schema = _ingest_arrow_schema()
    prefix_shift = np.int64(2 * (cell_level - 4))

    def _cell_batch(ent: pa.RecordBatch) -> pa.RecordBatch:
        doc = _render_batch(ent)
        lat = doc.column("lat").to_numpy(zero_copy_only=False)
        lon = doc.column("lon").to_numpy(zero_copy_only=False)
        ok = np.isfinite(lat) & np.isfinite(lon)
        cell = np.where(
            ok,
            C.cell_id(np.nan_to_num(lat), np.nan_to_num(lon), cell_level),
            np.int64(-1),
        ).astype(np.int64)
        prefix = np.where(
            ok, (cell >> np.int64(5)) >> prefix_shift, np.int64(-1)
        ).astype(np.int64)
        return pa.record_batch(
            list(doc.columns) + [pa.array(cell), pa.array(prefix)], schema=schema
        )

    def _write_bin(split_id, path, offsets, sizes) -> pa.RecordBatch | None:
        docs = [
            _cell_batch(ent)
            for ent in _decode_blobs((path, off, size) for off, size in zip(offsets, sizes))
        ]
        if not docs:
            return None
        # sort by cell (Arrow C++ take — cheap): the file then carries
        # TIGHT per-row-group/file [cell_min, cell_max] ranges,
        # Iceberg-style metrics pruning with NO shuffle. Task memory is
        # bounded by the bin's blobs, not the table.
        tab = pa.Table.from_batches(docs, schema=schema)
        tab = tab.take(pc.sort_indices(tab.column("cell")))
        fpath = os.path.join(
            table_root, "data", f"split={split_id}", f"part-{uuid.uuid4().hex}.parquet"
        )
        pq.write_table(tab, fpath, row_group_size=65536, compression="snappy")
        # durable before any manifest names it: the file's bytes, then
        # its entry in the split directory
        _fsync(fpath)
        _fsync(os.path.dirname(fpath))
        mm = pc.min_max(tab.column("cell")).as_py()
        return pa.record_batch(
            {
                "split_id": pa.array([split_id]),
                "path": pa.array([fpath]),
                "n_rows": pa.array([tab.num_rows], pa.int64()),
                "n_bytes": pa.array([os.path.getsize(fpath)], pa.int64()),
                "cell_min": pa.array([mm["min"]], pa.int64()),
                "cell_max": pa.array([mm["max"]], pa.int64()),
            }
        )

    def _fused_write(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            for i in batch.column("id").to_pylist():
                for b in tasks[i]:
                    report = _write_bin(*b)
                    if report is not None:
                        yield report

    return _fused_write


def _lpt(items: list, weight, n: int) -> list[tuple[int, list]]:
    """Largest-first into the lightest of ``n`` groups ->
    ``(weight, members)`` per group."""
    heap = [(0, j) for j in range(n)]
    members: list[list] = [[] for _ in range(n)]
    for it in sorted(items, key=lambda it: -weight(it)):
        load, j = heapq.heappop(heap)
        members[j].append(it)
        heapq.heappush(heap, (load + weight(it), j))
    loads = {j: load for load, j in heap}
    return [(loads[j], members[j]) for j in range(n)]


def _scan_one(p: str) -> tuple[dict, list]:
    """Header-only scan of one file -> (header dict, OSMData blob refs).
    Unknown blob types are skipped per spec ("parsers should ignore")."""
    header = None
    refs = []
    for r in scan_blobs(p):
        if r.blob_type == "OSMHeader":
            header = decode_header_block(read_blob_payload(p, r.offset, r.size))
        elif r.blob_type == "OSMData":
            refs.append(r)
    if header is None:
        header = {"required_features": [], "optional_features": [], "bbox": None}
    return header, refs


def _merge_header(merged: dict, h: dict) -> None:
    """Fold one more file's header into ``merged``: feature lists
    unioned in first-seen order, bbox the envelope union."""
    for key in ("required_features", "optional_features"):
        for feat in h.get(key, []):
            if feat not in merged[key]:
                merged[key].append(feat)
    bb = h.get("bbox")
    if bb is not None:
        mb = merged["bbox"]
        merged["bbox"] = (
            dict(bb)
            if mb is None
            else {
                "left": min(mb["left"], bb["left"]),
                "right": max(mb["right"], bb["right"]),
                "bottom": min(mb["bottom"], bb["bottom"]),
                "top": max(mb["top"], bb["top"]),
            }
        )


def _decode_tasks_factory(
    paths: list[str], tasks: list[list[tuple[int, int, int]]], emit=_entity_batches
):
    """Decode kernel over task indexes (column ``id``, as ``spark.range``
    yields them): task ``i`` decodes the blobs ``tasks[i]``, each a
    ``(file index into paths, offset, size)`` in file order, through
    ``_decode_blobs`` with the given per-block ``emit``."""

    def _decode_tasks(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            for i in batch.column("id").to_pylist():
                yield from _decode_blobs(
                    ((paths[k], off, size) for k, off, size in tasks[i]), emit
                )

    return _decode_tasks


def read_pbf(
    spark: SparkSession,
    path: str | list[str],
    parallelism: int | None = None,
) -> tuple[DataFrame, dict]:
    """Distributed decode -> (unified entity DataFrame, header dict).

    ``path`` is one .pbf file or a LIST of them (a planet split into
    regional extracts). The driver scans every file's headers in one
    loop, bins all OSMData blobs by compressed size (largest first into
    the lightest bin) into ``parallelism`` decode tasks — by default
    ``defaultParallelism``, never more than there are blobs — and keeps
    each task's blobs in file order. The decode is ONE shuffle-free
    stage: ``spark.range`` yields one task index per partition, the
    task list ships in the kernel closure, and each task seeks into its
    files and decodes only its own byte ranges.

    The header is the first file's own header dict; each further file
    is merged into it: feature lists unioned (first-seen order), bbox
    the envelope union. Entities appearing in several extracts
    (overlapping clips) are NOT deduplicated — ids are global, so a
    plain dropDuplicates('kind','id') downstream is exact.

    The returned frame carries its ``(paths, tasks)`` as a private
    attribute, which ``nodes()``/``ways()`` pass on, so that
    ``assemble_way_geometries`` can rerun the same task bins through
    its slim kernel.
    """
    paths = [path] if isinstance(path, str) else list(path)
    if not paths:
        raise ValueError("read_pbf: empty path list")
    header = None
    blobs = []
    for k, p in enumerate(paths):
        h, refs = _scan_one(p)
        if header is None:
            header = h
        else:
            _merge_header(header, h)
        blobs += [(k, r.offset, r.size) for r in refs]
    n = max(1, min(len(blobs), parallelism or spark.sparkContext.defaultParallelism))
    bins = sorted(_lpt(blobs, lambda b: b[2], n), key=lambda b: -b[0])
    tasks = [sorted(members) for _, members in bins]
    entities = spark.range(0, n, 1, n).mapInArrow(
        _decode_tasks_factory(paths, tasks), ENTITY_SPARK_SCHEMA
    )
    entities._pbf_decode = (paths, tasks)
    return entities, header


def _decoded(entities: DataFrame) -> tuple | None:
    """The ``(paths, tasks)`` record of a frame ``read_pbf`` returned,
    else None. Read from the instance dict: a DataFrame's
    ``__getattr__`` resolves unknown names as columns."""
    return vars(entities).get("_pbf_decode")


def nodes(entities: DataFrame) -> DataFrame:
    out = entities.filter(F.col("kind") == "node").drop("refs", "members")
    out._pbf_nodes_of = _decoded(entities)
    return out


def ways(entities: DataFrame) -> DataFrame:
    out = entities.filter(F.col("kind") == "way").drop("lat", "lon", "members")
    out._pbf_ways_of = _decoded(entities)
    return out


def relations(entities: DataFrame) -> DataFrame:
    return entities.filter(F.col("kind") == "relation").drop("lat", "lon", "refs")


def _regroup_ways(joined: DataFrame) -> DataFrame:
    """(_wp, lat, lon) vertex rows -> one (way_id, points, is_closed)
    row per way, points in ref order.

    The packed ``_wp`` rides through the way_id exchange (way_id/pos
    recovered only where consumed: the partitioning expression, and
    the sort key — since ``_wp = way_id << 24 | pos``, sorting the
    collected (_wp, lat, lon) structs orders by pos within a way). The
    rows are repartitioned on way_id BEFORE the aggregate, so the
    exchange carries raw scalar rows and the collect_list runs
    exchange-free on way-contiguous partitions: Catalyst inserts no
    second exchange, and partial agg sees whole ways. A direct groupBy
    after a ref-partitioned exchange instead runs partial agg over
    SCATTERED vertices, ~1 vertex per partial row wrapped in array
    headers: 924 MB (packed arrays) / 865 MB (struct arrays) vs 449 MB
    raw shuffle for this plan on a 10M-vertex corpus, and 2x the warm
    wall (BENCH/assembly_shuffle_r3b.json). Carrying ``_wp`` instead of
    (way_id, pos) is a further -20% raw shuffle bytes
    (BENCH/assembly_shuffle_r4.json).
    """
    way_of = F.shiftrightunsigned("_wp", 24)
    geom = (
        joined.repartition(way_of)
        .groupBy(way_of.alias("way_id"))
        .agg(F.sort_array(F.collect_list(F.struct("_wp", "lat", "lon"))).alias("_p"))
    )
    return geom.select(
        "way_id",
        F.transform(
            "_p", lambda p: F.struct(p["lat"].alias("lat"), p["lon"].alias("lon"))
        ).alias("points"),
        (
            (F.element_at("_p", 1)["lat"] == F.element_at("_p", -1)["lat"])
            & (F.element_at("_p", 1)["lon"] == F.element_at("_p", -1)["lon"])
        ).alias("is_closed"),
    )


def _one_decode_vertices(spark: SparkSession, paths: list[str], tasks: list) -> DataFrame:
    """The (_wp, lat, lon) vertex rows of every way in ``paths``, from
    ONE slim decode over ``read_pbf``'s task bins and ONE exchange on
    node id.

    Each ref row takes the coordinates of every node row with its key:
    a window over the key collects the node coordinates and each ref
    row explodes that list. This is the inner join's result exactly: a
    ref with no node explodes an empty list and is dropped, and a node
    id decoded k times (overlapping extracts) gives k vertices. A join
    of the stream's node rows with its ref rows would plan the decode
    leaf twice again; a ``groupBy(key)`` of both lists, exploded, gives
    the same rows but measured no faster than the window.
    """
    from pyspark.sql import Window

    slim = spark.range(0, len(tasks), 1, len(tasks)).mapInArrow(
        _decode_tasks_factory(paths, tasks, _slim_batches),
        "key long, _wp long, lat double, lon double",
    )
    node_coords = F.collect_list(
        F.when(F.col("_wp").isNull(), F.struct("lat", "lon"))
    ).over(Window.partitionBy("key"))
    return (
        slim.select("_wp", node_coords.alias("_n"))
        .where(F.col("_wp").isNotNull())
        .select("_wp", F.explode("_n").alias("_c"))
        .select("_wp", "_c.lat", "_c.lon")
    )


def assemble_way_geometries(ways_df: DataFrame, nodes_df: DataFrame) -> DataFrame:
    """Way geometry assembly (SURVEY.md §2.3 G8): refs -> ordered coords.

    The reference resolves refs against an in-memory node hash; the
    distributed equivalent resolves each (way, pos, ref) against the
    node rows by node id (the largest shuffle of the decode pipeline),
    then regroups by way (``_regroup_ways``). Emits ``is_closed``
    (first coord == last coord) marking polygons.

    Two routes, one result:

    - ONE DECODE: when the inputs are the unmodified ``ways(ents)`` and
      ``nodes(ents)`` of one ``read_pbf`` frame, and neither of these
      two frames is ``.cache()``d, the file is decoded once (a cached
      ``ents`` does not stop this route), by a slim kernel that
      emits only node ids with coordinates and packed ref rows
      (``_slim_batches``), and one exchange on node id fills each ref
      with its node's coordinates (``_one_decode_vertices``). Joining
      ``ways(ents)`` with ``nodes(ents)`` instead plans two decode
      leaves, which Spark does not reuse, each shipping the full entity
      schema into the JVM. On a 48k-node / 4.8k-way corpus at local[4]
      (perfbench ``pbf_ingest``, 10 paired runs) the assemble op's
      median fell from 1535 to 1125 ms, and it runs 4 jobs / 7 tasks
      instead of 5 / 11.
    - GENERIC: any other input (derived or selected frames,
      createDataFrame frames, relation members, cached frames) runs
      posexplode + an equi-join on node id with the node side hinted
      ``shuffle_hash``. It stays because such frames carry no file to
      decode again, and a cached frame's cache is cheaper to read than
      the file.

    Join strategy (r3): the node side carries a ``shuffle_hash`` hint,
    for two reasons. (1) SAFETY: decode-derived DataFrames have no
    usable size statistics — Catalyst estimates them from the
    ``spark.range`` of decode-task indexes they grow out of (tens of
    bytes), so without the hint ``explain`` shows a BROADCAST hash join
    of a decoded side. That "works" on a large single box, but at
    planet scale it is a driver OOM, and a plan that silently flips
    from working to fatal at 100x is the wrong default. (2) SPEED among
    the shuffled strategies: node ids are UNIQUE (no build-side skew)
    and the build rows are slim, so the per-partition hash map skips
    sorting both ~300M-row sides that sort-merge pays for. Build memory
    is bounded by ``spark.sql.shuffle.partitions``: size it so each
    build partition holds ~100-200 MB of slim node rows, exactly how a
    production cluster sizes any large hash join.

    Probe-side packing (late r3): the exploded ref stream shuffles
    ``(way_id << 24 | pos, ref)`` — two longs (24 B UnsafeRow) instead
    of three (32 B; measured 367 -> 286 MB raw on the 10M-vertex
    corpus). Way ids below 2^39 keep the packed long positive (OSM ids
    are ~2^31; validated per row on both routes, loud failure
    otherwise); way_id/pos are recovered by bit ops in the regroup.
    """
    rec = vars(ways_df).get("_pbf_ways_of")
    if (
        rec is not None
        and rec is vars(nodes_df).get("_pbf_nodes_of")
        and not ways_df.is_cached
        and not nodes_df.is_cached
    ):
        return _regroup_ways(_one_decode_vertices(ways_df.sparkSession, *rec))
    wp_ok = (
        (F.col("way_id") >= 0)
        & (F.col("way_id") < F.lit(1 << 39))
        & (F.col("pos") < F.lit(1 << 24))
    )
    wp = F.when(
        wp_ok, F.shiftleft(F.col("way_id"), 24).bitwiseOR(F.col("pos").cast("long"))
    ).otherwise(
        F.raise_error(
            F.concat(
                F.lit(_NOT_PACKABLE),
                F.col("way_id").cast("string"),
                F.lit(" pos="),
                F.col("pos").cast("string"),
            )
        )
    )
    exploded = ways_df.select(
        F.col("id").alias("way_id"),
        F.posexplode("refs").alias("pos", "ref"),
    ).select(wp.alias("_wp"), "ref")
    joined = exploded.join(
        nodes_df.select(F.col("id").alias("ref"), "lat", "lon").hint("shuffle_hash"),
        on="ref", how="inner",
    ).select("_wp", "lat", "lon")
    return _regroup_ways(joined)
