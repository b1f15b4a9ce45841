"""Distributed decode vs pure-Python oracle over the golden fixtures."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from osm_pbf_spark.sources import pbf_source as src
from tests import oracle_pbf


def _spark_decode(spark, path):
    entities, header = src.read_pbf(spark, path)
    return entities.cache(), header


def test_multiblob_distributed_decode(spark, fixtures_dir):
    path = f"{fixtures_dir}/multiblob.osm.pbf"
    entities, header = _spark_decode(spark, path)
    want = oracle_pbf.decode_file(path)

    got_nodes = {
        r["id"]: r
        for r in src.nodes(entities).collect()
    }
    assert len(got_nodes) == len(want["nodes"])
    for w in want["nodes"]:
        g = got_nodes[w["id"]]
        assert g["lat"] == w["lat"] and g["lon"] == w["lon"]
        assert (dict(g["tags"]) if g["tags"] else {}) == w["tags"]


def test_mixed_all_kinds(spark, fixtures_dir):
    path = f"{fixtures_dir}/mixed.osm.pbf"
    entities, _ = _spark_decode(spark, path)
    want = oracle_pbf.decode_file(path)

    assert src.nodes(entities).count() == len(want["nodes"])
    got_ways = {r["id"]: r for r in src.ways(entities).collect()}
    for w in want["ways"]:
        assert list(got_ways[w["id"]]["refs"]) == w["refs"]
    got_rels = {r["id"]: r for r in src.relations(entities).collect()}
    for w in want["relations"]:
        members = [
            {"role": m["role"], "ref": m["ref"], "type": m["type"]}
            for m in got_rels[w["id"]]["members"]
        ]
        assert members == w["members"]


def test_header_validation(spark, fixtures_dir):
    _, header = src.read_pbf(spark, f"{fixtures_dir}/minimal.osm.pbf")
    assert header["required_features"] == ["OsmSchema-V0.6", "DenseNodes"]
    assert header["bbox"]["left"] == 13.0


def test_way_geometry_assembly(spark, fixtures_dir):
    path = f"{fixtures_dir}/mixed.osm.pbf"
    entities, _ = _spark_decode(spark, path)
    geoms = {
        r["way_id"]: r
        for r in src.assemble_way_geometries(src.ways(entities), src.nodes(entities)).collect()
    }
    want = oracle_pbf.decode_file(path)
    node_by_id = {n["id"]: n for n in want["nodes"]}
    for w in want["ways"]:
        g = geoms[w["id"]]
        assert [(p["lat"], p["lon"]) for p in g["points"]] == [
            (node_by_id[r]["lat"], node_by_id[r]["lon"]) for r in w["refs"]
        ]
    assert geoms[501]["is_closed"] is False
    assert geoms[502]["is_closed"] is True


def _job_stage_tasks(spark, group, fn):
    """Run ``fn`` under a job group -> [[tasks per stage] per job]."""
    sc = spark.sparkContext
    sc.setJobGroup(group, "read_pbf test")
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    st = sc.statusTracker()
    return [
        [st.getStageInfo(s).numTasks for s in st.getJobInfo(j).stageIds]
        for j in st.getJobIdsForGroup(group)
    ]


def _header_only_pbf(path, **header):
    from osm_pbf_spark.pbf import encoder as E

    E.write_pbf(str(path), [], header_block=E.encode_header_block(**header))
    return str(path)


def _reference_merge(headers):
    """The multi-file header merge: feature lists unioned in first-seen
    order, bbox the envelope union."""
    merged = {"required_features": [], "optional_features": [], "bbox": None}
    for h in headers:
        for key in ("required_features", "optional_features"):
            merged[key] += [f for f in h[key] if f not in merged[key]]
        bb, mb = h["bbox"], merged["bbox"]
        if bb is not None:
            merged["bbox"] = dict(bb) if mb is None else {
                "left": min(mb["left"], bb["left"]),
                "right": max(mb["right"], bb["right"]),
                "bottom": min(mb["bottom"], bb["bottom"]),
                "top": max(mb["top"], bb["top"]),
            }
    return merged


def test_decode_is_distributed(spark, fixtures_dir):
    """The decode is ONE shuffle-free stage: the executed plan has a
    ``Range`` leaf and no ``Exchange``, and a full scan runs one job
    with one stage of ``parallelism`` tasks — for one file and for a
    list of files alike."""
    one = f"{fixtures_dir}/multiblob.osm.pbf"
    for i, path in enumerate([one, [one, f"{fixtures_dir}/mixed.osm.pbf"]]):
        entities, _ = src.read_pbf(spark, path, parallelism=4)
        plan = entities._jdf.queryExecution().executedPlan().toString()
        assert "Range" in plan and "Exchange" not in plan
        # a noop write scans every row without adding an aggregate
        # exchange the way DataFrame.count() would
        scan = lambda: entities.write.format("noop").mode("overwrite").save()  # noqa: E731
        assert _job_stage_tasks(spark, f"read-{i}", scan) == [[4]]
    # never more tasks than blobs (multiblob has 4)
    assert src.read_pbf(spark, one, parallelism=2)[0].rdd.getNumPartitions() == 2
    assert src.read_pbf(spark, one, parallelism=64)[0].rdd.getNumPartitions() == 4


def test_list_header_is_the_merge(spark, fixtures_dir, tmp_path):
    """A list read merges the headers; a one-file list returns exactly
    the single-path header."""
    from osm_pbf_spark.pbf.decode import decode_header_block
    from osm_pbf_spark.pbf.framing import read_blob_payload, scan_blobs

    paths = [
        f"{fixtures_dir}/minimal.osm.pbf",
        f"{fixtures_dir}/multiblob.osm.pbf",
        _header_only_pbf(
            tmp_path / "east.osm.pbf",
            bbox_nanodeg=(150_000_000_000, 170_000_000_000, 60_000_000_000, 0),
            optional_features=("Sort.Type_then_ID",),
        ),
    ]
    headers = []
    for p in paths:
        r = next(r for r in scan_blobs(p) if r.blob_type == "OSMHeader")
        headers.append(decode_header_block(read_blob_payload(p, r.offset, r.size)))

    _, merged = src.read_pbf(spark, paths)
    ref = _reference_merge(headers)
    assert {k: merged[k] for k in ref} == ref
    assert merged["bbox"] == pytest.approx(
        {"left": 13.0, "right": 170.0, "bottom": -34.0, "top": 60.0}
    )
    assert merged["optional_features"] == ["Sort.Type_then_ID"]
    for p, h in zip(paths, headers):
        assert src.read_pbf(spark, p)[1] == h
        assert src.read_pbf(spark, [p])[1] == h


def test_header_only_pbf(spark, tmp_path):
    """A file with no OSMData blobs reads as an empty entity frame plus
    its header, as a path and as a list."""
    path = _header_only_pbf(
        tmp_path / "empty.osm.pbf",
        bbox_nanodeg=(-1_000_000_000, 2_000_000_000, 3_000_000_000, -4_000_000_000),
    )
    want = {
        "required_features": ["OsmSchema-V0.6", "DenseNodes"],
        "optional_features": [],
        "bbox": {"left": -1.0, "right": 2.0, "top": 3.0, "bottom": -4.0},
        "writingprogram": "osm_pbf_spark-fixtures",
    }
    for arg in (path, [path]):
        entities, header = src.read_pbf(spark, arg)
        assert header == want
        assert entities.schema == src.ENTITY_SPARK_SCHEMA
        assert entities.collect() == []


def test_pack_vertex_out_of_range_raises(spark):
    """The probe-side (way_id << 24 | pos) pack must fail LOUDLY for a
    way id its 39-bit field cannot hold — a smeared pack would join and
    regroup under a silently wrong way id. Coordinates themselves pass
    through the assembly untouched (the regroup shuffles raw scalar
    rows), so out-of-range coords are NOT an error here — same
    tolerance the struct path always had."""
    from pyspark.errors.exceptions.captured import SparkRuntimeException

    from osm_pbf_spark.sources.pbf_source import assemble_way_geometries

    nodes = spark.createDataFrame(
        [(10, 0.0, -500.0), (11, 95.0, 1.0)], "id long, lat double, lon double"
    )
    ways_bad = spark.createDataFrame(
        [(1 << 39, [10, 11])], "id long, refs array<long>"
    )
    with pytest.raises(SparkRuntimeException, match="not packable"):
        assemble_way_geometries(ways_bad, nodes).collect()

    # wildly out-of-range coords flow through bit-exact, geometry intact
    ways = spark.createDataFrame([(1, [10, 11])], "id long, refs array<long>")
    ok = assemble_way_geometries(ways, nodes).collect()
    assert len(ok) == 1 and len(ok[0]["points"]) == 2
    assert ok[0]["points"][0]["lon"] == -500.0
    assert ok[0]["points"][1]["lat"] == 95.0


def _build_ways_multiblob(dirpath, way_ids=(700, 701, 702, 703)):
    """Three blobs: nodes 1..40 over the first two, ways in the last two
    whose refs cross blobs; way ``way_ids[2]`` has a ref (999) with no
    node, way ``way_ids[3]`` is closed."""
    import os

    from osm_pbf_spark.pbf import encoder as E
    from tests.pbf_fixtures import nd

    w0, w1, w2, w3 = way_ids
    blocks = []
    for lo, hi, ways in (
        (1, 21, []),
        (21, 41, [{"id": w0, "refs": [3, 25, 4, 33], "tags": {}}]),
        (41, 41, [
            {"id": w1, "refs": [40, 1], "tags": {"highway": "x"}},
            {"id": w2, "refs": [5, 999, 6], "tags": {}},
            {"id": w3, "refs": [10, 30, 20, 10], "tags": {"building": "yes"}},
        ]),
    ):
        st = E.StringTable()
        groups = []
        if hi > lo:
            groups.append(E.encode_dense_nodes(
                [{"id": i, "lat_raw": nd(45.0 + 0.01 * i), "lon_raw": nd(7.0 - 0.02 * i),
                  "tags": {}} for i in range(lo, hi)], st))
        if ways:
            groups.append(b"".join(E.encode_way(w, st) for w in ways))
        blocks.append(E.encode_primitive_block(groups, st))
    path = os.path.join(dirpath, f"ways_multiblob_{w0}.osm.pbf")
    E.write_pbf(path, blocks)
    return path


def _decode_leaves(df) -> int:
    return df._jdf.queryExecution().executedPlan().toString().count("MapInArrow")


@pytest.mark.parametrize("fixture,copies", [
    ("multiblob", 1),
    ("ways_multiblob", 1),
    ("ways_multiblob", 2),
])
def test_one_decode_assembly_equals_generic_join(spark, fixtures_dir, tmp_path,
                                                 fixture, copies):
    """The one-decode route of ``assemble_way_geometries`` returns the
    generic join's rows exactly: a ref with no node is dropped, and a
    file listed twice (every node and way decoded twice) gives the
    join's multiplicities."""
    if fixture == "multiblob":
        path = f"{fixtures_dir}/multiblob.osm.pbf"
    else:
        path = _build_ways_multiblob(str(tmp_path))
    entities, _ = src.read_pbf(spark, [path] * copies, parallelism=2)
    one = src.assemble_way_geometries(src.ways(entities), src.nodes(entities))
    generic = src.assemble_way_geometries(
        src.ways(entities).select("*"), src.nodes(entities).select("*")
    )
    assert _decode_leaves(one) == 1 and _decode_leaves(generic) == 2

    def rows(df):
        return sorted(
            (r["way_id"], [tuple(p) for p in r["points"]], r["is_closed"])
            for r in df.collect()
        )

    got = rows(one)
    assert got == rows(generic)
    if fixture == "ways_multiblob":
        assert [w for w, _, _ in got] == [700, 701, 702, 703]
        pts = {w: p for w, p, _ in got}
        # refs [5, 999, 6]: the missing node drops one vertex only
        assert len(pts[702]) == 2 * copies * copies
        assert len(pts[700]) == 4 * copies * copies
        assert [c for _, _, c in got] == [False, False, False, True]


def test_one_decode_assembly_not_packable_raises(spark, tmp_path):
    """A way id the 39-bit field of the packed ref cannot hold fails
    loudly in the slim decode kernel, as in the generic route."""
    path = _build_ways_multiblob(str(tmp_path), way_ids=(700, 1 << 39, 702, 703))
    entities, _ = src.read_pbf(spark, path)
    geoms = src.assemble_way_geometries(src.ways(entities), src.nodes(entities))
    assert _decode_leaves(geoms) == 1
    with pytest.raises(Exception, match="not packable"):
        geoms.collect()
