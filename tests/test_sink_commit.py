"""The sink's one commit path: every metadata file is renamed into place
only after its temp file is fsynced, and its directory is fsynced after
the rename; the ingest records its files' schema, so reading an ingest
table opens no parquet footer, while manifests without a schema still
read through the footer fallback."""

from __future__ import annotations

import json
import os
import shutil
import stat

import pyarrow as pa
import pyarrow.parquet as pq

from osm_pbf_spark.plans.ingest import ingest_pbf
from osm_pbf_spark.sink.iceberg_like import IcebergLikeSink


def _record_fsync_and_replace(monkeypatch) -> list[tuple]:
    """Patch os.fsync/os.replace to log ("fsync", inode, is_dir) and
    ("replace", source inode, target dir inode, target name)."""
    events: list[tuple] = []
    real_fsync, real_replace = os.fsync, os.replace

    def fsync(fd):
        st = os.fstat(fd)
        events.append(("fsync", st.st_ino, stat.S_ISDIR(st.st_mode)))
        return real_fsync(fd)

    def replace(src, dst):
        dst_dir = os.path.dirname(os.path.abspath(dst))
        events.append(
            ("replace", os.stat(src).st_ino, os.stat(dst_dir).st_ino, os.path.basename(dst))
        )
        return real_replace(src, dst)

    monkeypatch.setattr(os, "fsync", fsync)
    monkeypatch.setattr(os, "replace", replace)
    return events


def test_every_metadata_rename_is_fsynced(tmp_path, monkeypatch):
    root = str(tmp_path / "t")
    sink = IcebergLikeSink(root)
    path = os.path.join(root, "data", "split=a", "part-0.parquet")
    os.makedirs(os.path.dirname(path))
    pq.write_table(pa.table({"cell": pa.array([1, 5], pa.int64())}), path)
    report = {"path": path, "n_rows": 2, "n_bytes": os.path.getsize(path),
              "cell_min": 1, "cell_max": 5}
    events = _record_fsync_and_replace(monkeypatch)
    sink.commit_reported_split("a", [report])
    snap = sink.commit_snapshot()
    sink.tag_snapshot("cut")
    sink.branch_snapshot("audit")

    renames = [i for i, e in enumerate(events) if e[0] == "replace"]
    assert sorted(events[i][3] for i in renames) == sorted(
        [
            "split-a.json",
            snap["manifest_list"],
            f"snap-000001-{snap['snapshot_id']}.json",
            "snapshot.json",
            "tags.json",
            "branches.json",
        ]
    )
    bounds = [-1] + renames + [len(events)]
    for k, i in enumerate(renames):
        _, src_ino, dir_ino, name = events[i]
        before = events[bounds[k] + 1 : i]
        after = events[i + 1 : bounds[k + 2]]
        assert ("fsync", src_ino, False) in before, f"{name} renamed before its fsync"
        assert ("fsync", dir_ino, True) in after, f"{name}'s directory not fsynced"
    assert not [n for _, _, fs in os.walk(root) for n in fs if ".tmp-" in n]


def test_ingest_data_files_are_fsynced_before_report(fixtures_dir, tmp_path, monkeypatch):
    """The ingest kernel fsyncs each data file and then its split
    directory before it reports the file, so no manifest can name a
    file whose bytes or directory entry a power loss could lose. Runs
    the kernel in-process over two bins of one split."""
    from osm_pbf_spark.pbf.framing import scan_blobs
    from osm_pbf_spark.sources.pbf_source import _decode_render_write_bins_factory

    pbf = f"{fixtures_dir}/multiblob.osm.pbf"
    refs = [r for r in scan_blobs(pbf) if r.blob_type == "OSMData"]
    root = str(tmp_path / "t")
    split_dir = os.path.join(root, "data", "split=s0")
    os.makedirs(split_dir)
    bins = [("s0", pbf, [r.offset for r in half], [r.size for r in half])
            for half in (refs[:2], refs[2:])]
    kernel = _decode_render_write_bins_factory(12, root, [bins])
    events = _record_fsync_and_replace(monkeypatch)
    for report in kernel(iter([pa.record_batch({"id": pa.array([0], pa.int64())})])):
        events.append(("report", report.column("path")[0].as_py()))

    dir_ino = os.stat(split_dir).st_ino
    reports = [i for i, e in enumerate(events) if e[0] == "report"]
    assert len(reports) == 2
    for k, i in enumerate(reports):
        seg = events[(reports[k - 1] + 1 if k else 0) : i]
        file_sync = seg.index(("fsync", os.stat(events[i][1]).st_ino, False))
        assert ("fsync", dir_ino, True) in seg[file_sync + 1 :]


def _commit_one_split(sink: IcebergLikeSink, split_id: str) -> dict:
    """Commit a one-file split and a snapshot; returns the snapshot."""
    path = os.path.join(sink.root, "data", f"split={split_id}", "part-0.parquet")
    os.makedirs(os.path.dirname(path))
    pq.write_table(pa.table({"cell": pa.array([1, 5], pa.int64())}), path)
    report = {"path": path, "n_rows": 2, "n_bytes": os.path.getsize(path),
              "cell_min": 1, "cell_max": 5}
    sink.commit_reported_split(split_id, [report])
    return sink.commit_snapshot()


def test_rollback_moves_are_fsynced_before_its_snapshot(tmp_path, monkeypatch):
    """rollback_to moves manifests into the _rollback attic and back;
    every directory a move touches is fsynced after the move and before
    the rollback's snapshot is written."""
    sink = IcebergLikeSink(str(tmp_path / "t"))
    first = _commit_one_split(sink, "a")
    second = _commit_one_split(sink, "b")
    manifests = os.path.join(sink.root, "_manifests")
    attic_root = os.path.join(sink.root, "_rollback")
    events = _record_fsync_and_replace(monkeypatch)

    def check(start: int, src_dirs: list[str]) -> None:
        seg = events[start:]
        moves = [i for i, e in enumerate(seg) if e[0] == "replace" and e[3] == "split-b.json"]
        snap = next(i for i, e in enumerate(seg) if e[0] == "replace" and i > moves[-1])
        synced = {e[1] for e in seg[moves[0] : snap] if e[0] == "fsync" and e[2]}
        want = {seg[i][2] for i in moves} | {os.stat(d).st_ino for d in src_dirs}
        assert len(moves) == 1 and want <= synced

    sink.rollback_to(first["snapshot_id"])  # split b moves into the attic
    assert sink.completed_splits() == {"a"}
    (attic,) = [os.path.join(attic_root, d) for d in os.listdir(attic_root)]
    check(0, [manifests, attic_root])
    n = len(events)
    sink.rollback_to(second["snapshot_id"])  # and back out of it
    assert sink.completed_splits() == {"a", "b"}
    check(n, [attic])


def _read_jobs(spark, root: str, group: str) -> tuple[list, list]:
    """(rows, Spark job ids) of building IcebergLikeSink(root).read under
    a job group; the rows are collected outside the group."""
    sc = spark.sparkContext
    sc.setJobGroup(group, "sink read build")
    try:
        df = IcebergLikeSink(root).read(spark)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    jobs = list(sc.statusTracker().getJobIdsForGroup(group))
    rows = sorted((r["doc_id"], r["cell"], str(r["spans"])) for r in df.collect())
    return rows, jobs


def test_ingest_table_read_opens_no_footer(spark, fixtures_dir, tmp_path):
    root = str(tmp_path / "t")
    sink = ingest_pbf(spark, f"{fixtures_dir}/multiblob.osm.pbf", root, blobs_per_split=1)
    schemas = [sink._read_manifest(s)["schema"] for s in sorted(sink.completed_splits())]
    assert schemas and all(s is not None for s in schemas)
    rows, jobs = _read_jobs(spark, root, "sink-read-recorded-schema")
    assert rows and jobs == []


def test_manifest_without_schema_reads_same_rows(spark, fixtures_dir, tmp_path):
    root = str(tmp_path / "t")
    ingest_pbf(spark, f"{fixtures_dir}/multiblob.osm.pbf", root, blobs_per_split=1)
    rows, _ = _read_jobs(spark, root, "sink-read-new")
    old = str(tmp_path / "old")
    shutil.copytree(root, old)
    # a table committed before the ingest recorded its schema: no schema
    # in the split's manifest, nor in the snapshot's manifest list
    mpath = os.path.join(old, "_manifests", "split-000001.json")
    with open(mpath) as f:
        m = json.load(f)
    del m["schema"]
    with open(mpath, "w") as f:
        json.dump(m, f)
    with open(os.path.join(old, "snapshot.json")) as f:
        lpath = os.path.join(old, json.load(f)["manifest_list"])
    with open(lpath) as f:
        mlist = json.load(f)
    del mlist["entries"]["000001"]["schema"]
    with open(lpath, "w") as f:
        json.dump(mlist, f)
    old_rows, jobs = _read_jobs(spark, old, "sink-read-no-schema")
    assert jobs  # the mergeSchema footer read ran
    assert old_rows == rows
