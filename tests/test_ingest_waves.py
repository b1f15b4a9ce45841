"""Wave ingest (sorted layout): consecutive pending splits run as ONE
shuffle-free Spark job per wave, with at most one task per core and one
data file per size-balanced bin, while manifests still commit split by
split."""

from __future__ import annotations

import json
import os
from types import SimpleNamespace

import pytest

from osm_pbf_spark.pbf.framing import scan_blobs
from osm_pbf_spark.plans.ingest import _plan_tasks, _plan_waves, ingest_pbf, read_documents
from osm_pbf_spark.sink.iceberg_like import IcebergLikeSink
from tests import pbf_fixtures


def _rows(spark, root):
    return sorted(
        (r["doc_id"], r["cell"], str(r["spans"]))
        for r in read_documents(spark, root).collect()
    )


def _ingest_jobs(spark, group, **kw):
    """Run ingest_pbf under a job group; return the group's Spark jobs."""
    sc = spark.sparkContext
    sc.setJobGroup(group, "ingest wave test")
    try:
        ingest_pbf(spark, **kw)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return [sc.statusTracker().getJobInfo(j) for j in sc.statusTracker().getJobIdsForGroup(group)]


@pytest.mark.parametrize("bps", [1, 2])
def test_one_shuffle_free_job_per_wave(spark, fixtures_dir, tmp_path, bps):
    pbf = f"{fixtures_dir}/multiblob.osm.pbf"
    jobs = _ingest_jobs(
        spark, f"wave-{bps}", pbf_path=pbf, table_root=str(tmp_path / "t"), blobs_per_split=bps
    )
    assert len(jobs) == 1
    # a single stage: no repartition shuffle in front of the kernel
    assert len(jobs[0].stageIds) == 1
    assert IcebergLikeSink(str(tmp_path / "t")).completed_splits() == {
        f"{i:06d}" for i in range(0, 4, bps)
    }


def test_rows_match_single_split_ingest(spark, fixtures_dir, tmp_path):
    pbf = f"{fixtures_dir}/multiblob.osm.pbf"
    ingest_pbf(spark, pbf, str(tmp_path / "one"), blobs_per_split=1_000_000)
    ingest_pbf(spark, pbf, str(tmp_path / "many"), blobs_per_split=1)
    assert _rows(spark, str(tmp_path / "many")) == _rows(spark, str(tmp_path / "one"))


def test_mid_wave_failure_then_resume(spark, fixtures_dir, tmp_path):
    pbf = f"{fixtures_dir}/multiblob.osm.pbf"
    ref = str(tmp_path / "ref")
    ingest_pbf(spark, pbf, ref, blobs_per_split=1)

    root = str(tmp_path / "killed")
    with pytest.raises(RuntimeError, match="injected failure"):
        ingest_pbf(spark, pbf, root, blobs_per_split=1, fail_before_split="000001")
    # the whole wave ran, but commits stop at the failing split
    assert IcebergLikeSink(root).completed_splits() == {"000000"}
    ingest_pbf(spark, pbf, root, blobs_per_split=1)
    assert _rows(spark, root) == _rows(spark, ref)
    raw = IcebergLikeSink(root).read(spark)
    assert raw.count() == raw.select("doc_id").distinct().count()


def test_kill_loses_at_most_one_wave(spark, tmp_path):
    # local[4]: a wave closes at 16 blobs, so 20 one-blob splits make
    # two waves (two jobs)
    pbf = pbf_fixtures.build_multiblob(str(tmp_path), blobs=20, nodes_per_blob=5)
    jobs = _ingest_jobs(
        spark, "two-waves", pbf_path=pbf, table_root=str(tmp_path / "ref"), blobs_per_split=1
    )
    assert len(jobs) == 2 and all(len(j.stageIds) == 1 for j in jobs)

    root = str(tmp_path / "killed")
    with pytest.raises(RuntimeError, match="injected failure"):
        ingest_pbf(spark, pbf, root, blobs_per_split=1, fail_before_split="000017")
    # the first wave is fully committed; the second stops at 000017
    assert IcebergLikeSink(root).completed_splits() == {f"{i:06d}" for i in range(17)}
    jobs = _ingest_jobs(spark, "resume", pbf_path=pbf, table_root=root, blobs_per_split=1)
    assert len(jobs) == 1
    assert _rows(spark, root) == _rows(spark, str(tmp_path / "ref"))


def test_split_lineage_and_files_are_its_own(spark, fixtures_dir, tmp_path):
    pbf = f"{fixtures_dir}/multiblob.osm.pbf"
    root = str(tmp_path / "lin")
    ingest_pbf(spark, pbf, root, blobs_per_split=2)
    data = [r for r in scan_blobs(pbf) if r.blob_type == "OSMData"]
    for i in range(0, len(data), 2):
        sid, own = f"{i:06d}", data[i : i + 2]
        m = json.load(open(os.path.join(root, "_manifests", f"split-{sid}.json")))
        assert m["lineage"]["blob_seqs"] == [r.seq for r in own]
        assert m["lineage"]["byte_range"] == [own[0].offset, own[-1].offset + own[-1].size]
        assert m["files"]
        assert all(f.startswith(os.path.join("data", f"split={sid}") + os.sep) for f in m["files"])
        on_disk = {
            os.path.join("data", f"split={sid}", f)
            for f in os.listdir(os.path.join(root, "data", f"split={sid}"))
        }
        assert on_disk == set(m["files"])


def _ref(seq, size):
    return SimpleNamespace(seq=seq, offset=100 * seq, size=size)


def test_plan_waves_close_at_blob_cap():
    splits = [(f"{i:06d}", [_ref(i, 1)] * n) for i, n in enumerate([3, 2, 4, 1, 1])]
    waves = _plan_waves(splits, 5)
    assert [[sid for sid, _ in w] for w in waves] == [
        ["000000", "000001"], ["000002", "000003"], ["000004"]
    ]


def test_plan_tasks_balance_bytes_within_splits():
    big = ("000000", [_ref(i, s) for i, s in enumerate([50, 40, 30, 20, 10, 10])])
    small = ("000001", [_ref(9, 5), _ref(10, 5)])
    tasks = _plan_tasks([big, small], 4)
    bins = [b for task in tasks for b in task]
    # every blob lands in exactly one bin of its own split
    assert sorted(r.seq for _, refs in bins for r in refs) == [0, 1, 2, 3, 4, 5, 9, 10]
    assert all(
        {r.seq for r in refs} <= {r.seq for r in dict([big, small])[sid]} for sid, refs in bins
    )
    # 160 of 170 bytes -> round(4 * 160/170) = 4 bins for the big split,
    # at least one for the small one; largest-first into the lightest bin
    loads = sorted(sum(r.size for r in refs) for sid, refs in bins if sid == "000000")
    assert loads == [30, 40, 40, 50]
    assert [sid for sid, _ in bins].count("000001") == 1
    # five bins, four tasks: the small bin joins the lightest task;
    # heaviest task first, blobs in file order inside a bin
    task_loads = [sum(r.size for _, refs in t for r in refs) for t in tasks]
    assert task_loads == [50, 40, 40, 40]
    assert all([r.offset for r in refs] == sorted(r.offset for r in refs) for _, refs in bins)


def test_plan_tasks_many_small_splits_one_task_per_core():
    wave = [(f"{i:06d}", [_ref(i, 10 + i)]) for i in range(9)]
    tasks = _plan_tasks(wave, 4)
    assert len(tasks) == 4
    assert sorted(sid for t in tasks for sid, _ in t) == [sid for sid, _ in wave]
    loads = [sum(r.size for _, refs in t for r in refs) for t in tasks]
    assert loads == sorted(loads, reverse=True) and loads[0] - loads[-1] <= 18
