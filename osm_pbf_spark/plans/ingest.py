"""The flagship ingest pipeline (SURVEY.md §3.2 entry point 1 + §7 M1):

PBF file -> distributed decode -> interleaved-span documents -> cell id
-> Iceberg-shaped table, committed split-by-split so a killed run
resumes from the last committed split (BASELINE.json:6,14).

Splits are contiguous BLOB RANGES of the input file: lineage for each
split records exactly which byte ranges produced it (C3). At planet
scale a split is O(hundreds) of blobs; here fixtures use small splits
to exercise the protocol. The ingest runs consecutive splits in WAVES,
one Spark job each, so the split size sets the commit (and resume)
granularity, not the task count.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import from_arrow_schema

from ..sink.iceberg_like import IcebergLikeSink
from ..sources.pbf_source import (
    FILE_REPORT_SPARK_SCHEMA,
    _decode_render_write_bins_factory,
    _ingest_arrow_schema,
    _lpt,
    _scan_one,
)


def _file_sha256(path: str, max_bytes: int = 1 << 24) -> str:
    h = hashlib.sha256()
    with open(path, "rb") as f:
        while chunk := f.read(1 << 20):
            h.update(chunk)
            if f.tell() >= max_bytes:
                h.update(b"<truncated>")
                break
    return h.hexdigest()


def _plan_waves(splits: list, wave_blobs: int) -> list[list]:
    """Group consecutive splits into waves; a wave closes once it holds
    at least ``wave_blobs`` blobs."""
    waves, cur, n = [], [], 0
    for split in splits:
        cur.append(split)
        n += len(split[1])
        if n >= wave_blobs:
            waves.append(cur)
            cur, n = [], 0
    if cur:
        waves.append(cur)
    return waves


def _plan_tasks(wave: list, n_tasks: int) -> list[list[tuple]]:
    """Bin a wave's blobs by compressed size and group the bins into at
    most ``n_tasks`` tasks.

    Each split gets bins in proportion to its bytes (at least one, at
    most one per blob) and never shares a bin with another split; its
    blobs go largest first into the lightest bin, and each bin becomes
    one data file. Bins then go largest first into the lightest task,
    so a wave of many small splits still runs one task per core.
    Returns tasks heaviest first, each a list of ``(split_id, refs)``
    bins with refs in file order."""
    total = sum(r.size for _, refs in wave for r in refs) or 1
    bins = []
    for sid, refs in wave:
        k = min(len(refs), max(1, round(n_tasks * sum(r.size for r in refs) / total)))
        bins += [
            (load, (sid, sorted(members, key=lambda r: r.offset)))
            for load, members in _lpt(refs, lambda r: r.size, k)
        ]
    tasks = _lpt(bins, lambda b: b[0], min(len(bins), n_tasks))
    tasks.sort(key=lambda t: -t[0])
    return [[b for _, b in members] for _, members in tasks]


def ingest_pbf(
    spark: SparkSession,
    pbf_path: str,
    table_root: str,
    cell_level: int = 12,
    blobs_per_split: int = 2,
    fail_before_split: str | None = None,
) -> IcebergLikeSink:
    """Run (or RESUME) the ingest. Returns the sink for reading.

    The file's data blobs form splits of ``blobs_per_split``
    consecutive blobs; each split commits its own manifest, so a killed
    run resumes at the first uncommitted split. ``fail_before_split``
    injects a crash before that split's manifest commit — used by the
    kill/resume test.

    Consecutive pending splits are grouped into WAVES of at least
    4 x defaultParallelism blobs, and each wave is ONE Spark job with
    NO shuffle. The driver bins every split's blobs by compressed size
    (a bin never crosses a split; a wave gets ~defaultParallelism bins,
    or one per split if it has more splits than that) and groups the
    bins by size into at most defaultParallelism tasks. For each bin a
    task decodes, renders, cells, sorts the docs by cell in Arrow and
    writes one parquet file into the split's data directory. After the
    job the driver commits the wave's splits in split order, so a kill
    loses at most one wave of work and the task count comes from blob
    bytes and cores, not from ``blobs_per_split``. Pruning comes from
    tight per-file/row-group [cell_min, cell_max] metrics recorded in
    the manifest (Iceberg-style). At 60M docs a partitionBy shuffle of
    nested span rows cost ~12x the parquet write itself — this layout
    has none.
    """
    header, data_refs = _scan_one(pbf_path)
    splits = [
        (f"{i:06d}", data_refs[i : i + blobs_per_split])
        for i in range(0, len(data_refs), blobs_per_split)
    ]
    sink = IcebergLikeSink(table_root, stats_col="cell")
    file_sha = _file_sha256(pbf_path)
    todo = set(sink.resume_plan([sid for sid, _ in splits]))
    pending = [(sid, split_refs) for sid, split_refs in splits if sid in todo]
    # lineage for each split records exactly which byte ranges produced it
    lineage = {
        sid: {
            "input_file": os.path.abspath(pbf_path),
            "input_sha256": file_sha,
            "blob_seqs": [r.seq for r in split_refs],
            "byte_range": [split_refs[0].offset, split_refs[-1].offset + split_refs[-1].size],
            "cell_level": cell_level,
            "header_required_features": header["required_features"],
        }
        for sid, split_refs in pending
    }
    par = spark.sparkContext.defaultParallelism
    for wave in _plan_waves(pending, 4 * par):
        _ingest_wave(
            spark, sink, pbf_path, table_root, wave, cell_level, par, lineage,
            fail_before_split,
        )
    sink.commit_snapshot({"pipeline": "ingest_pbf", "cell_level": str(cell_level)})
    return sink


def _ingest_wave(
    spark: SparkSession,
    sink: IcebergLikeSink,
    pbf_path: str,
    table_root: str,
    wave: list,
    cell_level: int,
    n_tasks: int,
    lineage: dict,
    fail_before_split: str | None,
) -> None:
    """One wave of the ingest: ONE shuffle-free Spark job, then
    the driver commits the wave's splits in split order."""
    for sid, _ in wave:
        # the split is NOT committed (it is pending), so nothing under
        # its data dir is visible to readers — wipe orphans from failed
        # attempts before re-running, keeping the "a resumed split
        # overwrites its data dir before committing" invariant true and
        # disk usage bounded
        data_dir = os.path.join(table_root, "data", f"split={sid}")
        shutil.rmtree(data_dir, ignore_errors=True)
        os.makedirs(data_dir, exist_ok=True)
    tasks = [
        [(sid, pbf_path, [r.offset for r in refs], [r.size for r in refs]) for sid, refs in task]
        for task in _plan_tasks(wave, n_tasks)
    ]
    # the task list ships with the kernel; a JVM range of task indexes
    # with one partition per task needs no repartition shuffle and no
    # Python row conversion in front of the kernel. Each Python task
    # has a fixed start-up cost, so a wave runs at most one task per
    # core. Workers write their cell-sorted files DIRECTLY with pyarrow
    # and return one file-report row per bin; the span rows never
    # become JVM rows at all. Visibility comes from the manifest
    # commit, not from the write. (On a cluster, table_root is shared
    # storage — pyarrow writes via fsspec.)
    t0 = time.monotonic()
    reports = spark.range(0, len(tasks), 1, len(tasks)).mapInArrow(
        _decode_render_write_bins_factory(cell_level, table_root, tasks),
        FILE_REPORT_SPARK_SCHEMA,
    ).collect()
    wall_s = time.monotonic() - t0
    # the manifests carry the files' schema, so a read opens no footer
    schema = json.loads(from_arrow_schema(_ingest_arrow_schema()).json())
    by_split: dict[str, list[dict]] = {sid: [] for sid, _ in wave}
    for r in reports:
        by_split[r["split_id"]].append(r.asDict())
    for sid, _ in wave:
        sink.commit_reported_split(
            sid,
            by_split[sid],
            lineage=lineage[sid],
            fail_before_commit=(sid == fail_before_split),
            wall_s=wall_s,  # the wave's job time, shared by its splits
            schema=schema,
        )


def read_documents(
    spark: SparkSession, table_root: str, dedup_guard: bool = False
) -> DataFrame:
    """Read the committed table.

    The manifest protocol already guarantees exactly-once visibility
    (readers see only committed files; a resumed split overwrites its
    data dir before committing), so the default read has NO dedup
    shuffle — tests/test_sink_resume.py asserts uniqueness holds
    through kill/resume without it. ``dedup_guard=True`` adds a
    ``dropDuplicates(doc_id)`` belt-and-braces pass for at-least-once
    upstreams.
    """
    return IcebergLikeSink(table_root).read(
        spark, dedup_cols=["doc_id"] if dedup_guard else None
    )
