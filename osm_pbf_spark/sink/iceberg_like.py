"""Iceberg-shaped sink: snapshot/manifest protocol over parquet
(SURVEY.md §2.6 C1-C3, §7.6).

No Iceberg runtime jar exists in this environment (and no network to
fetch one — SURVEY.md §0), so the sink implements the Iceberg *shape*
itself; the writer interface is isolated so a real
iceberg-spark-runtime catalog can be swapped in without touching
callers. Replaces the reference's Postgres COPY sink (BASELINE.json:6).

Layout:

    root/
      data/split=<split_id>/[_bucket=<b>/]part-*.parquet
      _manifests/split-<split_id>.json     <- atomic per-split commit
      snapshot.json                        <- atomic table-level snapshot

Protocol (exactly-once restart semantics, BASELINE.json:6,14):

- the job is divided into named SPLITS (e.g. PBF blob ranges). A split
  commits by writing its parquet files THEN atomically renaming its
  manifest JSON into place.
- every metadata file (split manifests, the manifest list, the snapshot
  and its history copy, tags, branches) is written the same one way:
  a temp file beside the target, ``fsync`` of the file, rename over the
  target (atomic on POSIX), ``fsync`` of the directory. A crash leaves
  the old file or the new one, and a returned commit survives power
  loss. ``rollback_to`` moves existing manifests instead, and fsyncs
  every directory its moves touch before it commits the new snapshot.
- a manifest records the split's files + row/byte counts + SCHEMA
  (every writer records it, so a read opens no parquet footer) +
  LINEAGE (input description, operator config, engine version) +
  METRICS.
- readers list committed manifests and read ONLY the files they name:
  data orphaned by a crash mid-split is invisible, so a restart that
  reprocesses the split cannot double-count.
- ``resume_plan`` = all splits minus committed splits.
- a ``dedup_cols`` guard on read is available as a belt-and-braces
  layer for at-least-once upstreams.

Maintenance protocol (the 100-TB operational surface):

- a manifest may declare ``replaces: [split_id, ...]``: the named
  splits stay COMMITTED (resume never re-runs them) but stop being
  LIVE (readers skip their files). ``compact()`` uses this to rewrite
  many small files into ~target_file_bytes cell-sorted files as one
  split whose manifest rename atomically swaps the read set.
- ``commit_snapshot`` keeps an append-only history under
  ``_snapshots/`` (sequence number + parent id, Iceberg snapshot-log
  style); ``read_snapshot`` time-travels to any retained snapshot by
  reading exactly the files its manifest list froze.
- ``expire_snapshots(keep_last=n)`` drops old history entries and
  vacuums data files only they referenced (replaced splits' files);
  manifests are never deleted, so restart semantics survive vacuum.
- ``delete_keys`` / ``delete_where``: Iceberg-v2-style EQUALITY
  DELETES (merge-on-read). A delete split commits the key tuples plus
  the set of data splits it applies to; ``read``/``read_snapshot``
  anti-join those keys away from exactly those splits (appends after
  the delete are untouched), and ``compact()`` applies deletes
  physically, retiring delete splits whose scope it rewrote.
"""

from __future__ import annotations

import json
import os
import time
import uuid

from pyspark.sql import DataFrame, SparkSession

from .. import __version__

_MANIFEST_DIR = "_manifests"
_SNAP_DIR = "_snapshots"
_EQ_DELETES = "equality_deletes"
_REF_FILES = {"tag": "tags.json", "branch": "branches.json"}


def _write_json(path: str, obj, indent: int | None = 1) -> None:
    """THE metadata write: ``obj`` as JSON into a temp file beside
    ``path``, fsynced, renamed over ``path``, then the directory
    fsynced so the rename itself is durable. Readers see the old file
    or the new one, never a torn one."""
    d, name = os.path.split(path)
    tmp = os.path.join(d, f".{name}.tmp-{uuid.uuid4().hex}")
    with open(tmp, "w") as f:
        json.dump(obj, f, indent=indent, sort_keys=True)
        f.flush()
        os.fsync(f.fileno())
    os.replace(tmp, path)
    _fsync(d)


def _fsync(path: str) -> None:
    """fsync file or directory ``path``: a file's bytes, or a
    directory's entries (the renames and creates in it), are then
    durable."""
    fd = os.open(path, os.O_RDONLY)
    try:
        os.fsync(fd)
    finally:
        os.close(fd)


def _stat_jsonable(v):
    """Normalize a parquet column statistic to a JSON-storable,
    order-preserving key: ints/floats/strings pass through; timestamps
    become exact epoch MICROSECONDS (the engine-wide convention,
    operators/temporal._epoch_micros — naive values read as UTC); dates
    become midnight-UTC micros. Returns None for types we cannot order
    portably (the caller then records no stat: conservative keep)."""
    import datetime as _dt

    if isinstance(v, bool):
        return None
    if isinstance(v, (int, float, str)):
        return v
    if isinstance(v, _dt.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(_dt.timezone.utc).replace(tzinfo=None)
        td = v - _dt.datetime(1970, 1, 1)
        return (td.days * 86_400 + td.seconds) * 1_000_000 + td.microseconds
    if isinstance(v, _dt.date):
        return (v - _dt.date(1970, 1, 1)).days * 86_400_000_000
    return None


def _bloom_positions(value, n_words: int, depth: int) -> list[tuple[int, int]]:
    """(word_idx, bit_mask) pairs for one value — the pure-Python replay
    of the operators/sketch.py Bloom spec (seeded 40-bit md5 positions
    into 32-bit words). str(value) matches Spark CAST AS STRING for
    int/string columns, the supported bloom_cols types."""
    import hashlib

    m = n_words * 32
    out = []
    sv = str(value)
    for seed in range(depth):
        p = int(hashlib.md5(f"{seed}:{sv}".encode()).hexdigest()[:10], 16) % m
        out.append((p // 32, 1 << (p % 32)))
    return out


def _bloom_words_of(values, n_words: int, depth: int) -> dict[str, int]:
    """Bloom words (JSON-keyed sparse map) of a set of values."""
    words: dict[int, int] = {}
    for v in values:
        if v is None:
            continue
        for w, mask in _bloom_positions(v, n_words, depth):
            words[w] = words.get(w, 0) | mask
    return {str(w): bits for w, bits in sorted(words.items())}


def _bloom_maybe_member(words: dict[str, int], value, n_words: int, depth: int) -> bool:
    """True unless the filter PROVES the value absent (some bit unset)."""
    for w, mask in _bloom_positions(value, n_words, depth):
        if not (words.get(str(w), 0) & mask):
            return False
    return True


class IcebergLikeSink:
    def __init__(
        self,
        root: str,
        target_file_bytes: int = 16 * 1024 * 1024,
        stats_col: str | None = "cell",
        stats_cols: list[str] | None = None,
        bucket_by: tuple[str, int] | None = None,
        bloom_cols: list[str] | None = None,
        bloom_words: int = 256,
        bloom_depth: int = 3,
    ) -> None:
        self.root = root
        # HIDDEN PARTITIONING (Iceberg's bucket transform): rows are
        # laid out in ``bucket_by = (col, n)`` directories keyed by a
        # DERIVED 40-bit-md5 bucket of col — the bucket column never
        # exists in the data or the table schema. read(bucket_keys=[..])
        # recomputes the transform on the probe values driver-side and
        # prunes whole files: the point-lookup path at 100 TB (scan
        # |probes| buckets out of n, zero parquet footers opened).
        # The same deterministic hash spec as operators/sketch.py, so
        # any engine can replay the layout.
        if bucket_by is not None and (len(bucket_by) != 2 or bucket_by[1] < 1):
            raise ValueError(f"bucket_by must be (col, n>=1), got {bucket_by!r}")
        self.bucket_by = tuple(bucket_by) if bucket_by else None
        # ADDITIONAL per-file [min, max] metric columns (beyond
        # stats_col) recorded in each manifest — with a Z-order
        # compaction layout (compact(zorder=...)), multi-column
        # manifest stats make MULTI-dimensional file pruning real:
        # read(stats_ranges={...}) skips files on every recorded
        # column without opening a single parquet footer.
        self.stats_cols = stats_cols or []
        # MANIFEST-LEVEL BLOOM FILTERS: per file, record a small Bloom
        # filter (operators/sketch.py hash spec: seeded 40-bit md5
        # positions into 32-bit words) of each ``bloom_cols`` column's
        # DISTINCT values. read(bloom_keys={col: [v, ...]}) then prunes
        # whole files on POINT lookups over columns the physical layout
        # was NOT organized by — min/max ranges are useless for a
        # needle-in-a-100-TB-haystack id, bucket_by only covers the one
        # layout column; the bloom covers any recorded column with zero
        # parquet footers opened. int/string columns only (the hash
        # feeds str(value), which must match Spark's CAST AS STRING).
        if bloom_words < 1 or bloom_depth < 1:
            raise ValueError(
                f"bloom_words/bloom_depth must be >= 1, got {bloom_words}/{bloom_depth}"
            )
        self.bloom_cols = bloom_cols or []
        self.bloom_words = bloom_words
        self.bloom_depth = bloom_depth
        # column whose per-file [min, max] is recorded in each manifest
        # (Iceberg-style file metrics). With cell-sorted input (the
        # default ingest layout) these ranges are tight and read() can
        # prune files without any directory partitioning or shuffle.
        self.stats_col = stats_col
        # Without clustering, partitionBy fans every write task out
        # across every bucket dir (observed 1800+ tiny files for 64 MB).
        # write_split REBALANCEs a bucket_by layout with this advisory
        # size, so file count and write parallelism both track data
        # volume; compact(zorder=...) sizes its output files by it too.
        # Raise toward 128-512 MB on a real cluster.
        self.target_file_bytes = target_file_bytes
        os.makedirs(os.path.join(root, _MANIFEST_DIR), exist_ok=True)
        os.makedirs(os.path.join(root, _SNAP_DIR), exist_ok=True)
        os.makedirs(os.path.join(root, "data"), exist_ok=True)

    # ---- commit protocol ------------------------------------------------

    def _manifest_path(self, split_id: str) -> str:
        return os.path.join(self.root, _MANIFEST_DIR, f"split-{split_id}.json")

    def completed_splits(self) -> set[str]:
        out = set()
        mdir = os.path.join(self.root, _MANIFEST_DIR)
        for name in os.listdir(mdir):
            if name.startswith("split-") and name.endswith(".json"):
                out.add(name[len("split-") : -len(".json")])
        return out

    def resume_plan(self, all_splits: list[str]) -> list[str]:
        done = self.completed_splits()
        return [s for s in all_splits if s not in done]

    def write_split(
        self,
        df: DataFrame,
        split_id: str,
        lineage: dict | None = None,
        fail_before_commit: bool = False,
        replaces: list[str] | None = None,
    ) -> dict | None:
        """Write one split's data, then atomically commit its manifest.

        Idempotent: an already-committed split is skipped. Crashing
        after the parquet write but before the manifest rename leaves
        orphan files that readers never see (``fail_before_commit``
        exists for the kill-injection test).

        ``replaces`` names splits this one supersedes (compaction):
        they remain committed for resume purposes but are no longer
        live — the manifest rename atomically swaps the read set.
        """
        if split_id in self.completed_splits():
            return None
        split_dir = os.path.join(self.root, "data", f"split={split_id}")
        t0 = time.monotonic()
        spark = df.sparkSession
        # the TABLE schema — captured before any hidden layout column
        # is added (the bucket column must never appear on reads)
        table_schema = json.loads(df.schema.json())
        if self.bucket_by:
            from pyspark.sql import functions as F

            bcol, nb = self.bucket_by
            bexpr = (
                F.conv(
                    F.substring(F.md5(F.col(bcol).cast("string")), 1, 10), 16, 10
                ).cast("bigint")
                % nb
            )
            df = df.withColumn("_bucket", bexpr).hint("rebalance", "_bucket")
        _ADV = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
        old_adv = spark.conf.get(_ADV, None)
        writer = df.write.mode("overwrite")
        if self.stats_col:
            # bound row-group size so stats-sorted files carry many
            # TIGHT [min, max] row-group ranges — Spark's parquet reader
            # then skips row groups on cell predicates even though each
            # task's file spans a wide cell range
            writer = writer.option("parquet.block.size", str(8 * 1024 * 1024))
        if self.bucket_by:
            writer = writer.partitionBy("_bucket")
        try:
            spark.conf.set(_ADV, str(self.target_file_bytes))
            writer.parquet(split_dir)
        finally:
            if old_adv is None:
                spark.conf.unset(_ADV)
            else:
                spark.conf.set(_ADV, old_adv)

        files, n_bytes = self._split_files(split_dir)
        import pyarrow.parquet as pq
        from concurrent.futures import ThreadPoolExecutor

        def _col_minmax(md, name: str) -> tuple | None:
            if not (md.num_row_groups and md.num_rows):
                return None
            col_j = next(
                (
                    j
                    for j in range(md.num_columns)
                    if md.row_group(0).column(j).path_in_schema == name
                ),
                None,
            )
            if col_j is None:
                return None
            mins, maxs = [], []
            for g in range(md.num_row_groups):
                s = md.row_group(g).column(col_j).statistics
                if s is None or not s.has_min_max:
                    return None
                lo = _stat_jsonable(s.min)
                hi = _stat_jsonable(s.max)
                if lo is None or hi is None:
                    return None
                mins.append(lo)
                maxs.append(hi)
            return min(mins), max(maxs)

        def _meta(rel: str) -> tuple[int, dict | None, dict, dict]:
            full = os.path.join(self.root, rel)
            md = pq.read_metadata(full)
            stats = None
            if self.stats_col:
                mm = _col_minmax(md, self.stats_col)
                if mm is not None:
                    stats = {"min": mm[0], "max": mm[1]}
            multi = {}
            for c in self.stats_cols:
                mm = _col_minmax(md, c)
                if mm is not None:
                    multi[c] = [mm[0], mm[1]]
            blooms = {}
            for c in self.bloom_cols:
                try:
                    vals = pq.read_table(full, columns=[c]).column(c).to_pylist()
                except (KeyError, OSError):  # column absent in this file
                    continue
                blooms[c] = _bloom_words_of(
                    set(vals), self.bloom_words, self.bloom_depth
                )
            return md.num_rows, stats, multi, blooms

        file_stats: dict[str, dict] = {}
        file_stats_multi: dict[str, dict] = {}
        file_blooms: dict[str, dict] = {}
        file_buckets: dict[str, int] = {}
        n_rows = 0
        with ThreadPoolExecutor(max_workers=16) as ex:
            for rel, (rows, stats, multi, blooms) in zip(files, ex.map(_meta, files)):
                n_rows += rows
                if stats is not None:
                    file_stats[rel] = {"rows": rows, **stats}
                if multi:
                    file_stats_multi[rel] = multi
                if blooms:
                    file_blooms[rel] = blooms
                if self.bucket_by:
                    for part in rel.split(os.sep):
                        if part.startswith("_bucket="):
                            file_buckets[rel] = int(part.split("=", 1)[1])
        entry = {
            "files": files,
            # per-file [min, max] of stats_col — Iceberg-style file
            # metrics enabling manifest-level pruning in read()
            "file_stats": file_stats,
            # per-file [min, max] of the EXTRA stats_cols (multi-dim
            # pruning; pairs with the Z-order compaction layout)
            "file_stats_multi": file_stats_multi,
            # per-file Bloom words per bloom_cols column (point-lookup
            # file pruning via read(bloom_keys=...)); the spec rides the
            # manifest so readers probe with the words' own parameters
            "file_blooms": file_blooms,
            "bloom_spec": (
                {
                    "cols": list(self.bloom_cols),
                    "n_words": self.bloom_words,
                    "depth": self.bloom_depth,
                }
                if self.bloom_cols
                else None
            ),
            # hidden-partitioning layout: per-file bucket id + the
            # transform spec (bucket pruning in read(bucket_keys=...))
            "file_buckets": file_buckets,
            "bucket_by": list(self.bucket_by) if self.bucket_by else None,
            # the split's Spark schema — metadata-carried so the read
            # path can UNION schemas across splits (add-column
            # evolution) without scanning any parquet footer
            "schema": table_schema,
            "n_rows": n_rows,
            "n_bytes": n_bytes,
            "replaces": sorted(replaces or []),
        }
        return self._commit(
            split_id, entry, lineage, time.monotonic() - t0, fail_before_commit
        )

    def _split_files(self, split_dir: str) -> tuple[list[str], int]:
        """(sorted table-relative parquet paths, total bytes) of one
        split's data directory."""
        files = []
        n_bytes = 0
        for dirpath, _dirnames, filenames in os.walk(split_dir):
            for fn in filenames:
                if fn.endswith(".parquet"):
                    full = os.path.join(dirpath, fn)
                    files.append(os.path.relpath(full, self.root))
                    n_bytes += os.path.getsize(full)
        return sorted(files), n_bytes

    def _commit(
        self,
        split_id: str,
        entry: dict,
        lineage: dict | None,
        wall_s: float | None,
        fail_before_commit: bool,
    ) -> dict:
        """THE split commit: complete a writer's own manifest fields
        (``entry``) with those every manifest shares, then rename the
        manifest into place — the moment the split's files become
        visible."""
        manifest = {
            "split_id": split_id,
            "stats_col": self.stats_col,
            "partition_by": [],
            "replaces": [],
            **entry,
            "lineage": {"engine_version": __version__, **(lineage or {})},
            "metrics": {"write_wall_s": None if wall_s is None else round(wall_s, 3)},
            "committed_at_unix": int(time.time()),
        }
        if fail_before_commit:
            raise RuntimeError(f"injected failure before commit of split {split_id}")
        _write_json(self._manifest_path(split_id), manifest)
        return manifest

    def commit_reported_split(
        self,
        split_id: str,
        reports: list[dict],
        lineage: dict | None = None,
        fail_before_commit: bool = False,
        wall_s: float | None = None,
        schema: dict | None = None,
    ) -> dict | None:
        """Commit a split whose data files were written DIRECTLY by the
        workers (pyarrow in the decode kernel) — the workers report
        (path, n_rows, n_bytes, cell_min, cell_max) and only this
        manifest makes them visible. Failed or duplicate task attempts
        leave invisible orphans (Spark returns rows only from the
        winning attempt), so exactly-once semantics are unchanged. The
        driver re-checks each reported file's existence and size before
        committing. ``schema`` is the files' Spark schema as JSON (the
        ingest passes the one its kernel writes)."""
        if split_id in self.completed_splits():
            return None
        file_stats: dict[str, dict] = {}
        n_bytes = 0
        for r in reports:
            full = r["path"]
            size = os.path.getsize(full)
            if size != r["n_bytes"]:
                raise OSError(f"reported size mismatch for {full}: {size} != {r['n_bytes']}")
            rel = os.path.relpath(full, self.root)
            file_stats[rel] = {"rows": r["n_rows"], "min": r["cell_min"], "max": r["cell_max"]}
            n_bytes += size
        entry = {
            "files": sorted(file_stats),
            "file_stats": file_stats,
            # only manifests committed before every writer recorded a
            # schema lack one; those reads fall back to a footer read
            "schema": schema,
            "n_rows": sum(r["n_rows"] for r in reports),
            "n_bytes": n_bytes,
        }
        return self._commit(split_id, entry, lineage, wall_s, fail_before_commit)

    def delete_keys(
        self,
        keys: DataFrame,
        equality_cols: list[str],
        split_id: str | None = None,
        lineage: dict | None = None,
        fail_before_commit: bool = False,
    ) -> dict:
        """ROW-LEVEL DELETE, Iceberg-v2 equality-delete style
        (merge-on-read): commit a split holding the distinct
        ``equality_cols`` tuples of ``keys``; readers anti-join those
        tuples away from every data split that was live at commit time
        (recorded in the manifest as ``applies_to``). No data file is
        rewritten — the delete is one small parquet write + one atomic
        manifest rename, O(keys) regardless of table size.

        Scoping rule (matches Iceberg's data-sequence-number rule, with
        explicit split ids standing in for sequence numbers): rows
        APPENDED AFTER the delete keep their keys — only splits named
        in ``applies_to`` are filtered. ``compact()`` later applies the
        delete physically and retires the delete split once every split
        it names has been rewritten. Explicit ids keep replays exact
        under vacuum and need no commit-time global counter; at extreme
        split counts (10^5+ live splits per delete) Iceberg's sequence
        numbers would replace the list — compaction keeps tables far
        below that here.
        """
        if not equality_cols:
            raise ValueError("equality_cols must name at least one column")
        missing = [c for c in equality_cols if c not in keys.columns]
        if missing:
            raise ValueError(f"key columns missing from keys frame: {missing}")
        data_e, _dels = self._split_kinds(self._live_entries())
        if not data_e:
            raise FileNotFoundError(
                f"no live data splits under {self.root} to delete from"
            )
        sid = split_id or f"delete-{uuid.uuid4().hex[:12]}"
        if sid in self.completed_splits():
            raise ValueError(f"split {sid!r} is already committed")
        t0 = time.monotonic()
        split_dir = os.path.join(self.root, "data", f"split={sid}")
        slim = keys.select(*equality_cols).dropDuplicates(equality_cols)
        slim.write.mode("overwrite").parquet(split_dir)
        files, n_bytes = self._split_files(split_dir)
        import pyarrow.parquet as pq

        entry = {
            "kind": _EQ_DELETES,
            "equality_cols": list(equality_cols),
            "applies_to": sorted(data_e),
            "files": files,
            "file_stats": {},
            "schema": json.loads(slim.schema.json()),
            "n_rows": sum(
                pq.read_metadata(os.path.join(self.root, rel)).num_rows for rel in files
            ),
            "n_bytes": n_bytes,
        }
        return self._commit(sid, entry, lineage, time.monotonic() - t0, fail_before_commit)

    def delete_where(
        self,
        spark: SparkSession,
        predicate,
        equality_cols: list[str],
        split_id: str | None = None,
    ) -> dict:
        """DELETE WHERE: evaluate ``predicate`` (a Column or SQL string)
        against the current table and commit the matching rows'
        ``equality_cols`` as an equality-delete split. The scan prunes
        and pushes down like any read; the commit is merge-on-read."""
        from pyspark.sql import functions as F

        cond = F.expr(predicate) if isinstance(predicate, str) else predicate
        keys = self.read(spark).where(cond).select(*equality_cols)
        return self.delete_keys(
            keys,
            equality_cols,
            split_id=split_id,
            lineage={"op": "delete_where", "predicate": str(predicate)},
        )

    def upsert(
        self,
        df: DataFrame,
        key_cols: list[str],
        split_id: str | None = None,
        lineage: dict | None = None,
    ) -> tuple[dict, dict]:
        """MERGE-style upsert: rows in ``df`` REPLACE any live rows
        sharing their ``key_cols`` tuple; new keys simply append.
        Composed from the two primitives — an equality delete of
        ``df``'s keys (scoped to the splits live now) followed by an
        append of ``df`` — so it inherits their properties: no data
        file is rewritten, the delete is O(keys), and the appended
        split is NOT in the delete's ``applies_to``, which is exactly
        what makes the new rows survive their own delete.

        Ordering note: the delete commits first. A reader between the
        two commits sees the table WITHOUT the updated keys (a deleted
        state, never a doubled one); crash recovery is the normal
        resume path — re-running commits the append split id
        idempotently. Returns (delete_manifest, append_manifest).
        """
        sid = split_id or f"upsert-{uuid.uuid4().hex[:12]}"
        line = {"op": "upsert", "append_split": sid, **(lineage or {})}
        if f"{sid}-del" in self.completed_splits():
            # resuming after a crash between the two commits: the
            # delete already holds, finish the append idempotently
            dm = self._read_manifest(f"{sid}-del")
        else:
            dm = self.delete_keys(
                df.select(*key_cols),
                key_cols,
                split_id=f"{sid}-del",
                lineage=line,
            )
        am = self.write_split(df, sid, lineage=line)
        if am is None:  # resumed: the append had already committed
            am = self._read_manifest(sid)
        return dm, am

    def commit_snapshot(self, properties: dict | None = None) -> dict:
        """Roll committed manifests into a table-level snapshot (atomic).

        Also writes a MANIFEST LIST (Iceberg's manifest-list analog):
        one JSON file holding every LIVE split's file entries + stats,
        so the read path opens O(1) driver-side files instead of one
        JSON per split (at 100 TB that is ~10^5 splits). The list is
        written first, then the snapshot that references it — both via
        atomic rename.

        Snapshots are an append-only HISTORY (Iceberg snapshot-log
        style): each carries a sequence number and its parent's id, a
        copy lands under ``_snapshots/``, and ``snapshot.json`` is the
        current pointer. ``read_snapshot`` time-travels to any retained
        entry; ``expire_snapshots`` prunes the history."""
        manifests = {
            sid: self._read_manifest(sid) for sid in sorted(self.completed_splits())
        }
        replaced: set[str] = set()
        for m in manifests.values():
            replaced.update(m.get("replaces", []))
        live = {sid: m for sid, m in manifests.items() if sid not in replaced}
        prev = self.current_snapshot()
        snap_id = uuid.uuid4().hex
        mlist = {
            "snapshot_id": snap_id,
            "entries": {
                sid: {
                    "files": m["files"],
                    "file_stats": m.get("file_stats", {}),
                    "file_stats_multi": m.get("file_stats_multi", {}),
                    "file_buckets": m.get("file_buckets", {}),
                    "file_blooms": m.get("file_blooms", {}),
                    "bloom_spec": m.get("bloom_spec"),
                    "replaces": m.get("replaces", []),
                    "schema": m.get("schema"),
                    # merge-on-read delete manifests carry their kind +
                    # scope so time travel applies them identically
                    **(
                        {
                            "kind": m["kind"],
                            "equality_cols": m.get("equality_cols", []),
                            "applies_to": m.get("applies_to", []),
                        }
                        if m.get("kind") == _EQ_DELETES
                        else {}
                    ),
                }
                for sid, m in live.items()
            },
            # split ids superseded as of this snapshot: lets the read
            # path skip their per-split manifests entirely (otherwise a
            # compaction of 10^5 splits would put 10^5 driver-side JSON
            # reads back on every read)
            "replaced": sorted(replaced & set(manifests)),
        }
        mlist_name = f"manifest-list-{snap_id}.json"
        _write_json(os.path.join(self.root, mlist_name), mlist, indent=None)
        snap = {
            "snapshot_id": snap_id,
            "sequence_number": (prev or {}).get("sequence_number", 0) + 1,
            "parent_snapshot_id": (prev or {}).get("snapshot_id"),
            "manifest_list": mlist_name,
            "splits": sorted(live),
            "replaced_splits": sorted(replaced & set(manifests)),
            # data rows/bytes only — equality-delete splits are
            # metadata, not table content (their rows SUBTRACT, by an
            # amount only a read can know)
            "total_rows": sum(
                m["n_rows"] for m in live.values() if m.get("kind") != _EQ_DELETES
            ),
            "total_bytes": sum(
                m["n_bytes"] for m in live.values() if m.get("kind") != _EQ_DELETES
            ),
            "properties": properties or {},
            "engine_version": __version__,
            "committed_at_unix": int(time.time()),
        }
        hist = os.path.join(
            self.root, _SNAP_DIR, f"snap-{snap['sequence_number']:06d}-{snap_id}.json"
        )
        for dest in (hist, os.path.join(self.root, "snapshot.json")):
            _write_json(dest, snap)
        return snap

    def vacuum_orphans(self, min_age_s: float = 0.0) -> dict:
        """Delete ORPHAN data files (r4): files under ``data/`` that no
        manifest references — crashed-writer leftovers (write_split
        stages parquet before the atomic manifest rename; a task that
        died between the two leaves untracked bytes that vanilla
        retention never reclaims; Iceberg ships the same
        remove_orphan_files action).

        Safety: the referenced set is the union over EVERY manifest on
        disk — live, replaced, atticed (_rollback) — plus every
        retained snapshot's manifest list, so nothing any read path or
        rollback could ever name is touched. ``min_age_s`` skips files
        younger than that (an in-flight writer's staging files look
        like orphans until its manifest commits — on a busy table pass
        an age comfortably above the longest write).

        Returns {"deleted_files": n, "freed_bytes": b}.
        """
        referenced: set[str] = set()
        for sid in sorted(self.completed_splits()):
            try:
                referenced.update(self._read_manifest(sid)["files"])
            except (OSError, KeyError, ValueError):
                continue
        rollback_root = os.path.join(self.root, "_rollback")
        if os.path.isdir(rollback_root):
            for sub, _, fs in os.walk(rollback_root):
                for fn in fs:
                    try:
                        with open(os.path.join(sub, fn)) as f:
                            referenced.update(json.load(f).get("files", []))
                    except (OSError, ValueError):
                        continue
        for snap in self.snapshots():
            try:
                with open(os.path.join(self.root, snap["manifest_list"])) as f:
                    for e in json.load(f)["entries"].values():
                        referenced.update(e["files"])
            except (OSError, KeyError, ValueError):
                continue
        now = time.time()
        deleted = 0
        freed = 0
        data_root = os.path.join(self.root, "data")
        for sub, _, fs in os.walk(data_root):
            for fn in fs:
                # writer bookkeeping (_SUCCESS, .crc sidecars) is not
                # payload — leave it for filesystem hygiene, keep the
                # deleted_files count meaning "recovered data files"
                if fn.startswith(".") or fn.startswith("_"):
                    continue
                full = os.path.join(sub, fn)
                rel = os.path.relpath(full, self.root)
                if rel in referenced:
                    continue
                try:
                    if now - os.path.getmtime(full) < min_age_s:
                        continue
                    freed += os.path.getsize(full)
                    os.remove(full)
                    deleted += 1
                except OSError:
                    continue
        return {"deleted_files": deleted, "freed_bytes": freed}

    # ---- named refs (Iceberg tags and branches) -------------------------

    def _refs(self, kind: str) -> dict:
        """Name -> snapshot_id map of one ref store (``kind`` is "tag"
        or "branch")."""
        p = os.path.join(self.root, _REF_FILES[kind])
        if not os.path.exists(p):
            return {}
        with open(p) as f:
            return json.load(f)

    def _set_ref(self, kind: str, name: str, snapshot_id: str | None) -> dict:
        """Point ref ``name`` at ``snapshot_id`` (None drops it) with one
        atomic rewrite of its store. Returns {name: snapshot_id}."""
        cur = self._refs(kind)
        if snapshot_id is None:
            cur.pop(name, None)
        else:
            cur[name] = snapshot_id
        _write_json(os.path.join(self.root, _REF_FILES[kind]), cur)
        return {name: snapshot_id}

    def _ref_snapshot(self, ref: int | str | None) -> dict:
        """The snapshot a ``ref`` argument names: a retained snapshot_id
        or sequence number, or the current snapshot for None."""
        if ref is not None:
            return self._snapshot_entries(ref)[0]
        snap = self.current_snapshot()
        if snap is None:
            raise ValueError("no snapshot yet — commit_snapshot first")
        return snap

    def _ref_id(self, kind: str, name: str) -> str:
        """The snapshot_id ref ``name`` points at; KeyError if unknown."""
        cur = self._refs(kind)
        if name not in cur:
            raise KeyError(f"unknown {kind} {name!r}; have {sorted(cur)}")
        return cur[name]

    def _new_ref(self, kind: str, name: str, ref, hint: str) -> dict:
        """Create ref ``name`` at ``ref``'s snapshot; a bad or taken
        name raises ValueError (``hint`` says what to do instead)."""
        if not name or "/" in name:
            raise ValueError(f"invalid {kind} name {name!r}")
        cur = self._refs(kind)
        if name in cur:
            raise ValueError(f"{kind} {name!r} already exists at {cur[name]!r} — {hint}")
        return self._set_ref(kind, name, self._ref_snapshot(ref)["snapshot_id"])

    def tags(self) -> dict:
        """Name -> snapshot_id map of all recorded tags."""
        return self._refs("tag")

    def tag_snapshot(self, name: str, ref: int | str | None = None) -> dict:
        """Record an immutable NAMED REF (Iceberg tag) to a snapshot
        (r4) — 'v1.2-training-cut', 'audited-2026-08': the human handle
        a reproducible pipeline pins instead of a raw snapshot id.
        ``ref`` is a snapshot_id or sequence number (default: the
        current snapshot). Tags are immutable — re-tagging an existing
        name raises (delete_tag first, deliberately two steps). The
        tagged snapshot is protected from expire_snapshots.

        Returns {name: snapshot_id}. Atomic single-file update."""
        return self._new_ref(
            "tag", name, ref,
            "tags are immutable; delete_tag first if you really mean to move it",
        )

    def branches(self) -> dict:
        """Name -> snapshot_id map of all branches (movable refs)."""
        return self._refs("branch")

    def branch_snapshot(self, name: str, ref: int | str | None = None) -> dict:
        """Create a BRANCH (r5) — the MOVABLE sibling of tags (Iceberg
        branch refs): points at a snapshot, advances fast-forward-only
        via :meth:`advance_branch`, protects its snapshot from
        expiry, reads via :meth:`read_branch`. The write-audit-publish
        flow composes from existing machinery: commit the staged state,
        branch it ('audit'), ``rollback_to`` the pre-stage snapshot on
        main, audit through the branch read, then
        :meth:`publish_branch` (rollback_to is roll-forward-capable)
        to make main adopt it. Returns {name: snapshot_id}."""
        return self._new_ref("branch", name, ref, "advance_branch moves it")

    def advance_branch(self, name: str, ref: int | str | None = None) -> dict:
        """Move a branch FORWARD to a newer retained snapshot (default:
        the current one). Fast-forward only — the target's sequence
        number must be >= the branch's current position (the Iceberg
        fast_forward contract); rewinding a branch is deliberately not
        offered (delete + re-create states the intent loudly)."""
        old = self._ref_snapshot(self._ref_id("branch", name))
        snap = self._ref_snapshot(ref)
        if snap.get("sequence_number", 0) < old.get("sequence_number", 0):
            raise ValueError(
                f"advance_branch is fast-forward-only: target seq "
                f"{snap.get('sequence_number')} < branch seq "
                f"{old.get('sequence_number')}"
            )
        return self._set_ref("branch", name, snap["snapshot_id"])

    def read_branch(self, spark: SparkSession, name: str, **kw) -> DataFrame:
        """Read through a branch ref (read_snapshot by branch)."""
        return self.read_snapshot(spark, self._ref_id("branch", name), **kw)

    def publish_branch(self, name: str) -> dict:
        """Make MAIN adopt the branch's snapshot (the WAP 'publish'
        step) — rollback_to handles both roll-back and roll-forward,
        restoring atticed manifests as needed. Returns the new main
        snapshot."""
        return self.rollback_to(self._ref_id("branch", name))

    def delete_branch(self, name: str) -> None:
        self._ref_id("branch", name)
        self._set_ref("branch", name, None)

    def delete_tag(self, name: str) -> None:
        self._ref_id("tag", name)
        self._set_ref("tag", name, None)

    def read_tag(self, spark: SparkSession, name: str, **kw) -> DataFrame:
        """Time-travel read through a named ref (read_snapshot by
        tag). Raises KeyError for unknown tags."""
        return self.read_snapshot(spark, self._ref_id("tag", name), **kw)

    def current_snapshot(self) -> dict | None:
        p = os.path.join(self.root, "snapshot.json")
        if not os.path.exists(p):
            return None
        with open(p) as f:
            return json.load(f)

    def snapshots(self) -> list[dict]:
        """Snapshot history, oldest first (expired entries excluded)."""
        sdir = os.path.join(self.root, _SNAP_DIR)
        out = []
        if os.path.isdir(sdir):
            for name in sorted(os.listdir(sdir)):
                if name.startswith("snap-") and name.endswith(".json"):
                    with open(os.path.join(sdir, name)) as f:
                        out.append(json.load(f))
        out.sort(key=lambda s: s.get("sequence_number", 0))
        return out

    # ---- read path -------------------------------------------------------

    def _read_manifest(self, split_id: str) -> dict:
        with open(self._manifest_path(split_id)) as f:
            return json.load(f)

    def _manifest_index(self) -> tuple[dict[str, dict], set[str]]:
        """({split_id: {files, file_stats, replaces}}, replaced_ids)
        from the current snapshot's manifest list, if one exists — ONE
        driver-side file read for all splits the last snapshot covered.
        Splits committed after the snapshot fall back to their
        individual manifests in the read path."""
        snap_path = os.path.join(self.root, "snapshot.json")
        if not os.path.exists(snap_path):
            return {}, set()
        try:
            with open(snap_path) as f:
                snap = json.load(f)
            mlist = snap.get("manifest_list")
            if not mlist:
                return {}, set()
            with open(os.path.join(self.root, mlist)) as f:
                data = json.load(f)
            return data["entries"], set(data.get("replaced", []))
        except (OSError, KeyError, ValueError):
            return {}, set()

    def _live_entries(self) -> dict[str, dict]:
        """{split_id: manifest or manifest-list entry} for every LIVE
        split: completed splits minus those superseded by a committed
        ``replaces`` declaration (compaction outputs). The snapshot's
        manifest list (one driver-side file) serves indexed splits AND
        the already-replaced set; per-split manifests are opened only
        for splits committed after the last snapshot."""
        index, snap_replaced = self._manifest_index()
        replaced = set(snap_replaced)
        entries: dict[str, dict] = {}
        for sid in sorted(self.completed_splits()):
            m = index.get(sid)
            if m is None:
                if sid in snap_replaced:
                    # superseded before the snapshot; commit_snapshot
                    # folds replaces over ALL manifests, so this
                    # split's own replaces are already in snap_replaced
                    # — skipping the file read here is what keeps reads
                    # O(1) after compacting 10^5 splits
                    continue
                m = self._read_manifest(sid)
                if sid in replaced:
                    # superseded by a post-snapshot split: contributes
                    # no files, but its own replaces must STILL
                    # propagate — chained compactions commit with ids
                    # in arbitrary sort order, and a missed hop would
                    # resurrect long-replaced splits
                    replaced = replaced | set(m.get("replaces", []))
                    continue
            entries[sid] = m
            replaced = replaced | set(m.get("replaces", []))
        return {sid: m for sid, m in entries.items() if sid not in replaced}

    def live_splits(self) -> set[str]:
        return set(self._live_entries())

    @staticmethod
    def _split_kinds(entries: dict[str, dict]) -> tuple[dict, dict]:
        """(data_entries, delete_entries) — merge-on-read delete
        manifests never contribute table rows, files, or schema."""
        data = {s: m for s, m in entries.items() if m.get("kind") != _EQ_DELETES}
        dels = {s: m for s, m in entries.items() if m.get("kind") == _EQ_DELETES}
        return data, dels

    def _filter_files(
        self,
        entries: dict[str, dict],
        stats_range: tuple[int, int] | None,
        stats_ranges: dict[str, tuple] | None = None,
        buckets: set[int] | None = None,
        bloom_probes: dict[str, list] | None = None,
    ) -> list[str]:
        """Entry files -> absolute paths, manifest-stat pruned: with
        ``stats_range=(lo, hi)``, only files whose [min, max] of
        stats_col overlaps it; ``stats_ranges={col: (lo, hi)}`` prunes
        on the extra ``stats_cols`` metrics conjunctively (a file
        survives only if EVERY named range overlaps); ``buckets`` keeps
        only files whose recorded hidden-bucket id is in the set;
        ``bloom_probes={col: [v, ...]}`` drops a file when its recorded
        Bloom words prove NO probe value can be present (point-lookup
        pruning — a superset read, like every prune here). No parquet
        footer ever opened. Files lacking a metric/bucket/bloom are
        conservatively kept."""
        files = []
        for sid in sorted(entries):
            m = entries[sid]
            stats = m.get("file_stats", {})
            multi = m.get("file_stats_multi", {})
            fbuckets = m.get("file_buckets", {})
            fblooms = m.get("file_blooms", {})
            bspec = m.get("bloom_spec") or {}
            for rel in m["files"]:
                if stats_range is not None and rel in stats:
                    lo, hi = stats_range
                    if stats[rel]["max"] < lo or stats[rel]["min"] > hi:
                        continue
                if stats_ranges:
                    fm = multi.get(rel, {})
                    pruned = False
                    for c, (lo, hi) in stats_ranges.items():
                        lo = _stat_jsonable(lo)
                        hi = _stat_jsonable(hi)
                        if (
                            c in fm
                            and lo is not None
                            and hi is not None
                            and (fm[c][1] < lo or fm[c][0] > hi)
                        ):
                            pruned = True
                            break
                    if pruned:
                        continue
                if buckets is not None and rel in fbuckets:
                    if fbuckets[rel] not in buckets:
                        continue
                if bloom_probes and bspec:
                    fb = fblooms.get(rel, {})
                    pruned = False
                    for c, probe_vals in bloom_probes.items():
                        if c not in fb:
                            continue  # no filter recorded: keep
                        if not any(
                            _bloom_maybe_member(
                                fb[c], v, bspec["n_words"], bspec["depth"]
                            )
                            for v in probe_vals
                        ):
                            pruned = True
                            break
                    if pruned:
                        continue
                files.append(os.path.join(self.root, rel))
        return files

    def bucket_of(self, value) -> int:
        """The hidden-partition bucket of a key value: 40-bit md5 prefix
        of str(value) mod n — the Python replay of the write-side Spark
        expression (CAST to string matches for int/string key columns)."""
        if not self.bucket_by:
            raise ValueError("table has no bucket_by layout")
        import hashlib

        _col, n = self.bucket_by
        return int(hashlib.md5(str(value).encode()).hexdigest()[:10], 16) % n

    def committed_files(
        self,
        stats_range: tuple[int, int] | None = None,
        stats_ranges: dict[str, tuple] | None = None,
        bucket_keys: list | None = None,
        bloom_keys: dict[str, list] | None = None,
    ) -> list[str]:
        """LIVE committed DATA file paths (replaced splits and
        merge-on-read delete files excluded), with optional
        manifest-level stats pruning. NOTE: when live equality-delete
        splits exist, reading these files directly sees pre-delete
        rows — use :meth:`read`, which applies them."""
        data, _dels = self._split_kinds(self._live_entries())
        buckets = (
            {self.bucket_of(v) for v in bucket_keys}
            if bucket_keys is not None
            else None
        )
        return self._filter_files(data, stats_range, stats_ranges, buckets, bloom_keys)

    @staticmethod
    def _merged_schema(entries: dict[str, dict]):
        """SCHEMA EVOLUTION (add-column): union the manifest-carried
        schemas of the given splits by field NAME, in split-id order —
        files from splits that predate a column read it as NULL, the
        Iceberg add-column semantic, with zero parquet footers opened.
        Type CHANGES and renames are refused loudly (safe evolution
        needs Iceberg's field-id mapping, out of scope). Returns None
        when any split lacks a recorded schema, which only manifests
        committed before every writer recorded one do — callers then
        fall back to a mergeSchema footer read, which is correct but
        runs a Spark job over O(files) footers."""
        from pyspark.sql.types import StructType

        fields: dict[str, dict] = {}
        order: list[str] = []
        for sid in sorted(entries):
            sch = entries[sid].get("schema")
            if sch is None:
                return None
            for f in sch["fields"]:
                prev = fields.get(f["name"])
                if prev is None:
                    fields[f["name"]] = f
                    order.append(f["name"])
                elif prev["type"] != f["type"]:
                    raise ValueError(
                        f"schema evolution supports add-column only; field "
                        f"{f['name']!r} changes type {prev['type']!r} -> "
                        f"{f['type']!r} in split {sid}"
                    )
        if not order:
            return None
        merged = {
            "type": "struct",
            # a column absent from ANY split must be nullable
            "fields": [{**fields[n], "nullable": True} for n in order],
        }
        return StructType.fromJson(merged)

    def table_schema(self):
        """The current table schema (live DATA splits' union), or None
        when it cannot be derived from manifests alone."""
        data, _dels = self._split_kinds(self._live_entries())
        return self._merged_schema(data)

    def _read_entries(
        self,
        spark: SparkSession,
        entries: dict[str, dict],
        stats_range: tuple[int, int] | None,
        stats_ranges: dict[str, tuple] | None = None,
        buckets: set[int] | None = None,
        bloom_probes: dict[str, list] | None = None,
    ) -> DataFrame:
        """Shared merge-on-read path for :meth:`read` (live entries)
        and :meth:`read_snapshot` (a frozen manifest list): load the
        data files (manifest-stats pruned), then apply every
        equality-delete split to exactly the data splits it names in
        ``applies_to`` — rows appended AFTER a delete are never
        re-deleted (the Iceberg v2 scoping rule, expressed with
        explicit split ids instead of data sequence numbers).

        Plan shape: data splits group by the SET of deletes that apply
        (a handful of generations in practice); each group is one scan
        + one broadcast ANTI-JOIN per distinct equality-key tuple —
        delete key sets are small next to the table, so no wide
        shuffle is introduced."""
        from pyspark.sql import functions as F

        data_e, del_e = self._split_kinds(entries)
        all_files = self._filter_files(data_e, None)
        if not all_files:
            raise FileNotFoundError(f"no committed data splits under {self.root}")
        schema = self._merged_schema(data_e)

        def load(files: list[str]) -> DataFrame:
            if schema is not None:
                # metadata-carried union schema: splits that predate a
                # column yield NULL for it (add-column evolution)
                return spark.read.schema(schema).parquet(*files)
            return spark.read.option("mergeSchema", "true").parquet(*files)

        def empty() -> DataFrame:
            sch = schema or spark.read.parquet(all_files[0]).schema
            return spark.createDataFrame([], sch)

        if not del_e:
            files = (
                self._filter_files(
                    data_e, stats_range, stats_ranges, buckets, bloom_probes
                )
                if stats_range is not None
                or stats_ranges
                or buckets is not None
                or bloom_probes
                else all_files
            )
            return load(files) if files else empty()

        groups: dict[frozenset, dict[str, dict]] = {}
        for sid, m in data_e.items():
            applying = frozenset(
                d for d, dm in del_e.items() if sid in set(dm.get("applies_to", []))
            )
            groups.setdefault(applying, {})[sid] = m
        out: DataFrame | None = None
        for applying, ge in sorted(groups.items(), key=lambda kv: sorted(kv[1])):
            files = self._filter_files(
                ge, stats_range, stats_ranges, buckets, bloom_probes
            )
            if not files:
                continue
            df = load(files)
            by_cols: dict[tuple, list[str]] = {}
            for d in sorted(applying):
                dm = del_e[d]
                by_cols.setdefault(tuple(dm["equality_cols"]), []).extend(
                    os.path.join(self.root, rel) for rel in dm["files"]
                )
            for cols, dfiles in sorted(by_cols.items()):
                keys = spark.read.parquet(*dfiles).select(*cols)
                df = df.join(F.broadcast(keys), on=list(cols), how="left_anti")
            out = df if out is None else out.unionByName(df)
        return out if out is not None else empty()

    def read(
        self,
        spark: SparkSession,
        dedup_cols: list[str] | None = None,
        stats_range: tuple[int, int] | None = None,
        stats_ranges: dict[str, tuple] | None = None,
        bucket_keys: list | None = None,
        bloom_keys: dict[str, list] | None = None,
    ) -> DataFrame:
        """Read ONLY committed files (orphans from crashes are
        invisible), with equality-delete splits applied merge-on-read.

        ``bloom_keys={col: [v, ...]}`` prunes files whose manifest
        Bloom words prove none of the probe values are present — the
        point-lookup path over columns the layout was NOT organized by
        (superset read: apply the exact IN-filter after).

        ``stats_range`` prunes files by the manifest's stats_col metrics
        BEFORE Spark ever lists them; ``stats_ranges={col: (lo, hi)}``
        prunes conjunctively on the extra ``stats_cols`` metrics —
        multi-dimensional pruning, which a ``compact(zorder=[...])``
        layout makes tight on EVERY recorded column at once. NOTE:
        range pruning is a superset read — callers still apply their
        exact predicate. (Pruning composes with deletes: dropping a
        file only removes rows, and the anti-join runs on whatever
        survives.)
        """
        buckets = (
            {self.bucket_of(v) for v in bucket_keys}
            if bucket_keys is not None
            else None
        )
        df = self._read_entries(
            spark, self._live_entries(), stats_range, stats_ranges, buckets, bloom_keys
        )
        if dedup_cols:
            df = df.dropDuplicates(dedup_cols)
        return df

    def read_snapshot(
        self,
        spark: SparkSession,
        ref: int | str,
        stats_range: tuple[int, int] | None = None,
        stats_ranges: dict[str, tuple] | None = None,
    ) -> DataFrame:
        """TIME TRAVEL: read exactly the files a past snapshot froze.

        ``ref`` is a snapshot_id or a sequence number. Compactions and
        later appends never perturb the result — the snapshot's
        manifest list is immutable and its data files are retained
        until the snapshot is expired (after which this raises)."""
        snap, entries = self._snapshot_entries(ref)
        # time travel sees the schema AND the delete set AS OF that
        # snapshot — both derived from the frozen manifest list
        return self._read_entries(spark, entries, stats_range, stats_ranges)

    def _snapshot_entries(self, ref: int | str) -> tuple[dict, dict]:
        """Resolve ``ref`` (snapshot_id or sequence number) to its
        history entry + frozen manifest-list entries; loud on expiry."""
        snaps = self.snapshots()
        match = [
            s for s in snaps
            if s["snapshot_id"] == ref or s.get("sequence_number") == ref
        ]
        if not match:
            have = [(s.get("sequence_number"), s["snapshot_id"]) for s in snaps]
            raise ValueError(
                f"unknown or expired snapshot {ref!r}; retained: {have}"
            )
        snap = match[-1]
        mlist_path = os.path.join(self.root, snap["manifest_list"])
        if not os.path.exists(mlist_path):
            raise ValueError(
                f"snapshot {snap['snapshot_id']} has been expired "
                f"(manifest list {snap['manifest_list']} is gone)"
            )
        with open(mlist_path) as f:
            entries = json.load(f)["entries"]
        return snap, entries

    def read_incremental(
        self,
        spark: SparkSession,
        from_ref: int | str,
        to_ref: int | str,
        stats_range: tuple[int, int] | None = None,
        stats_ranges: dict[str, tuple] | None = None,
    ) -> DataFrame:
        """INCREMENTAL APPEND SCAN (Iceberg's CDC-for-appends): exactly
        the rows APPENDED between two snapshots — the consume-new-data
        primitive that lets a downstream training pipeline process a
        100-TB table's daily growth without rescanning the table.

        Semantics (same restrictions as Iceberg's incremental append
        scan, enforced loudly instead of silently wrong):

        - returned rows = data splits present in ``to_ref``'s manifest
          list but not in ``from_ref``'s, EXCLUDING rewrites — a
          compaction split (non-empty ``replaces``) whose inputs all
          pre-date ``from_ref`` carries no new rows and is skipped;
        - a rewrite that folded IN-WINDOW appends raises (their rows
          are indistinguishable from old rows after the rewrite; run
          incremental consumption before compacting, or snapshot more
          often);
        - a delete split appearing in the window raises (rows REMOVED
          cannot be represented in an append-only scan).

        The scan is time-travel-stable: both manifest lists are frozen,
        so the same (from, to) window always returns the same rows even
        after later appends/compactions (until expiry).
        """
        from_snap, from_entries = self._snapshot_entries(from_ref)
        to_snap, to_entries = self._snapshot_entries(to_ref)
        if to_snap.get("sequence_number", 0) < from_snap.get("sequence_number", 0):
            raise ValueError(
                f"to_ref (seq {to_snap.get('sequence_number')}) precedes "
                f"from_ref (seq {from_snap.get('sequence_number')})"
            )
        # ids known at from-time: live entries + everything already replaced
        from_known = set(from_entries) | set(from_snap.get("replaced_splits", []))
        for e in from_entries.values():
            from_known.update(e.get("replaces", []))
        new_data: dict[str, dict] = {}
        for sid, m in to_entries.items():
            if sid in from_known:
                continue
            if m.get("kind") == _EQ_DELETES:
                raise ValueError(
                    f"incremental append scan window contains equality-delete "
                    f"split {sid!r}; append-only consumption cannot represent "
                    "removed rows — read full snapshots instead"
                )
            replaces = set(m.get("replaces", []))
            if replaces:
                folded = replaces - from_known
                if folded:
                    raise ValueError(
                        f"rewrite split {sid!r} folded in-window appends "
                        f"{sorted(folded)}; their rows are no longer "
                        "distinguishable — consume increments before "
                        "compacting, or widen the window"
                    )
                continue  # pure rewrite of pre-window data: no new rows
            new_data[sid] = m
        if not new_data:
            schema = self._merged_schema(
                self._split_kinds(to_entries)[0]
            ) or self._read_entries(spark, to_entries, None).schema
            return spark.createDataFrame([], schema)
        return self._read_entries(spark, new_data, stats_range, stats_ranges)

    # ---- maintenance -----------------------------------------------------

    def compact(
        self,
        spark: SparkSession,
        split_ids: list[str] | None = None,
        fail_before_commit: bool = False,
        zorder: list[str] | None = None,
    ) -> dict | None:
        """Rewrite live splits' files into ~target_file_bytes
        stats-sorted files as ONE split that atomically replaces them.

        THE small-files fix at 100 TB: per-blob-range ingest splits
        (and streaming-ish appends) accumulate files far below the
        efficient scan size; compaction restores file size AND
        stats_col clustering (the rewrite is a global sort on
        stats_col, so post-compaction manifests carry tight per-file
        [min, max] again even when the inputs' ranges interleaved).

        Readers are never wrong mid-flight: until the compaction
        manifest's atomic rename they see the old files, after it only
        the new ones. Replaced splits stay COMMITTED (resume_plan never
        re-runs them); their data files are reclaimed by
        ``expire_snapshots`` once no retained snapshot references them.

        Returns the compaction manifest, or None when fewer than two
        live splits match (nothing to merge).
        """
        if self.bucket_by:
            raise ValueError(
                "compact() on a bucket-partitioned table would destroy "
                "the hidden bucket layout; rewrite per bucket instead"
            )
        live = self._live_entries()
        data_e, del_e = self._split_kinds(live)
        targets = sorted(split_ids) if split_ids is not None else sorted(data_e)
        unknown = [s for s in targets if s not in data_e]
        if unknown:
            raise ValueError(
                f"splits not live data splits (unknown, already replaced, "
                f"or delete manifests): {unknown}"
            )
        # deletes scoped to any target get applied PHYSICALLY by the
        # rewrite; a delete split is itself replaced once no live data
        # split outside the rewrite still needs it (merge-on-read ->
        # copy-on-write conversion, Iceberg's rewrite_data_files +
        # rewrite_position_delete_files in one step)
        applying = {
            d: dm
            for d, dm in del_e.items()
            if set(dm.get("applies_to", [])) & set(targets)
        }
        if len(targets) < 2 and not applying:
            return None
        covered_dels = sorted(
            d
            for d, dm in del_e.items()
            if set(dm.get("applies_to", [])) & set(data_e) <= set(targets)
        )
        rels = [rel for sid in targets for rel in data_e[sid]["files"]]
        files = [os.path.join(self.root, rel) for rel in rels]
        n_input_bytes = sum(os.path.getsize(f) for f in files)
        # union schema across the targets: compacting splits written
        # before a column was added must not silently drop it; deletes
        # applying to the targets are anti-joined during the rewrite
        sub_entries = {sid: data_e[sid] for sid in targets}
        sub_entries.update(applying)
        df = self._read_entries(spark, sub_entries, None)
        if zorder:
            # multi-dimensional layout: Z-order rewrite clusters every
            # named column at once (Iceberg's zorder sort strategy) —
            # parquet row-group/file stats stay tight on ALL of them,
            # at the cost of slightly looser stats_col ranges than a
            # plain linear sort. File count pinned from input bytes so
            # AQE cannot coalesce the rewrite into one giant file.
            from ..functions.zorder import zorder_sorted

            n_out = max(1, round(n_input_bytes / self.target_file_bytes))
            df = zorder_sorted(df, zorder, num_partitions=n_out)
        elif self.stats_col and self.stats_col in df.columns:
            df = df.sort(self.stats_col)
        cid = f"compact-{uuid.uuid4().hex[:12]}"
        return self.write_split(
            df,
            cid,
            lineage={
                "op": "compact",
                "inputs": targets,
                "zorder": zorder or [],
                "applied_deletes": sorted(applying),
                "n_input_files": len(files),
                "input_bytes": n_input_bytes,
            },
            replaces=sorted(set(targets) | set(covered_dels)),
            fail_before_commit=fail_before_commit,
        )

    def rollback_to(self, snapshot_id) -> dict:
        """Roll the table back to a retained snapshot (Iceberg
        ``rollback_to_snapshot`` parity) — and make the rollback
        DURABLE against future commits, which this sink derives from
        the split-manifest set, not the snapshot pointer: split
        manifests committed AFTER the target (later appends, deletes,
        compaction rewrites) are moved into a ``_rollback/`` attic
        (never deleted — their data files stay on disk and every
        retained snapshot still time-travels through its own manifest
        list), then a NEW snapshot is committed from the restored
        manifest set, carrying ``rollback_of`` in its properties.

        Accepts a snapshot id or a 1-based sequence number (the
        read_snapshot convention). Raises ``KeyError`` for an unknown
        or expired snapshot. Returns the new snapshot dict — its live
        split set equals the target's exactly.
        """
        target = None
        for snap in self.snapshots():
            if snapshot_id in (snap.get("snapshot_id"), snap.get("sequence_number")):
                target = snap
        if target is None:
            raise KeyError(
                f"rollback_to: snapshot {snapshot_id!r} not in retained history"
            )
        known = set(target.get("splits", [])) | set(
            target.get("replaced_splits", [])
        )
        # roll-FORWARD support: a prior rollback may have atticed
        # manifests this target still needs — restore them first, and
        # refuse to commit a partial state if any are unrecoverable
        # (the docstring's 'live split set equals the target's exactly'
        # must hold, never silently lose splits).
        rollback_root = os.path.join(self.root, "_rollback")
        manifests = os.path.join(self.root, _MANIFEST_DIR)
        restored = []
        touched: set[str] = set()
        for sid in sorted(known):
            if os.path.exists(self._manifest_path(sid)):
                continue
            found = None
            if os.path.isdir(rollback_root):
                for sub in sorted(os.listdir(rollback_root)):
                    cand = os.path.join(rollback_root, sub, f"split-{sid}.json")
                    if os.path.exists(cand):
                        found = cand
                        break
            if found is None:
                raise KeyError(
                    f"rollback_to: split {sid!r} of target snapshot "
                    f"{target['snapshot_id']!r} has no manifest on disk or "
                    "in the _rollback attic — refusing a partial rollback"
                )
            os.replace(found, self._manifest_path(sid))
            touched.update((os.path.dirname(found), manifests))
            restored.append(sid)
        attic = os.path.join(rollback_root, uuid.uuid4().hex)
        moved = []
        for sid in sorted(self.completed_splits()):
            if sid not in known:
                os.makedirs(attic, exist_ok=True)
                os.replace(
                    self._manifest_path(sid),
                    os.path.join(attic, f"split-{sid}.json"),
                )
                # with the entries makedirs added for the attic itself
                touched.update((manifests, attic, rollback_root, self.root))
                moved.append(sid)
        # the moves are durable before the snapshot that relies on them
        for d in sorted(touched):
            _fsync(d)
        return self.commit_snapshot(
            properties={
                "rollback_of": target["snapshot_id"],
                "atticed_splits": moved,
                "restored_splits": restored,
            }
        )

    def expire_snapshots(
        self, keep_last: int = 1, max_age_s: float | None = None
    ) -> dict:
        """Expire old snapshots and vacuum data files ONLY they still
        reference.

        Keeps the most recent ``keep_last`` (>= 1) history entries;
        with ``max_age_s`` set (the Iceberg older_than retention
        form), entries YOUNGER than that are additionally kept even
        beyond keep_last — the two compose as "keep everything from
        the last N days, but always at least keep_last". The
        retained file set is: every file named by a retained snapshot's
        manifest list, plus every file of every LIVE split (covers
        splits committed after the last snapshot). Data files of
        REPLACED splits outside that set are deleted; their manifests
        are KEPT so ``resume_plan`` still sees the splits as done —
        vacuum can never cause reprocessing. Expired history entries
        and their manifest lists are removed, so time travel to an
        expired snapshot fails loudly rather than reading a partial
        table."""
        if keep_last < 1:
            raise ValueError("keep_last must be >= 1 (the current snapshot must survive)")
        snaps = self.snapshots()
        keep = snaps[-keep_last:]
        drop = snaps[:-keep_last]
        if max_age_s is not None:
            cutoff = time.time() - float(max_age_s)
            young = [
                s for s in drop
                if s.get("committed_at_unix", 0) >= cutoff
            ]
            keep = young + keep
            drop = [s for s in drop if s not in young]
        # named refs protect their snapshots (Iceberg tag/branch
        # semantics): a referenced snapshot never expires, however old
        tagged = set(self.tags().values()) | set(self.branches().values())
        if tagged:
            still = [s for s in drop if s["snapshot_id"] in tagged]
            keep = still + keep
            drop = [s for s in drop if s["snapshot_id"] not in tagged]
        retained: set[str] = set()
        for s in keep:
            try:
                with open(os.path.join(self.root, s["manifest_list"])) as f:
                    for e in json.load(f)["entries"].values():
                        retained.update(e["files"])
            except (OSError, KeyError, ValueError):
                continue
        live = self._live_entries()
        for m in live.values():
            retained.update(m["files"])
        deleted_files = 0
        freed_bytes = 0
        for sid in sorted(self.completed_splits()):
            if sid in live:
                continue
            for rel in self._read_manifest(sid)["files"]:
                if rel in retained:
                    continue
                full = os.path.join(self.root, rel)
                if os.path.exists(full):
                    freed_bytes += os.path.getsize(full)
                    os.remove(full)
                    deleted_files += 1
        kept_mlists = {s["manifest_list"] for s in keep}
        cur = self.current_snapshot()
        if cur:
            kept_mlists.add(cur["manifest_list"])
        for s in drop:
            ml = s.get("manifest_list")
            if ml and ml not in kept_mlists:
                try:
                    os.remove(os.path.join(self.root, ml))
                except OSError:
                    pass
            hist = os.path.join(
                self.root,
                _SNAP_DIR,
                f"snap-{s.get('sequence_number', 0):06d}-{s['snapshot_id']}.json",
            )
            try:
                os.remove(hist)
            except OSError:
                pass
        return {
            "expired": [s["snapshot_id"] for s in drop],
            "deleted_files": deleted_files,
            "freed_bytes": freed_bytes,
        }
