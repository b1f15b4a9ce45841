"""Tracing for the per-layer run: spans, layer wrappers and Spark metrics.

Spans are recorded here, in the benchmark, around calls into each
public layer entry point; the engine itself is not modified. Spans are
kept in memory and written as JSON lines when the run ends. Spark's
per-stage metrics come from its event log, which only the traced run
enables.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import statistics
import sys
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    span_id: int
    parent: int | None
    name: str
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self) -> None:
        self.enabled = False
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        sp = Span(len(self.spans), self._stack[-1] if self._stack else None, name,
                  time.perf_counter(), attrs=dict(attrs))
        self.spans.append(sp)
        self._stack.append(sp.span_id)
        try:
            yield sp
        finally:
            self._stack.pop()
            sp.end = time.perf_counter()

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name and s.end]

    def self_seconds(self, sp: Span) -> float:
        """Span duration minus the time its direct children cover."""
        kids = [s for s in self.spans if s.parent == sp.span_id and s.end]
        return sp.seconds - sum(k.seconds for k in kids)

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps({
                    "id": s.span_id, "parent": s.parent, "name": s.name,
                    "start": s.start, "end": s.end, "self_s": self.self_seconds(s),
                    **s.attrs,
                }) + "\n")


def _wrap(tracer: Tracer, span_name: str, fn):
    @functools.wraps(fn)
    def wrapper(*args, **kwargs):
        with tracer.span(span_name) as sp:
            out = fn(*args, **kwargs)
            if sp is not None and hasattr(out, "__len__") and not isinstance(out, (str, bytes)):
                try:
                    sp.attrs["rows"] = len(out)
                except TypeError:
                    pass
            return out

    wrapper.__wrapped__ = fn
    return wrapper


# Public layer entry points that run on the driver. Lazy operators
# return a plan here and do their work at the action, which the
# benchmark times as the operation itself.
LAYER_FUNCTIONS = [
    ("osm_pbf_spark.pbf.framing", "scan_blobs", "pbf.scan_blobs"),
    ("osm_pbf_spark.plans.ingest", "ingest_pbf", "plans.ingest_pbf"),
    ("osm_pbf_spark.sources.pbf_source", "read_pbf", "sources.read_pbf"),
    ("osm_pbf_spark.sources.pbf_source", "assemble_way_geometries", "sources.assemble"),
    ("osm_pbf_spark.operators.spatial_join", "pip_join", "spatial_join.pip_join"),
    ("osm_pbf_spark.operators.spatial_join", "polygon_cell_cover", "spatial_join.cover"),
    ("osm_pbf_spark.operators.tiling", "assign_point_tiles", "tiling.assign"),
    ("osm_pbf_spark.operators.tiling", "tile_pyramid_rollup", "tiling.rollup"),
    ("osm_pbf_spark.operators.knn", "knn_join", "knn.knn_join"),
    ("osm_pbf_spark.operators.knn", "_knn_broadcast_brute", "knn.brute"),
    ("osm_pbf_spark.operators.knn", "knn_two_round", "knn.two_round"),
]
SINK_METHODS = ["commit_reported_split", "commit_snapshot", "read", "upsert", "delete_keys",
                "write_split"]


def instrument(tracer: Tracer):
    """Wrap every layer entry point, wherever a module imported it by
    name. Returns a function that restores the originals."""
    import importlib

    from osm_pbf_spark.sink.iceberg_like import IcebergLikeSink

    undo = []
    for mod_name, attr, span_name in LAYER_FUNCTIONS:
        orig = getattr(importlib.import_module(mod_name), attr)
        wrapped = _wrap(tracer, span_name, orig)
        for mod in list(sys.modules.values()):
            if not getattr(mod, "__name__", "").startswith("osm_pbf_spark"):
                continue
            for name, val in list(vars(mod).items()):
                if val is orig:
                    setattr(mod, name, wrapped)
                    undo.append((mod, name, orig))
    for meth in SINK_METHODS:
        orig = getattr(IcebergLikeSink, meth)
        setattr(IcebergLikeSink, meth, _wrap(tracer, f"sink.{meth}", orig))
        undo.append((IcebergLikeSink, meth, orig))

    def restore() -> None:
        for owner, name, orig in reversed(undo):
            setattr(owner, name, orig)

    return restore


@dataclass
class StageStats:
    stages: int = 0
    tasks: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    run_ms: int = 0
    worst_skew: float = 1.0


class EventLog:
    """Incremental reader of Spark's (uncompressed, non-rolling) event log."""

    CONF_KEYS = {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }

    def __init__(self, directory: str) -> None:
        self.directory = directory
        os.makedirs(directory, exist_ok=True)
        self._path: str | None = None
        self._pos = 0

    def conf(self) -> dict[str, str]:
        return {**self.CONF_KEYS, "spark.eventLog.dir": "file://" + os.path.abspath(self.directory)}

    @staticmethod
    def drain(spark) -> None:
        """Wait until the listener bus has delivered every event; the
        event-log writer flushes at each stage and job end."""
        try:
            spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
        except Exception:  # not exposed on every Spark build: fall back to a pause
            time.sleep(0.5)

    def read_new(self) -> list[dict]:
        files = sorted(glob.glob(os.path.join(self.directory, "*")), key=os.path.getmtime)
        if not files:
            return []
        if files[-1] != self._path:
            self._path, self._pos = files[-1], 0
        with open(self._path, "rb") as f:
            f.seek(self._pos)
            data = f.read()
        end = data.rfind(b"\n") + 1
        self._pos += end
        return [json.loads(line) for line in data[:end].splitlines() if line.strip()]

    @staticmethod
    def summarize(events: list[dict], min_tasks_for_skew: int) -> StageStats:
        st = StageStats()
        durations: dict[int, list[int]] = {}
        for e in events:
            kind = e.get("Event")
            if kind == "SparkListenerStageCompleted":
                st.stages += 1
            elif kind == "SparkListenerTaskEnd":
                st.tasks += 1
                info = e.get("Task Info", {})
                durations.setdefault(e.get("Stage ID", -1), []).append(
                    int(info.get("Finish Time", 0)) - int(info.get("Launch Time", 0)))
                m = e.get("Task Metrics") or {}
                st.run_ms += int(m.get("Executor Run Time", 0))
                st.spill_bytes += int(m.get("Disk Bytes Spilled", 0))
                st.shuffle_write_bytes += int(
                    (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0))
        for ds in durations.values():
            if len(ds) >= min_tasks_for_skew:
                med = statistics.median(ds)
                if med > 0:
                    st.worst_skew = max(st.worst_skew, max(ds) / med)
        return st


def jvm_gc_seconds(spark) -> float:
    beans = spark.sparkContext._jvm.java.lang.management.ManagementFactory \
        .getGarbageCollectorMXBeans()
    return sum(max(0, b.getCollectionTime()) for b in beans) / 1000.0
