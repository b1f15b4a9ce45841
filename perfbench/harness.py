"""Session lifecycle, timed operations and failure accounting.

One driver process, ``local[n]`` with n = the host's core count. Every
timed operation runs under its own Spark job group with a deadline: a
timer cancels the group when the deadline passes, and an operation
that raises, overruns its deadline or fails its correctness check
counts as failed. A lost driver JVM is replaced by a fresh session and
the operation in flight counts as failed.
"""

from __future__ import annotations

import os
import statistics
import threading
import time
import traceback
from dataclasses import dataclass, field


def host_cores() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


class CheckFailed(Exception):
    """An operation's output differs from the reference implementation."""


@dataclass
class OpRecord:
    kind: str  # "read" or "write"
    name: str
    seconds: float
    docs: int
    ok: bool
    error: str = ""


@dataclass
class Ledger:
    """Every operation attempted during the measured window."""

    ops: list[OpRecord] = field(default_factory=list)

    def add(self, rec: OpRecord) -> None:
        self.ops.append(rec)

    @property
    def attempted(self) -> int:
        return len(self.ops)

    @property
    def failed(self) -> int:
        return sum(not o.ok for o in self.ops)


class Session:
    """Owns the SparkSession; restarts it on demand or after a lost JVM."""

    def __init__(self, master: str, conf: dict[str, str]) -> None:
        self.master = master
        self.conf = conf
        self.spark = None
        self.restarts_after_loss = 0

    def start(self):
        from osm_pbf_spark.session import get_spark

        self.spark = get_spark("perfbench", master=self.master, extra_conf=self.conf)
        return self.spark

    def stop(self) -> None:
        if self.spark is not None:
            try:
                self.spark.stop()
            finally:
                self.spark = None

    def jvm_alive(self) -> bool:
        try:
            return self.spark is not None and not self.spark.sparkContext._jsc.sc().isStopped()
        except Exception:  # py4j raises assorted errors once the gateway is gone
            return False

    def recover(self) -> None:
        """Replace a session whose JVM died: drop PySpark's cached gateway
        so the next start launches a new JVM."""
        from pyspark import SparkContext
        from pyspark.sql import SparkSession

        try:
            self.stop()
        except Exception:  # the dead JVM cannot acknowledge the stop
            pass
        SparkContext._gateway = None
        SparkContext._jvm = None
        SparkContext._active_spark_context = None
        SparkSession._instantiatedSession = None
        SparkSession._activeSession = None
        self.restarts_after_loss += 1
        self.start()


def run_op(session: Session, ledger: Ledger, kind: str, name: str, docs: int,
           deadline_s: float, action, check, on_done=None) -> object:
    """Time ``action()`` under a cancellable job group, then verify its
    result with ``check(result)`` outside the timed region; ``on_done()``
    runs between the two. Returns the result, or None when the operation
    failed."""
    sc = session.spark.sparkContext
    group = f"perfbench-{name}-{ledger.attempted}"
    sc.setJobGroup(group, name, interruptOnCancel=True)
    done = threading.Event()

    def watchdog():
        # an operation may start further jobs after one is cancelled:
        # keep cancelling the group until the operation returns
        if not done.wait(deadline_s):
            while not done.wait(0.5):
                sc.cancelJobGroup(group)

    dog = threading.Thread(target=watchdog, daemon=True)
    dog.start()
    t0 = time.perf_counter()
    try:
        result = action()
        seconds = time.perf_counter() - t0
    except Exception as exc:
        seconds = time.perf_counter() - t0
        err = "deadline" if seconds >= deadline_s else f"{type(exc).__name__}: {str(exc)[:300]}"
        ledger.add(OpRecord(kind, name, seconds, docs, False, err))
        if not session.jvm_alive():
            session.recover()
        return None
    finally:
        done.set()
        dog.join()
    if on_done is not None:
        on_done()
    if seconds >= deadline_s:
        ledger.add(OpRecord(kind, name, seconds, docs, False, "deadline"))
        return None
    try:
        check(result)
    except CheckFailed as exc:
        ledger.add(OpRecord(kind, name, seconds, docs, False, f"check: {exc}"))
        return None
    except Exception:
        ledger.add(OpRecord(kind, name, seconds, docs, False,
                            "check raised: " + traceback.format_exc(limit=3)))
        return None
    ledger.add(OpRecord(kind, name, seconds, docs, True))
    return result


class RssSampler:
    """Peak resident memory of the driver JVM plus its descendant
    processes (the Python worker daemon and workers), sampled from /proc."""

    def __init__(self, interval_s: float = 0.1) -> None:
        self.interval_s = interval_s
        self.root_pid: int | None = None
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def start(self, jvm_pid: int) -> None:
        self.root_pid = jvm_pid
        self._stop.clear()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()

    def stop(self) -> None:
        self._stop.set()
        if self._thread is not None:
            self._thread.join(timeout=5)
            self._thread = None

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak_bytes = max(self.peak_bytes, self._tree_rss())
            self._stop.wait(self.interval_s)

    def _tree_rss(self) -> int:
        return sum(rss for _pid, rss in self._tree())

    def tree_pids(self) -> list[int]:
        return [pid for pid, _rss in self._tree()]

    def _tree(self) -> list[tuple[int, int]]:
        """(pid, rss bytes) of the root process and all its descendants."""
        page = os.sysconf("SC_PAGE_SIZE")
        children: dict[int, list[int]] = {}
        rss: dict[int, int] = {}
        for d in os.listdir("/proc"):
            if not d.isdigit():
                continue
            try:
                with open(f"/proc/{d}/stat") as f:
                    stat = f.read()
            except OSError:
                continue
            fields = stat[stat.rindex(")") + 2:].split()
            pid = int(d)
            children.setdefault(int(fields[1]), []).append(pid)
            rss[pid] = int(fields[21]) * page
        out, todo = [], [self.root_pid]
        while todo:
            pid = todo.pop()
            if pid in rss:
                out.append((pid, rss[pid]))
            todo.extend(children.get(pid, []))
        return out


def jvm_pid(spark) -> int:
    return int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())


def median(values: list[float]) -> float:
    return float(statistics.median(values)) if values else float("nan")


def tail_percentile(values: list[float]) -> tuple[float, float]:
    """(p, value): p90 when there are at least 100 samples, else the
    highest percentile that still has ten samples beyond it; the median
    of fewer than 20 samples is the best available and is labelled p50."""
    n = len(values)
    if not n:
        return 0.0, float("nan")
    if n >= 100:
        p = 90.0
    else:
        p = max(50.0, 100.0 * (n - 10) / n)
    s = sorted(values)
    idx = min(n - 1, max(0, int(round(p / 100.0 * (n - 1)))))
    return p, float(s[idx])
