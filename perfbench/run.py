"""Benchmark of the osm_pbf_spark engine, run from the repository root:

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Builds its seeded inputs under ``.perfbench/`` in the current directory,
starts one local[n] Spark driver (n = cores of this host) and times its
cold set-up as ``setup_s``: launching the JVM and SparkContext, the
workload's warm-up, and the timed operations of one first iteration
(after the untimed fixture), which still pays JIT and first-plan costs.
It then times the workload's operations for S seconds, checking every
result against the repository's oracles. Human-readable lines go to
stdout first; the last line is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``.

The traced run spends S/2 untraced, then starts a new SparkContext with
the Spark event log on, repeats the warm-up and the warming iteration,
and spends S/2 traced (event log plus spans around each layer entry
point); the fastest traced iteration minus the fastest untraced one is
``trace.overhead_s``. It then runs traced-only layer probes and, for
pbf_ingest and spatial_batch, a local[1] leg for
``spark.scaling_eff_1_4``.
Spans are written to ``.perfbench/trace-<workload>-<seed>.jsonl`` at exit.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import shutil
import signal
import sys
import time

# the local[1] leg of a traced run takes up to ~45 s; it is skipped (and
# spark.scaling_eff_1_4 reads 0) when less than that remains of a
# 180 s run
SCALING_LEG_LATEST_START_S = 120
DRIVER_MEMORY = "3g"
YOUNG_GEN = "512m"

END_TO_END = {  # name -> unit
    "setup_s": "s",
    "wall_s": "s",
    "docs_per_s": "1/s",
    "read_p50_ms": "ms",
    "peak_rss_mb": "MB",
    "stored_bytes_per_input_byte": "B/B",
}
PER_LAYER = {
    "pbf.scan_s": "s",
    "pbf.decode_nodes_per_s": "1/s",
    "pbf.decode_ways_per_s": "1/s",
    "docrender.render_s": "s",
    "cells.cell_id_ns": "ns",
    "sink.commit_s": "s",
    "sink.files_per_split": "count",
    "sink.bytes_per_doc": "B",
    "sink.scan_s": "s",
    "sink.pruned_file_ratio": "ratio",
    "sink.delete_manifests": "count",
    "sink.upsert_s": "s",
    "sources.assembly_s": "s",
    "sources.assembly_shuffle_bytes": "B",
    "spatial_join.cover_s": "s",
    "spatial_join.cover_cells": "count",
    "spatial_join.candidates_per_match": "ratio",
    "spatial_join.full_cell_share": "ratio",
    "tiling.rollup_s": "s",
    "tiling.leaf_tiles": "count",
    "knn.brute_s": "s",
    "knn.two_round_s": "s",
    "knn.stages_per_call": "count",
    "spark.stages_per_op": "count",
    "spark.tasks_per_op": "count",
    "spark.shuffle_write_bytes": "B",
    "spark.spill_bytes": "B",
    "spark.gc_s": "s",
    "spark.busy_fraction": "ratio",
    "spark.task_skew": "ratio",
    "spark.scaling_eff_1_4": "ratio",
    "trace.overhead_s": "s",
}
SCALING_WORKLOADS = ("pbf_ingest", "spatial_batch")


def prepare_environment(root: str, work: str) -> None:
    """Keep every file the run writes inside the checkout, and let the
    Python workers import the engine from any working directory."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [root] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ.pop("SPARK_GRAFT_CPUS", None)
    sys.path.insert(0, root)


class Run:
    """What the workloads share: arguments, session, ledger, tracer."""

    def __init__(self, args, work: str) -> None:
        from perfbench.harness import Ledger, Session, host_cores
        from perfbench.trace import EventLog, Tracer

        self.seed = args.seed
        self.seconds = args.seconds
        self.trace = bool(args.trace)
        self.work = work
        self.started = time.perf_counter()
        self.cores = host_cores()
        self.evlog = EventLog(os.path.join(work, f"events-{os.getpid()}")) if self.trace else None
        self.conf = {
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            # a fixed heap and young generation: the JVM's resident memory
            # then follows what the engine keeps live, not the collector's
            # resizing
            "spark.driver.extraJavaOptions": (f"-Xms{DRIVER_MEMORY} -Xmn{YOUNG_GEN} "
                                              f"-Djava.io.tmpdir={os.environ['TMPDIR']}"),
        }
        self.session = Session(f"local[{self.cores}]", self.conf)
        self.ledger = Ledger()
        self.tracer = Tracer()
        self.traced_ops = []


def measure(run, wl, seconds: float) -> dict:
    """Run whole iterations until the timed operations have taken
    ``seconds`` (at least one iteration). An iteration's wall time is
    the sum of its operations' timed sections; the untimed correctness
    checks between them are left out. Its rate is the docs of its
    successful operations over that wall time."""
    from perfbench.harness import RssSampler, jvm_pid

    first = len(run.ledger.ops)
    rss = RssSampler()
    rss.start(jvm_pid(run.session.spark))
    walls, rates = [], []
    try:
        while True:
            n = len(run.ledger.ops)
            wl.iteration()
            ops = run.ledger.ops[n:]
            walls.append(sum(o.seconds for o in ops))
            rates.append(sum(o.docs for o in ops if o.ok) / walls[-1])
            if sum(walls) >= seconds:
                break
    finally:
        rss.stop()
    return {"walls": walls, "rates": rates, "elapsed": sum(walls),
            "ops": run.ledger.ops[first:], "peak_rss": rss.peak_bytes}


def restart(run, master: str, conf: dict) -> None:
    """A new SparkContext in the running JVM, with the given master and conf."""
    from perfbench.harness import Session

    run.session.stop()
    run.session = Session(master, conf)
    run.session.start()


def warm_iteration(run, wl) -> float:
    """One iteration before the measured window, so that the window
    holds steady-state iterations; its operations are checked and
    counted like any other. Returns their timed seconds."""
    if not wl.warm_iteration:
        return 0.0
    n = len(run.ledger.ops)
    wl.iteration()
    return sum(o.seconds for o in run.ledger.ops[n:])


def end_to_end(wl, setup_s: float, m: dict) -> dict:
    from perfbench.harness import median

    ok = [o for o in m["ops"] if o.ok]
    reads = [o.seconds for o in ok if o.kind == "read"]
    return {
        "setup_s": setup_s,
        "wall_s": median(m["walls"]),
        "docs_per_s": median(m["rates"]),
        "read_p50_ms": 1000.0 * median(reads) if reads else 0.0,
        "peak_rss_mb": m["peak_rss"] / 2**20,
        "stored_bytes_per_input_byte": wl.stored_bytes_per_input_byte(),
    }


def report(wl, gen_s, fixture_s, m, metrics) -> None:
    """Every metric with unit and sample count, plus the figures that
    only some workloads have (write latency, tail latency, error rate)."""
    from perfbench.harness import median, tail_percentile

    ops = m["ops"]
    ok = [o for o in ops if o.ok]
    reads = [o.seconds for o in ok if o.kind == "read"]
    writes = [o.seconds for o in ok if o.kind == "write"]
    samples = {"setup_s": 1, "wall_s": len(m["walls"]), "docs_per_s": len(m["rates"]),
               "read_p50_ms": len(reads)}
    print(f"# {wl.name} seed={wl.run.seed} cores={wl.run.cores} docs={wl.corpus.n_docs} "
          f"pbf_bytes={wl.corpus.n_bytes} generation_s={gen_s:.3f} fixture_s={fixture_s:.3f} "
          f"jvm_restarts={wl.run.session.restarts_after_loss}")
    for name, value in metrics.items():
        print(f"{name:32s} {value:14.4f} {END_TO_END.get(name, PER_LAYER.get(name, '')):6s} "
              f"n={samples.get(name, len(ops))}")
    print(f"{'ops_per_s':32s} {len(ok) / m['elapsed']:14.4f} 1/s    n={len(ok)}")
    if reads:
        p, tail = tail_percentile(reads)
        print(f"{'read_tail_ms':32s} {1000 * tail:14.4f} ms     n={len(reads)} (p{p:.0f})")
    if writes:
        print(f"{'write_p50_ms':32s} {1000 * median(writes):14.4f} ms     n={len(writes)}")
    for name in dict.fromkeys(o.name for o in ops):
        secs = [round(o.seconds, 3) for o in ok if o.name == name]
        print(f"  op {name}: {secs}")
    failed = sum(not o.ok for o in ops)
    print(f"{'error_rate':32s} {failed / max(1, len(ops)):14.4f} ratio  n={len(ops)}")
    for o in ops:
        if not o.ok:
            print(f"  failed {o.name}: {o.error}")


def layer_probes(run, wl, out: dict) -> None:
    """In-process layer rates and table-shape figures common to all
    workloads."""
    import numpy as np

    from osm_pbf_spark.functions import cells
    from osm_pbf_spark.pbf.decode import decode_primitive_block
    from osm_pbf_spark.pbf.framing import read_blob_payload, scan_blobs
    from perfbench.harness import median
    from perfbench.workloads import manifests, table_bytes

    path = wl.corpus.path
    scans = []
    for _ in range(5):
        t = time.perf_counter()
        refs = scan_blobs(path)
        scans.append(time.perf_counter() - t)
    out["pbf.scan_s"] = median(scans)
    data = [r for r in refs if r.blob_type == "OSMData"]
    payloads = [read_blob_payload(path, r.offset, r.size) for r in data]
    for kind, key in (("nodes", "pbf.decode_nodes_per_s"), ("ways", "pbf.decode_ways_per_s")):
        blocks = [(p, n) for p in payloads if (n := decode_primitive_block(p)[kind].num_rows)]
        n_ent, t0 = 0, time.perf_counter()
        while time.perf_counter() - t0 < 0.5:
            for p, n in blocks:
                decode_primitive_block(p)
                n_ent += n
        out[key] = n_ent / (time.perf_counter() - t0)
    rng = np.random.default_rng([run.seed, 3])
    lat, lon = rng.uniform(-85, 85, 1_000_000), rng.uniform(-180, 180, 1_000_000)
    reps, t0 = 0, time.perf_counter()
    while time.perf_counter() - t0 < 0.5:
        cells.cell_id(lat, lon, 12)
        reps += 1
    out["cells.cell_id_ns"] = (time.perf_counter() - t0) / (reps * len(lat)) * 1e9
    ms = [m for m in manifests(wl.table_root) if m.get("kind") != "equality_deletes"]
    out["sink.files_per_split"] = sum(len(m["files"]) for m in ms) / max(1, len(ms))
    out["sink.bytes_per_doc"] = table_bytes(wl.table_root) / max(1, sum(m["n_rows"] for m in ms))


def spark_metrics(run, wl, phase_wall: float, gc_s: float, out: dict) -> None:
    from perfbench.trace import EventLog

    per_op = [ev for evs in wl.op_events.values() for ev in evs]
    stats = [EventLog.summarize(ev, run.cores) for ev in per_op]
    n = max(1, len(stats))
    out["spark.stages_per_op"] = sum(s.stages for s in stats) / n
    out["spark.tasks_per_op"] = sum(s.tasks for s in stats) / n
    out["spark.shuffle_write_bytes"] = sum(s.shuffle_write_bytes for s in stats) / n
    out["spark.spill_bytes"] = sum(s.spill_bytes for s in stats) / n
    out["spark.gc_s"] = gc_s
    out["spark.busy_fraction"] = sum(s.run_ms for s in stats) / 1000.0 / (phase_wall * run.cores)
    out["spark.task_skew"] = max([s.worst_skew for s in stats], default=1.0)


def scaling_leg(run, wl, docs_per_s_n: float) -> float:
    """docs_per_s at local[n] over docs_per_s at local[1], divided by n."""
    restart(run, "local[1]", run.conf)
    wl.warm_up()
    docs_per_s_1 = measure(run, wl, 0.0)["rates"][0]
    return (docs_per_s_n / docs_per_s_1) / run.cores if docs_per_s_1 else 0.0


def traced_run(run, wl, setup_s, gen_s, fixture_s) -> dict:
    from perfbench.harness import median
    from perfbench.trace import instrument, jvm_gc_seconds

    # the untraced half runs on the session as set up; the traced half on
    # a new SparkContext with the event log on, after the same warm-up
    plain = measure(run, wl, run.seconds / 2)
    report(wl, gen_s, fixture_s, plain, end_to_end(wl, setup_s, plain))
    restart(run, run.session.master, {**run.conf, **run.evlog.conf()})
    wl.warm_up()
    warm_iteration(run, wl)
    run.evlog.read_new()
    out = {k: 0.0 for k in PER_LAYER}
    run.tracer.enabled = True
    restore = instrument(run.tracer)
    try:
        gc0 = jvm_gc_seconds(run.session.spark)
        traced = measure(run, wl, run.seconds / 2)
        gc_s = jvm_gc_seconds(run.session.spark) - gc0
        run.traced_ops = traced["ops"]
        spark_metrics(run, wl, traced["elapsed"], gc_s, out)
        # fastest iteration of each half: both halves start with a slower
        # first iteration after their warm-up
        out["trace.overhead_s"] = min(traced["walls"]) - min(plain["walls"])
        layer_probes(run, wl, out)
        wl.layer_metrics(out)
    finally:
        restore()
        run.tracer.enabled = False
    if time.perf_counter() - run.started > SCALING_LEG_LATEST_START_S:
        print("# local[1] leg skipped: run too long to fit it")
    elif wl.name in SCALING_WORKLOADS:
        out["spark.scaling_eff_1_4"] = scaling_leg(run, wl, median(plain["rates"]))
    run.tracer.write(os.path.join(run.work, f"trace-{wl.name}-{run.seed}.jsonl"))
    for name in PER_LAYER:
        print(f"{name:36s} {out[name]:16.6f} {PER_LAYER[name]}")
    return out


def shutdown(run) -> None:
    """Stop Spark, the JVM and its Python workers, and wait for each."""
    from pyspark import SparkContext

    from perfbench.harness import RssSampler, jvm_pid

    session = run.session
    if session.spark is None:
        return
    sampler = RssSampler()
    try:
        sampler.root_pid = jvm_pid(session.spark)
        pids = sampler.tree_pids()
    except Exception:  # JVM already gone: nothing left to enumerate
        pids = []
    session.stop()
    gw = SparkContext._gateway
    if gw is not None:
        gw.shutdown()
        proc = getattr(gw, "proc", None)
        if proc is not None:
            try:
                proc.stdin.close()
                proc.wait(timeout=30)
            except Exception:
                proc.kill()
                proc.wait(timeout=10)
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.monotonic() + 15
    for pid in pids:
        while os.path.exists(f"/proc/{pid}") and time.monotonic() < deadline:
            time.sleep(0.1)
        if os.path.exists(f"/proc/{pid}"):
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    work = os.path.join(root, ".perfbench")
    prepare_environment(root, work)
    try:
        import osm_pbf_spark  # noqa: F401
        import pyspark  # noqa: F401

        from perfbench.workloads import WORKLOADS
    except ImportError as exc:
        print(f"perfbench: cannot import the engine from {root}: {exc}", file=sys.stderr)
        return 2
    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2

    run = Run(args, work)
    try:
        t = time.perf_counter()
        wl = WORKLOADS[args.workload](run)
        gen_s = time.perf_counter() - t
        t = time.perf_counter()
        run.session.start()
        wl.warm_up()
        setup_s = time.perf_counter() - t
        t = time.perf_counter()
        wl.fixture()
        fixture_s = time.perf_counter() - t
        setup_s += warm_iteration(run, wl)
        if run.trace:
            metrics = traced_run(run, wl, setup_s, gen_s, fixture_s)
        else:
            m = measure(run, wl, run.seconds)
            metrics = end_to_end(wl, setup_s, m)
            report(wl, gen_s, fixture_s, m, metrics)
    finally:
        shutdown(run)
        for d in glob.glob(os.path.join(work, f"*-{os.getpid()}")):
            shutil.rmtree(d, ignore_errors=True)

    ops = run.ledger.ops
    result = {
        "correct": not any(o.error.startswith("check") for o in ops),
        "attempted": len(ops),
        "failed": sum(not o.ok for o in ops),
        "metrics": {k: {"value": float(v), "unit": {**END_TO_END, **PER_LAYER}[k]}
                    for k, v in metrics.items()},
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
