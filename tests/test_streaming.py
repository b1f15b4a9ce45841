"""Structured Streaming surface: batch-parity of the windowed
aggregation, single-batch and cross-batch semantics of the stateful
first-seen dedup, and the availableNow drain harness itself."""

from __future__ import annotations

import datetime as dt
import os

from pyspark.sql import functions as F


def _mk_events(spark, n=400):
    base = dt.datetime(2024, 3, 1, 0, 0, 0)
    rows = [
        (
            i,
            base + dt.timedelta(seconds=(i * 97) % 7200),
            ["view", "click", "error"][i % 3],
            float((i * 13) % 500) / 7.0,
        )
        for i in range(n)
    ]
    return spark.createDataFrame(
        rows, "event_id long, ts timestamp, event_type string, value double"
    )


def test_windowed_counts_equals_batch(spark, tmp_path):
    from osm_pbf_spark.streaming import (
        run_available_now,
        stream_parquet,
        windowed_counts,
    )

    src = str(tmp_path / "ev")
    df = _mk_events(spark)
    df.write.parquet(src)

    sdf = stream_parquet(spark, src)
    assert sdf.isStreaming
    got = run_available_now(
        windowed_counts(sdf, "ts", ["event_type"], "10 minutes", val_col="value")
    )
    exp = (
        df.groupBy(F.window("ts", "10 minutes"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(
                F.floor(F.col("value") * F.lit(100.0) + F.lit(0.5)).cast("bigint")
            ).alias("sum_q"),
        )
        .select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            "event_type",
            "n",
            "sum_q",
        )
    )
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, exp.collect()))


def test_stream_dedup_single_batch_equals_group_by(spark, tmp_path):
    from osm_pbf_spark.streaming import run_available_now, stream_dedup, stream_parquet

    src = str(tmp_path / "docs")
    rows = [(i, f"text-{i % 40}") for i in range(200)]  # 40 distinct, 5 copies
    df = spark.createDataFrame(rows, "doc_id long, text string")
    df.write.parquet(src)

    sdf = stream_parquet(spark, src).select(
        F.md5("text").alias("fp"), F.col("doc_id")
    )
    got = run_available_now(
        stream_dedup(sdf, "fp", "doc_id"),
        output_mode="append",
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    exp = (
        df.groupBy(F.md5("text").alias("fp"))
        .agg(F.min("doc_id").alias("keep_id"), F.count(F.lit(1)).alias("n_copies"))
    )
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, exp.collect()))


def test_stream_dedup_cross_batch_suppression(spark, tmp_path):
    """Two files drained one-per-micro-batch: fingerprints seen in batch
    1 must NOT re-emit in batch 2, and batch-2 newcomers carry only
    their own batch's min id / count."""
    from osm_pbf_spark.streaming import run_available_now, stream_dedup, stream_parquet

    d1 = str(tmp_path / "b1")
    d2 = str(tmp_path / "b2")
    src = str(tmp_path / "src")
    os.makedirs(src)
    # batch 1: fps A (ids 10, 11), B (id 20); batch 2: B again (id 1 —
    # smaller, must be ignored) and C (ids 30, 31)
    spark.createDataFrame(
        [(10, "A"), (11, "A"), (20, "B")], "doc_id long, text string"
    ).coalesce(1).write.parquet(d1)
    spark.createDataFrame(
        [(1, "B"), (30, "C"), (31, "C")], "doc_id long, text string"
    ).coalesce(1).write.parquet(d2)
    # one data file per dir -> copy into src with mtimes forcing order
    f1 = [f for f in os.listdir(d1) if f.endswith(".parquet")][0]
    f2 = [f for f in os.listdir(d2) if f.endswith(".parquet")][0]
    os.rename(os.path.join(d1, f1), os.path.join(src, "a_" + f1))
    os.rename(os.path.join(d2, f2), os.path.join(src, "b_" + f2))
    os.utime(os.path.join(src, "a_" + f1), (1_700_000_000, 1_700_000_000))
    os.utime(os.path.join(src, "b_" + f2), (1_700_000_100, 1_700_000_100))

    sdf = stream_parquet(spark, src, max_files_per_trigger=1).select(
        F.col("text").alias("fp"), F.col("doc_id")
    )
    got = {
        r.fp: (r.keep_id, r.n_copies)
        for r in run_available_now(
            stream_dedup(sdf, "fp", "doc_id"),
            output_mode="append",
            checkpoint_dir=str(tmp_path / "ckpt2"),
        ).collect()
    }
    assert got == {"A": (10, 2), "B": (20, 1), "C": (30, 2)}


def test_watermark_append_drops_late_rows(spark, tmp_path):
    """Append mode + watermark, the actual Spark contract (probed, not
    assumed): a late row arriving while its window is STILL IN STATE
    merges (the watermark is an eviction bound, not an eager input
    filter), a window emits exactly once when the end-of-batch
    watermark passes its end, and a straggler arriving AFTER that
    finalization is dropped (numRowsDroppedByWatermark) — never a
    duplicate window row. Three mtime-ordered single-file batches make
    the sequence deterministic."""
    import datetime as dt
    import os

    from osm_pbf_spark.streaming import stream_parquet, windowed_counts

    src = str(tmp_path / "src")
    os.makedirs(src)
    base = dt.datetime(2024, 3, 1, 0, 0, 0)

    def land(name, rows, mtime):
        d = str(tmp_path / ("stage_" + name))
        spark.createDataFrame(rows, "ts timestamp, k string").coalesce(1).write.parquet(d)
        f = [x for x in os.listdir(d) if x.endswith(".parquet")][0]
        os.rename(os.path.join(d, f), os.path.join(src, name + ".parquet"))
        os.utime(os.path.join(src, name + ".parquet"), (mtime, mtime))

    # batch 0: 3 rows in the 00:00-00:10 window + a 02:00 row that
    # will advance the watermark to 01:50 at batch end
    land(
        "a",
        [(base + dt.timedelta(minutes=m), "x") for m in (1, 2, 3)]
        + [(base + dt.timedelta(hours=2), "x")],
        1_700_000_000,
    )
    # batch 1: one live-window row; at ITS end the 00:00 window
    # (end 00:10 < wm 01:50) finalizes: emitted with n=3, evicted
    land("b", [(base + dt.timedelta(hours=2, minutes=1), "x")], 1_700_000_100)
    # batch 2: a straggler for the finalized window + a live row; the
    # straggler must be DROPPED (would otherwise re-emit n=1)
    land(
        "c",
        [
            (base + dt.timedelta(minutes=4), "x"),
            (base + dt.timedelta(hours=2, minutes=2), "x"),
        ],
        1_700_000_200,
    )

    sdf = stream_parquet(spark, src, max_files_per_trigger=1)
    out = windowed_counts(sdf, "ts", ["k"], "10 minutes", watermark="10 minutes")
    q = (
        out.writeStream.format("memory")
        .queryName("wm_pin")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rows = spark.table("wm_pin").collect()
    # exactly ONE emission of the finalized window, with the pre-
    # finalization count; the straggler neither merged nor re-emitted
    assert [(r.window_start, r.k, r.n) for r in rows] == [(base, "x", 3)]
    dropped = sum(
        p["stateOperators"][0].get("numRowsDroppedByWatermark", 0)
        for p in q.recentProgress
        if p["stateOperators"]
    )
    assert dropped == 1


def test_streaming_pip_equals_batch_pip(spark, tmp_path):
    """The batch pip_join plan applied to a STREAMING point source
    (stream-static broadcast join + stateless mapInArrow refine) must
    produce exactly the batch result on the same points."""
    import numpy as np

    from osm_pbf_spark.operators.spatial_join import Polygon, pip_join
    from osm_pbf_spark.streaming import run_available_now, stream_parquet

    polys = [
        Polygon("rect", [np.array([[-5.0, -5.0], [-5.0, 5.0], [5.0, 5.0], [5.0, -5.0]])]),
        Polygon("tri", [np.array([[0.0, 10.0], [8.0, 18.0], [-8.0, 18.0]])]),
    ]
    src = str(tmp_path / "pts")
    pts = spark.range(3000).select(
        F.col("id").alias("doc_id"),
        (F.pmod(F.col("id") * 7919, F.lit(3000)).cast("double") / 100.0 - 15.0).alias("lat"),
        (F.pmod(F.col("id") * 104729, F.lit(6000)).cast("double") / 100.0 - 30.0).alias("lon"),
    )
    pts.write.parquet(src)

    batch = sorted(
        map(tuple, pip_join(spark, spark.read.parquet(src), polys, level=8)
            .select("doc_id", "poly_id").collect())
    )
    spts = stream_parquet(spark, src)
    stream = sorted(
        map(tuple, run_available_now(
            pip_join(spark, spts, polys, level=8).select("doc_id", "poly_id"),
            output_mode="append",
        ).collect())
    )
    assert stream == batch and len(batch) > 0
