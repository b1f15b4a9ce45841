"""spark-submit entry point for the flagship ingest pipeline.

Launch posture required by BASELINE.json:14 ("run via spark-submit
--py-files"): the engine package ships as a zip on --py-files and this
script is the driver program. Example (what tools/run_submit.sh does):

    python tools/package_pyfiles.py                  # -> dist/osm_pbf_spark.zip
    /opt/spark/bin/spark-submit \
        --master local[8] \
        --py-files dist/osm_pbf_spark.zip \
        jobs/ingest_job.py --pbf <file.pbf> --table <dir> [--cell-level 12]
            [--blobs-per-split N]

The job runs decode -> doc render -> cell index -> Iceberg-shaped sink,
then a PIP join + tile rollup over the ingested table, and prints one
JSON summary line. On a cluster the same invocation works with
--master yarn/k8s because the package is self-contained (numpy/pandas/
pyarrow only) and all state flows through the sink's manifests.
"""

from __future__ import annotations

import argparse
import json
import time

import numpy as np
from pyspark.sql import SparkSession


def main() -> None:
    p = argparse.ArgumentParser()
    p.add_argument("--pbf", required=True)
    p.add_argument("--table", required=True)
    p.add_argument("--cell-level", type=int, default=12)
    # blobs per committed split (default: ingest_pbf's); a killed run
    # resumes at the first uncommitted split
    p.add_argument("--blobs-per-split", type=int, default=None)
    args = p.parse_args()

    # Imports resolve from the --py-files zip (or a dev checkout).
    from osm_pbf_spark.operators.spatial_join import Polygon, pip_join
    from osm_pbf_spark.operators.tiling import assign_point_tiles, tile_pyramid_rollup
    from osm_pbf_spark.plans.ingest import ingest_pbf, read_documents

    spark = SparkSession.builder.appName("osm-pbf-ingest").getOrCreate()
    t0 = time.monotonic()
    split_kw = {} if args.blobs_per_split is None else {"blobs_per_split": args.blobs_per_split}
    ingest_pbf(spark, args.pbf, args.table, cell_level=args.cell_level, **split_kw)
    docs = read_documents(spark, args.table).select("doc_id", "lat", "lon")
    n_docs = docs.count()

    world = Polygon(
        "world_band",
        [np.array([[-60.0, -179.0], [-60.0, 179.0], [60.0, 179.0], [60.0, -179.0]])],
    )
    n_joined = pip_join(spark, docs, [world], level=8).count()
    n_tiles = (
        tile_pyramid_rollup(assign_point_tiles(docs, zoom=10), zoom=10, min_zoom=6)
        .count()
    )
    print(
        json.dumps(
            {
                "job": "ingest",
                "n_docs": int(n_docs),
                "pip_rows": int(n_joined),
                "pyramid_rows": int(n_tiles),
                "wall_sec": round(time.monotonic() - t0, 3),
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
