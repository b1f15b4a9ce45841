"""spark-submit entry point for the extract/re-publish pipeline.

The writer-side twin of jobs/ingest_job.py: read one (or many) OSM-PBF
files, clip nodes to a bbox, and re-publish the result as a fleet of
spec-valid .osm.pbf files (sink/pbf_writer) — the "regional extract"
job every OSM data consumer runs. Same launch posture:

    python tools/package_pyfiles.py                  # -> dist/osm_pbf_spark.zip
    /opt/spark/bin/spark-submit \
        --master local[8] \
        --py-files dist/osm_pbf_spark.zip \
        jobs/export_job.py --pbf <in.pbf> --out <dir> \
        --bbox=-10,-10,10,10 [--n-files 4]
        # (use --bbox=... : argparse rejects a leading-dash value otherwise)

Clip semantics (documented, simple): nodes strictly inside the bbox
are kept; ways and relations pass through unchanged (id-global
downstream joins re-resolve membership — a topological clip that
drops dangling refs is a different, lossier product). Prints one JSON
summary line.
"""

from __future__ import annotations

import argparse
import json
import time

from pyspark.sql import SparkSession


def main() -> None:
    p = argparse.ArgumentParser()
    p.add_argument("--pbf", required=True, nargs="+")
    p.add_argument("--out", required=True)
    p.add_argument("--bbox", required=True,
                   help="lat_min,lon_min,lat_max,lon_max")
    p.add_argument("--n-files", type=int, default=2)
    args = p.parse_args()
    lat0, lon0, lat1, lon1 = (float(x) for x in args.bbox.split(","))

    from pyspark.sql import functions as F

    from osm_pbf_spark.sink.pbf_writer import write_pbf_files
    from osm_pbf_spark.sources import pbf_source as src

    spark = SparkSession.builder.appName("osm-pbf-export").getOrCreate()
    t0 = time.monotonic()
    ents, header = src.read_pbf(spark, args.pbf)
    clipped = ents.where(
        (F.col("kind") != "node")
        | (
            F.col("lat").between(F.lit(lat0), F.lit(lat1))
            & F.col("lon").between(F.lit(lon0), F.lit(lon1))
        )
    )
    out_header = dict(header or {})
    out_header["bbox"] = {
        "left": lon0, "right": lon1, "top": lat1, "bottom": lat0
    }
    manifest = write_pbf_files(
        clipped, args.out, n_files=args.n_files, header=out_header
    )
    wall = time.monotonic() - t0
    print(json.dumps({
        "job": "export",
        "n_files": len(manifest),
        "n_nodes": sum(m["n_nodes"] for m in manifest),
        "n_ways": sum(m["n_ways"] for m in manifest),
        "n_relations": sum(m["n_relations"] for m in manifest),
        "n_bytes": sum(m["n_bytes"] for m in manifest),
        "wall_sec": round(wall, 3),
    }))


if __name__ == "__main__":
    main()
