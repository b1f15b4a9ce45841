"""Benchmark of the osm_pbf_spark engine; see run.py for usage."""
