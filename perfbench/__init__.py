"""Benchmark of the geomesa_spark engine; see README.md in this directory."""
