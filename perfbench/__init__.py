"""Benchmark of the graphblast_spark engine; see README.md."""
