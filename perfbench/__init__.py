"""Benchmark of the bigdata_spark engine; see README.md."""
