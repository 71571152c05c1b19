"""Benchmark of sensordatapipelines_spark; see perfbench/README.md."""
