"""Benchmark of pyspider_spark: workloads, tracing and the result line (README.md)."""
