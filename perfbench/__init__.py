"""Benchmark for goetl_spark: see README.md."""
