"""Benchmark for terasort_spark: see perfbench/README.md."""
