"""Benchmark of the ariadna_spark engine; run perfbench/run.py."""
