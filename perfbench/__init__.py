"""Benchmark for the spark-graft engine; run ``perfbench/run.py``."""
