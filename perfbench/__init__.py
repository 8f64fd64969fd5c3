"""Benchmark of the weather engine; run ``perfbench/run.py``."""
