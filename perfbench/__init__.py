"""Benchmark for the yamr-spark engine; run ``python3 perfbench/run.py --help``."""
