"""Benchmark of the paper's pipeline; run ``python3 perfbench/run.py --help``."""
