"""Benchmark of the jq engine; run ``python3 perfbench/run.py --help``."""
