"""Benchmark for the K-Means/dedup engine; run ``python3 perfbench/run.py --help``."""
