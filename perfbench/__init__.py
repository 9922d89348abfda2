"""Benchmark for the extraction engine: ``python3 perfbench/run.py``."""
