"""Benchmark for the spark-fulltext engine: ``python3 perfbench/run.py``."""
