"""Benchmark of the a5pg_spark engine; run it with ``python3 perfbench/run.py``."""
