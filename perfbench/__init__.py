"""Benchmark of record for the medallion engine; run ``perfbench/run.py``."""
