"""Benchmark of the eventbridge_etl_spark engine; run ``perfbench/run.py``."""
