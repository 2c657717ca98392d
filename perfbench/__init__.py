"""Benchmark of the columnstore_spark engine; entry point: run.py."""
