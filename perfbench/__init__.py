"""Benchmark for the data_warehouse_spark engine (see README.md)."""
