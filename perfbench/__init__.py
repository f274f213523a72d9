"""Benchmark for the incremental delta-query engine (see README.md)."""
