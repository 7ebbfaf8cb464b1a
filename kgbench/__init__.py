"""Benchmark of the end-to-end KG pipeline (see README.md)."""
