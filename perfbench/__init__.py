"""Benchmark of the CDC pipeline and the batch query surface (see README.md)."""
