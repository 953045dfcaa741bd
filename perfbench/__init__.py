"""Benchmark of the flagship pages pipeline (see README.md)."""
