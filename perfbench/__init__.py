"""Benchmark of the package: see README.md."""
