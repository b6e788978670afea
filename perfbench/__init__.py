"""Benchmark of the election-dashboard engine; see README.md."""
