"""Benchmark of the inverted-index engine; see README.md and run.py."""
