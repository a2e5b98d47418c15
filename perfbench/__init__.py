"""Benchmark of the podcast system; see run.py."""
