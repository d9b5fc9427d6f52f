"""Benchmark of the reference CLI workflow (see run.py)."""
