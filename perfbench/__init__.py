"""Benchmark harness for the logistics pipeline package (see run.py)."""
