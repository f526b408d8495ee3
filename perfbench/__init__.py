"""Benchmark for the mosaic engine: see run.py and README.md."""
