"""Benchmark for the stream and batch paths; entry point is run.py."""
