"""Benchmark for pgferry_spark; see run.py."""
