"""Benchmark for flink_ml__spark: see run.py."""
