"""Benchmark for ticktock_spark: see run.py and BENCHMARK.json."""
