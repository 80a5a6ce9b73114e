"""Benchmark of the bpspark engine: workloads, tracing and metrics (entry point: perfbench/run.py)."""
