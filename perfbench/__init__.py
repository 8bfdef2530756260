"""Benchmark of the spatial importance engine; entry point perfbench/run.py."""
