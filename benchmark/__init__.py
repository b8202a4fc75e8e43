"""Benchmark of the interval operators: seeded workloads, a numpy oracle and
per-layer tracing. Entry point: ``python3 benchmark/run.py``."""
