"""Benchmark of the engine: workloads, tracing and checks (see README.md)."""
