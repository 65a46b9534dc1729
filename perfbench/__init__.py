"""Benchmark of the engine: three seeded workloads, end-to-end and per-layer metrics."""
