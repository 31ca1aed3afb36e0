"""Benchmark of the engine: three seeded workloads driven through its
public calls (see perfbench/README.md)."""
