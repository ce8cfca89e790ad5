"""Benchmark for kgflow: seeded workloads, correctness checks and traced runs."""
