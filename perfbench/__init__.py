"""Benchmark of the near-duplicate engine: see perfbench/README.md."""
