"""Benchmark for the KG engine: see perfbench/README.md."""
