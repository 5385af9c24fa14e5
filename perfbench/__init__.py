"""Benchmark of record for the CDC pipeline; see perfbench/README.md."""
