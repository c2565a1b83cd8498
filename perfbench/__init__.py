"""Benchmark for the pqc validation engine; see README.md."""
