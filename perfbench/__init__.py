"""Benchmark for the wbkg knowledge-graph engine (see README.md)."""
