"""Benchmark harness for the podcast pipeline and curation catalog."""
