"""Benchmark of the ingest and read paths; see README.md."""
