"""Benchmark of the reporting pipeline and the query registry; see README.md."""
