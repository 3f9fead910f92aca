"""Benchmark of the crawl engine and the query registry; see README.md."""
