"""Benchmark of the crawl engine; see README.md and run.py."""
