"""Benchmark for the netrunner_spark crawl engine; see README.md."""
