"""Benchmark for the Spark code-search engine; entry point run.py."""
