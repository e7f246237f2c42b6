"""Benchmark harness for crawler4j-spark (see README.md)."""
