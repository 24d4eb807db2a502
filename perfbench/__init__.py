"""Benchmark for the mithril_spark engine; see README.md."""
