"""Benchmark for the streamclient_spark engine; see README.md."""
