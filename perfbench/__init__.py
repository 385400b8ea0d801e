"""Benchmark for kermit_spark: see README.md in this directory."""
