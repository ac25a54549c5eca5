"""Benchmark of leann_rs_spark: workloads, checks and tracing (see README.md)."""
