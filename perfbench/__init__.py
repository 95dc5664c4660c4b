"""Benchmark for circus_train_spark: workloads, tracing and metrics (see README.md)."""
