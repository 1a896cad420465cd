"""Benchmark for geospatial_spark: workloads, tracing and host context."""
