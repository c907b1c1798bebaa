"""Benchmark for the geospatial_cuda_spark engine; see README.md."""
