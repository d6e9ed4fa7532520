"""Benchmark for the spark_shp engine; see README.md."""
