"""Benchmark of the k-means engine; see README.md in this directory."""
