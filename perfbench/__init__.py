"""Benchmark of the transcript quality package (see README.md)."""
