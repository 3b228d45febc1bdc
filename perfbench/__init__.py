"""Seeded workload benchmark for kstreams_spark (see README.md)."""
