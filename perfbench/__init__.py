"""Cube benchmark: seeded make_geocube workloads (see run.py)."""
