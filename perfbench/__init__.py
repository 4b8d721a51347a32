"""Workload benchmark for labelspark_spark; see run.py."""
