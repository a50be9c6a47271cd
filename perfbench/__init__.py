"""Lakehouse benchmark: workloads, tracer and metric helpers (see run.py)."""
