"""Closed-loop benchmark of the engine: migrate and analytics workloads (see run.py)."""
