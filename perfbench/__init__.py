"""Lifecycle benchmark of the gasto-spark engine (see run.py)."""
