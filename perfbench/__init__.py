"""Seeded, oracle-checked benchmark of the splade_spark engine (see run.py)."""
