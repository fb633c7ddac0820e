"""Seeded, oracle-checked benchmark of the activity engine (see run.py)."""
