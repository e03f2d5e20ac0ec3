"""Seeded benchmark of the data engine; see run.py."""
