"""Seeded benchmark of the engine; see run.py."""
