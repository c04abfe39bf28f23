"""Seeded benchmark of the engine; entry point: perfbench/run.py."""
