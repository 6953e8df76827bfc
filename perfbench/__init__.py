"""Benchmark of the engine: see DESIGN.md and run.py."""
