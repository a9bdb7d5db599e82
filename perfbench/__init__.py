"""Seeded end-to-end and per-layer benchmark of the CDC engine and the
query library. Entry point: ``python3 perfbench/run.py`` (see README.md)."""
