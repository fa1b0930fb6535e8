"""Seeded end-to-end and per-layer benchmark of the PIP join + tiling
engine; entry point `perfbench/run.py`, protocol in `perfbench/README.md`."""
