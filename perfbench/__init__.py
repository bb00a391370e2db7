"""Seeded end-to-end and layer-attributed benchmark (see README.md)."""
