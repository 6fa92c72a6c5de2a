"""Seeded end-to-end benchmark of the search engine (see README.md)."""
