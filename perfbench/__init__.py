"""Seeded end-to-end and per-layer benchmark of pidb_rdf_spark."""
