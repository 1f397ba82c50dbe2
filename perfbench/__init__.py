"""Seeded closed-loop benchmark of the calamari_spark engine (see README.md)."""
