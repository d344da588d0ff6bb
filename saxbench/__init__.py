"""Seeded benchmark for the symtseries_spark SAX engine; see run.py."""
