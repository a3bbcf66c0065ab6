"""Ingest + search benchmark for the clpspark pipeline (see README.md)."""
