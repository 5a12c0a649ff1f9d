"""Lakehouse benchmark (see README.md)."""
