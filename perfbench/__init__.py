"""Warm-operation benchmark of the company-data pipeline (see README.md)."""
