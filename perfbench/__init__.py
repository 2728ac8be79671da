"""Standalone benchmark for netascore_spark (see run.py)."""
