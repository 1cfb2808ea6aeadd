"""Layered benchmark of the torcharrow_spark engine; entry point ``run.py``."""
