"""Closed-loop benchmark of the pandasy_spark gate registry; see run.py."""
