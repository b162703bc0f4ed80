"""Realtime delivery benchmark (see run.py)."""
