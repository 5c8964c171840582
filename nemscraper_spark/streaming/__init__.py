"""Stateful Structured Streaming operators (stateful.py)."""
