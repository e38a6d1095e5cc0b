"""Coordinator-view benchmark of the ODF engine (entry point: run.py)."""
