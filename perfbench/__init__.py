"""End-to-end and per-layer benchmark of the pages pipeline and the
Python-worker operators; entry point ``perfbench/run.py``."""
