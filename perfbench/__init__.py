"""Extraction benchmark: seeded workloads, oracle-checked outputs and
per-layer attribution, run as ``python3 perfbench/run.py``."""
