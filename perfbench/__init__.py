"""Repository benchmark: seeded workloads, output checks, and per-layer
metrics folded from Spark's event log. Entry point: ``perfbench/run.py``."""
