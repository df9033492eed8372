"""Repository benchmark: SKOPE API workloads on a production-shaped lake, with
a traced per-layer mode. Entry point: ``python3 perfbench/run.py``."""
