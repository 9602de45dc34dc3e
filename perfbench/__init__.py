"""Repository benchmark: closed-loop workloads over the package (see run.py)."""
