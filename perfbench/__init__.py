"""Repository benchmark: workloads, inputs, tracing (see run.py)."""
