"""Repository benchmark: seeded workloads, correctness gate and tracing (see README.md)."""
