"""Repository benchmark: seeded workloads, output checks and per-layer spans."""
