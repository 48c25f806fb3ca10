"""Pipeline benchmark: seeded workloads, output checks, traces."""
