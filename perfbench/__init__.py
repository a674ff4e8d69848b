"""Extraction benchmark: seeded workloads, checked passes, layer tracing."""
