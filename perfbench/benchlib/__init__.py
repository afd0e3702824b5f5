"""Pieces of the graft benchmark: build, workload generation, metrics."""
