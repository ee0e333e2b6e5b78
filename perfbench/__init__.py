"""Benchmark for the engine: MapReduce jobs and the headline queries."""
