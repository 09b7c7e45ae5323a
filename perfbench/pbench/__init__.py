"""Benchmark of the collection store: workloads, layer timings, event-log folding.

``run.py`` next to this package is the entry point; everything here is
importable without starting Spark, so the pure helpers are unit-tested in
``perfbench/tests``.
"""
