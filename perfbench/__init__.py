"""Benchmark harness: see perfbench/run.py and perfbench/RATIONALE.md."""
