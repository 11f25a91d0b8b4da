"""Benchmark for q_digest_spark; the entry point is ``perfbench/run.py``."""
