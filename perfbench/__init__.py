"""Benchmark for hephaestus_spark: sync ticks over a loopback gRPC socket,
headline queries, and txlog upsert/lookup. Entry point: ``perfbench/run.py``."""
