"""Benchmark for lucene_spark: seeded workloads, oracle checks and per-layer tracing."""
