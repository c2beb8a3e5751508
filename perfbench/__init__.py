"""Benchmark for pke_spark: seeded workloads, end-to-end and per-layer
metrics. Run ``python3 perfbench/run.py --help``; see README.md."""
