"""Benchmark for tesserae_ng_spark: ingest, interactive and batch_sharded.

Run from the repository root: ``python3 perfbench/run.py --workload ingest``.
See perfbench/README.md for the workloads, metrics and layer map.
"""
