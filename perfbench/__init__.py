"""Benchmark of the KG-construction workloads; run `perfbench/run.py`."""
