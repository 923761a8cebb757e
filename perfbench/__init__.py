"""Benchmark harness for lakeshack_spark: seeded workloads over the public
entry points, per-op oracle checks, and an optional traced run.

Run ``python3 perfbench/run.py --help`` from the repository root.
"""
