"""Benchmark for dedup_spark: three workloads, end-to-end metrics and a
traced run that times each layer from outside the program.

Entry point: ``python3 perfbench/run.py --workload NAME --seed N
--seconds S --trace 0|1`` from the repository root. See README.md.
"""
