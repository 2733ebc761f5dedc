"""Seeded end-to-end benchmark for the gomrjob_spark engine.

Run ``python3 perfbench/run.py --help`` from the repository root; see the
docstring of :mod:`perfbench.run` for the workloads and metrics.
"""
