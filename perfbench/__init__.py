"""Repository benchmark: two closed-loop workloads over the package's
public API, with output checks and an optional traced per-layer run.

Run one workload: ``python3 perfbench/run.py --workload query_mix --seed 1
--seconds 10 --trace 0``. See ``perfbench/README.md``.
"""
