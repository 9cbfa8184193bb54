"""Closed-loop benchmark of the engine's public surface.

Entry point: ``python3 perfbench/run.py --workload W --seed N --seconds S
--trace 0|1`` from the repository root.  See ``perfbench/README.md``.
"""
