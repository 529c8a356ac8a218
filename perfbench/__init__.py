"""Seeded, layer-traced benchmark for ``jam_spark``.

Run from the repository root::

    python3 perfbench/run.py --workload incremental_append --seed 1 --seconds 10 --trace 0

Self-tests (no Spark needed): ``python3 -m pytest perfbench -q``.
"""
