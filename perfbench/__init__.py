"""End-to-end and per-layer benchmark of the medallion pipeline.

Run from the repository root: ``python3 perfbench/run.py --workload
medallion_batch --seed 1 --seconds 15 --trace 0``. See ``README.md``.
"""
