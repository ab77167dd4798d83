"""Benchmark of the webextract extraction job (``run_extract``).

Run one workload with::

    python3 perfbench/run.py --workload crawl_uniform --seed 1 --seconds 10 --trace 0

See ``perfbench/README.md`` for the workloads, the metrics and what
each per-layer metric is expected to move.
"""
