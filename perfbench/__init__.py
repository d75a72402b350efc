"""Benchmark of the ispaq_spark quality-filter job and its operator queries.

Run from the repository root:

    python3 perfbench/run.py --workload ingest_fresh --seed 1 --seconds 10 --trace 0

See perfbench/README.md for the workloads, the metrics and how to read them.
"""
