"""Benchmark of deltasink_spark (ingest, Delta DML and query workloads); run ``perfbench/run.py``."""
