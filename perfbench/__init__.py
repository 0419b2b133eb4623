"""Repository benchmark: seeded workloads, correctness gates and
per-layer attribution from Spark's event log (see ``run.py``)."""
