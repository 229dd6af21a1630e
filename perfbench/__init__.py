"""lakeflow benchmark: seeded, oracle-checked workloads; see run.py."""
