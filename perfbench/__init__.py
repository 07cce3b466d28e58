"""Benchmark of the orc_format_spark engine: four closed-loop workloads
(ingest, scan, lookup, curate) driven through the package's public API,
plus a traced mode that splits each op into per-layer numbers.

Run one workload with ``python3 perfbench/run.py --workload <name> --seed
<n> --seconds <s> --trace <0|1>`` from the repository root; see
``perfbench/README.md``.
"""
