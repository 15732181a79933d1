"""Benchmark for the invoice engine: seeded traffic through the request and
response jobs, the analytics query suite, and a traced per-layer run.

Run ``python3 perfbench/run.py --workload <name> --seed <n> --seconds <s>
--trace <0|1>`` from the repository root; see ``perfbench/README.md``.
"""
