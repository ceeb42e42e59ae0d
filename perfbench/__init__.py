"""Benchmark of the ingest→serve reference path and the frozen analytics spine.

Run one workload with ``python3 perfbench/run.py --workload <name> --seed <n>
--seconds <s> --trace <0|1>`` from the repository root; see README.md.
"""
