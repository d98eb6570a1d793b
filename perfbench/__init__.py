"""Benchmark of the hg64spark sketch library on a local Spark session.

Entry point: ``python3 perfbench/run.py --workload <name> --seed <n>
--seconds <s> --trace <0|1>``.  See ``perfbench/README.md``.
"""
