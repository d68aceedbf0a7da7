"""Steady extract → classify → aggregate benchmark for edspdf_spark.

Entry point: ``python3 perfbench/run.py --workload <name> --seed <n>
--seconds <s> --trace <0|1>``. See ``perfbench/README.md``.
"""
