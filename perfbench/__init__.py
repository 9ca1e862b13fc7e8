"""Benchmark of the knowledgeir_spark engine, measured from outside.

Entry point: ``python3 perfbench/run.py --workload <name> --seed <n>
--seconds <s> --trace <0|1>``, run from the repository root.  See run.py
for the workloads and the metric definitions, and BENCHMARK.json at the
repository root for their bounds.
"""
