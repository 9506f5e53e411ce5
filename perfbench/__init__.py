"""CDC pipeline benchmark: seeded workloads over the flink_cdc_spark layers.

Entry point: ``python3 perfbench/run.py --workload <name> --seed <n>
--seconds <s> --trace <0|1>``. See ``perfbench/METRICS.md`` for what each
workload and metric measures.
"""
