"""Every metric the benchmark reports, with its unit.

END_TO_END is what ``--trace 0`` prints; PER_LAYER is what ``--trace 1``
prints. Both lists are the same on every workload: a per-layer metric of
another workload's layer is measured by that layer's ladder, which every
traced run executes (see README.md).
"""

END_TO_END = {
    "setup_s": "s",
    "rows_per_s": "rows/s",
    "op_p50_s": "s",
    "read_p50_s": "s",
    "bytes_per_row": "B/row",
    "peak_rss_mb": "MB",
}

_S, _N, _B, _R = "s", "count", "B", "ratio"

PER_LAYER = {
    "session.start_s": _S,
    "session.first_action_s": _S,
    "plans.load_config_s": _S,
    "plans.build_s": _S,
    "plans.jobs_per_op": _N,
    "sources.read_s": _S,
    "expr.filter_s": _S,
    "functions.mapping_s": _S,
    "operators.flatten_s": _S,
    "operators.dedup_s": _S,
    "operators.errors_write_s": _S,
    "sources.write_s": _S,
    "operators.flatten_rows_ratio": _R,
    "operators.dedup_shuffle_bytes": _B,
    "sources.files_written": _N,
    "sources.bytes_written": _B,
    "cdc.merge_s": _S,
    "mv.refresh_s": _S,
    "cdc.jobs_per_batch": _N,
    "cdc.shuffle_write_bytes_per_batch": _B,
    "cdc.files_per_batch": _N,
    "cdc.read_snapshot_s": _S,
    "cdc.vacuum_s": _S,
    "cdc.versions_live": _N,
    "gate.land_s": _S,
    "gate.jobs_per_batch": _N,
    "gate.survivor_ratio": _R,
    "llm.minhash_s": _S,
    "store.files_total": _N,
    "store.bytes": _B,
    "store.compact_s": _S,
    "spark.jobs": "count/op",
    "spark.tasks": "count/op",
    "spark.executor_run_s": "s/op",
    "spark.executor_cpu_s": "s/op",
    "spark.gc_s": "s/op",
    "spark.shuffle_read_bytes": "B/op",
    "spark.shuffle_write_bytes": "B/op",
    "spark.spill_bytes": "B/op",
    "spark.utilization": _R,
    "trace.op_p50_s": _S,
    "trace.op_tail_s": _S,
    "trace.op_tail_samples": _N,
    "trace.overhead_op_p50_s": _S,
    "trace.overhead_rows_per_s": "rows/s",
}
