"""Metric names and units: the single list ``BENCHMARK.json`` mirrors.

End-to-end metrics are reported by every workload, each on the unit of
work that workload serves (README.md, "End-to-end metrics"). Per-layer
metrics are named after the engine module whose calls they time; a
workload that never calls a layer reports 0 for it (the layer did no work),
except the ``engine.*``, ``session.*`` and ``trace.*`` metrics, which every
workload measures.
"""

from __future__ import annotations

# name -> (unit, better, bound)
END_TO_END = {
    "setup_s": ("s", "lower", 0.25),
    "peak_rss_mb": ("MB", "lower", 0.15),
    "ok_op_share": ("ratio", "higher", 0.01),
    "p50_ms": ("ms", "lower", 0.25),
    "tail_ms": ("ms", "lower", 0.25),
    "work_per_s": ("1/s", "higher", 0.25),
}

_STREAM = {
    f"streaming.pipeline.{q}.{m}": "ms"
    for q in ("lake", "alert", "dedup")
    for m in ("trigger_ms", "add_batch_ms", "bookkeeping_ms")
}

PER_LAYER = {
    **_STREAM,
    "streaming.pipeline.lake.files_per_trigger": "count",
    "streaming.pipeline.lake.backlog_files_max": "count",
    "streaming.pipeline.dedup.trigger_slope_ms": "ms",
    "streaming.pipeline.dedup.compaction_trigger_ms": "ms",
    "streaming.pipeline.dedup.standing_files_read": "count",
    "sources.lake.flush_jobs": "count",
    "sources.lake.flush_tasks": "count",
    "sources.lake.flush_executor_cpu_ms": "ms",
    "sources.lake.flush_driver_only_ms": "ms",
    "sources.envelope.decode_cpu_us_per_record": "us",
    "operators.dedup.jobs_per_trigger": "count",
    "operators.dedup.tasks_per_trigger": "count",
    "operators.dedup.driver_only_ms_per_trigger": "ms",
    "operators.dedup.shuffle_bytes_per_trigger": "bytes",
    "operators.dedup.python_udf_ms": "ms",
    "operators.dedup.python_bytes_sent": "bytes",
    "operators.dedup.python_bytes_returned": "bytes",
    "operators.dedup.python_worker_cpu_s": "s",
    "sources.lake.point_plan_ms": "ms",
    "sources.lake.point_exec_ms": "ms",
    "sources.lake.point_files_opened": "count",
    "sources.lake.rows_scanned_per_row_returned": "ratio",
    "sources.lake.run_lake_batch_ms": "ms",
    "sources.lake.update_zone_maps_ms": "ms",
    "sources.lake.read_incremental_ms": "ms",
    "sources.lake.sql_ms": "ms",
    "sources.lake.compact_lake_ms": "ms",
    "sources.lake.files_per_leaf": "count",
    "sources.lake.bytes_per_input_byte": "ratio",
    "operators.upsert.apply_cdc_ms": "ms",
    "operators.ivf_index.probe_plan_ms": "ms",
    "operators.ivf_index.probe_exec_ms": "ms",
    "operators.ivf_index.cells_opened_per_probe": "count",
    "operators.ivf_index.scans_per_probe": "count",
    "operators.ivf_index.update_ms": "ms",
    "operators.ivf_index.python_udf_ms": "ms",
    "operators.ivf_index.recall_at_10": "ratio",
    "engine.jobs": "count",
    "engine.tasks": "count",
    "engine.executor_cpu_s": "s",
    "engine.executor_run_s": "s",
    "engine.shuffle_write_mb": "MB",
    "engine.spill_mb": "MB",
    "engine.gc_s": "s",
    "engine.jvm_cpu_s": "s",
    "engine.python_worker_cpu_s": "s",
    "session.spark_start_s": "s",
    **{f"trace.overhead.{m}": "ratio" for m in END_TO_END},
}
