"""The benchmark's metric catalogue: name → (unit, better[, bound]).

``BENCHMARK.json`` at the checkout root lists the same names; a test keeps
the two equal. Per-layer metrics are per measured operation unless the
name says otherwise; a workload that never enters a layer reports 0 there.
"""

from __future__ import annotations

# End to end, from untraced runs, in seconds at the reference engine speed
# (run.PROBE_REF_S). An "operation" is one backlog drain (ingest_backlog),
# one dashboard query (dashboard_day), one audit→repair→compact cycle
# (lake_maintenance) or one pass over the registry rows (registry_hot).
END_TO_END = {
    "setup_s": ("s", "lower", 0.25),
    "op_p50_s": ("s", "lower", 0.25),
    "op_p90_s": ("s", "lower", 0.25),
}

PER_LAYER = {
    # session, and the driver's memory: JVM VmHWM plus this process's
    # ru_maxrss (not an end-to-end metric: it spreads 17-34% between runs
    # with the JVM's garbage-collection timing)
    "session.start_s": ("s", "lower"),
    "memory.peak_rss_mb": ("MB", "lower"),
    # sources.ndjson
    "ndjson.parse_s": ("s", "lower"),
    "ndjson.rows": ("count", "higher"),
    "ndjson.gz_bytes": ("bytes", "lower"),
    "ndjson.malformed_rows": ("count", "lower"),
    # operators.compaction.enrich + functions.epoch
    "enrich.s": ("s", "lower"),
    # streaming.ingest, from the StreamingQueryListener
    "stream.batches": ("count", "lower"),
    "stream.addBatch_ms": ("ms", "lower"),
    "stream.queryPlanning_ms": ("ms", "lower"),
    "stream.getBatch_ms": ("ms", "lower"),
    "stream.walCommit_ms": ("ms", "lower"),
    "stream.commitOffsets_ms": ("ms", "lower"),
    "stream.latestOffset_ms": ("ms", "lower"),
    "stream.input_rows_per_lake_row": ("ratio", "lower"),
    "stream.write_epoch_batch_s": ("s", "lower"),
    # sources.lake
    "lake.files_written": ("count", "lower"),
    "lake.bytes_written": ("bytes", "lower"),
    "lake.files_per_partition": ("count", "lower"),
    # operators.compaction
    "audit.s": ("s", "lower"),
    "repair.s": ("s", "lower"),
    "compact.s": ("s", "lower"),
    "repair.rows_rewritten_per_misfiled_row": ("ratio", "lower"),
    "repair.bytes_rewritten": ("bytes", "lower"),
    "compact.files_before": ("count", "lower"),
    "compact.files_after": ("count", "lower"),
    # operators.dashboard
    "dashboard.files_scanned_per_query": ("count", "lower"),
    "dashboard.jobs_per_query": ("count", "lower"),
    # the Spark engine, from the event log
    "spark.driver_s": ("s", "lower"),
    "spark.jobs": ("count", "lower"),
    "spark.stages": ("count", "lower"),
    "spark.executor_run_s": ("s", "lower"),
    "spark.shuffle_write_bytes": ("bytes", "lower"),
    "spark.shuffle_read_bytes": ("bytes", "lower"),
    "spark.spill_bytes": ("bytes", "lower"),
    "spark.task_skew": ("ratio", "lower"),
    # the traced run's own operation median, against op_p50_s untraced
    "trace.op_p50_s": ("s", "lower"),
    # the engine probe's median, unscaled: this host's speed during the loop
    "engine.probe_s": ("s", "lower"),
}
