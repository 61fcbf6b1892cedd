"""The benchmark's metric table: every metric's name, unit, direction, the
layer it belongs to and the end-to-end metric it should move.

``BENCHMARK.json`` lists the same names (a test keeps the two equal); the
README renders this table for readers.
"""

from __future__ import annotations

from harness import LAYERS

# End-to-end metrics: (name, unit, bound, meaning). All are "lower is
# better" and reported by every workload; what an "operation" and a "cycle"
# are depends on the workload (see README.md).
END_TO_END = [
    ("setup_s", "s", 0.25,
     "median of 5 set-ups: session start, load_all(), staging the inputs, warm-up query"),
    ("peak_pss_mb", "MB", 0.25,
     "peak proportional set size of the client process, its JVM and Python workers"),
    ("op_p50_ms", "ms", 0.25,
     "median latency of the workload's operation: upsert micro-batch or dashboard request"),
    ("cycle_s", "s", 0.25,
     "median warm cycle: the daily batch, or one dashboard page"),
    ("cold_cycle_s", "s", 0.25,
     "the first cycle after set-up: the first day, or the first dashboard page"),
]

# Per-layer metrics of a traced run: (name, unit, better, e2e metric it should
# move and on which workload). Layers a workload bypasses read 0.
_S, _MS, _N, _R, _B = "s", "ms", "count", "ratio", "bytes"
PER_LAYER = [
    ("session.start_s", _S, "lower", "setup_s, all workloads"),
    ("session.first_start_s", _S, "lower", "setup_s, all workloads (includes the JVM launch)"),
    ("registry.load_all_s", _S, "lower", "setup_s, all workloads"),
    ("tables.register_views_s", _S, "lower", "op_p50_ms on dashboard_serve; not pipeline_day"),
    ("agent.run_sql_s", _S, "lower", "op_p50_ms on dashboard_serve"),
    ("agent.sql_exec_s", _S, "lower", "op_p50_ms on dashboard_serve"),
    ("agent.prompt_s", _S, "lower", "agent.request_ms on dashboard_serve"),
    ("agent.schema_grounding_s", _S, "lower", "agent.request_ms on dashboard_serve"),
    ("agent.validate_sql_s", _S, "lower", "agent.request_ms on dashboard_serve"),
    ("agent.refused_ratio", _R, "higher", "failed ops on dashboard_serve (expected 1.0)"),
    ("agent.request_ms", _MS, "lower", "op_p50_ms and cycle_s on dashboard_serve"),
    ("queries.panel_build_s", _S, "lower", "op_p50_ms on dashboard_serve"),
    ("queries.panel_exec_s", _S, "lower", "op_p50_ms on dashboard_serve; cycle_s on pipeline_day"),
    ("queries.refresh_s", _S, "lower", "cycle_s on pipeline_day"),
]
PER_LAYER += [
    ("sources.page_scan_s", _S, "lower", "cycle_s on pipeline_day"),
    ("sources.pages", _N, "higher", "cycle_s on pipeline_day (work done)"),
    ("sources.tasks", _N, "lower", "cycle_s on pipeline_day"),
    ("sources.stream_offset_ms", _MS, "lower", "op_p50_ms on pipeline_day"),
    ("functions.cleaning_s", _S, "lower", "cycle_s on pipeline_day (plan building only)"),
    ("operators.merge_upsert_s", _S, "lower", "cycle_s on pipeline_day"),
    ("operators.snapshot_diff_s", _S, "lower", "cycle_s on pipeline_day"),
    ("operators.changed_ratio", _R, "higher", "cycle_s on pipeline_day (changed keys / delta rows)"),
    ("io.append_s", _S, "lower", "cycle_s on pipeline_day"),
    ("io.publish_s", _S, "lower", "cycle_s on pipeline_day"),
    ("io.bytes_written", _B, "lower", "cycle_s on pipeline_day"),
    ("io.files_written", _N, "lower", "cycle_s on pipeline_day"),
    ("io.write_amp", _R, "lower", "cycle_s on pipeline_day (published bytes / delta bytes)"),
    ("io.state_bytes_per_poll", _B, "lower", "op_p50_ms on pipeline_day"),
    ("streaming.upsert.batch_ms", _MS, "lower", "op_p50_ms on pipeline_day"),
    ("streaming.upsert.add_batch_ms", _MS, "lower", "op_p50_ms on pipeline_day"),
    ("streaming.upsert.planning_ms", _MS, "lower", "op_p50_ms on pipeline_day"),
    ("streaming.upsert.commit_ms", _MS, "lower", "op_p50_ms on pipeline_day"),
    ("streaming.upsert.first_batch_ms", _MS, "lower", "none (first batch is excluded)"),
    ("streaming.upsert.batches", _N, "higher", "op_p50_ms sample count on pipeline_day"),
    ("streaming.stateful.batch_ms", _MS, "lower", "stateful micro-batch latency on pipeline_day"),
    ("streaming.stateful.add_batch_ms", _MS, "lower", "stateful micro-batch latency on pipeline_day"),
    ("streaming.stateful.state_rows", _N, "lower", "stateful micro-batch latency on pipeline_day"),
    ("streaming.stateful.state_mem_bytes", _B, "lower", "stateful micro-batch latency on pipeline_day"),
    ("streaming.stateful.batches", _N, "higher", "sample count on pipeline_day"),
]
for _layer in LAYERS:
    PER_LAYER += [
        (f"self_s.{_layer}", _S, "lower", "self time of the layer's calls, summed over the run"),
        (f"jobs.{_layer}", _N, "lower", "Spark jobs the layer's calls launched"),
        (f"tasks.{_layer}", _N, "lower", "Spark tasks the layer's calls launched"),
    ]
PER_LAYER += [
    ("trace.spans", _N, "lower", "spans recorded"),
    ("trace.bookkeeping_s", _S, "lower", "time spent inside the tracer (its overhead)"),
    ("trace.overhead_pct", "%", "lower", "tracer time as a share of the measured wall time"),
    ("trace.op_p50_ms", _MS, "lower", "op_p50_ms measured with tracing on"),
    ("trace.cycle_s", _S, "lower", "cycle_s measured with tracing on"),
    ("contention.steal_jiffies_per_s", "1/s", "lower", "run trust marker"),
    ("contention.trusted", _N, "higher", "1 when the run was not contended"),
]
