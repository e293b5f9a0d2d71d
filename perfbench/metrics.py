"""Every metric the benchmark reports; BENCHMARK.json lists the same names.

END_TO_END: (name, unit, better, bound) -- what a user of the store sees.
PER_LAYER:  (name, unit, better, end-to-end target) -- traced runs only.
"""

from __future__ import annotations

END_TO_END = [
    ("setup_s", "s", "lower", 0.25),
    ("get_p50_ms", "ms", "lower", 0.25),
    ("get_p90_ms", "ms", "lower", 0.25),
    ("get_beside_writes_ms", "ms", "lower", 0.25),
    ("mget_p50_ms", "ms", "lower", 0.25),
    ("scan_p50_ms", "ms", "lower", 0.25),
    ("read_ops_per_s", "1/s", "higher", 0.25),
    ("write_p50_ms", "ms", "lower", 0.25),
    ("ingest_rows_per_s", "1/s", "higher", 0.25),
    ("maintenance_s", "s", "lower", 0.25),
    ("write_amp", "ratio", "lower", 0.1),
    ("space_amp", "ratio", "lower", 0.25),
    ("suite_s", "s", "lower", 0.25),
    ("suite_cpu_s", "s", "lower", 0.25),
    ("peak_rss_mb", "MB", "lower", 0.25),
    ("correct_op_ratio", "ratio", "higher", 0.01),
]

# The analytics rows, in run order: graph iteration, memo users (a pair
# sharing one memo), the control. KV over DataFrames is the workload's KV
# round over the same events mapping.
SUITE_ROWS = [
    "graph_pagerank",
    "text_dup_runs",
    "text_dedup_rewrite",
    "q3_shipping_priority",
]

PER_LAYER = [
    ("session.start_s", "s", "lower", "setup_s"),
    ("session.warmup_s", "s", "lower", "setup_s"),
    ("store.build_s", "s", "lower", "setup_s"),
    ("service.requests", "count", "higher", "read_ops_per_s"),
    ("service.errors", "count", "lower", "correct_op_ratio"),
    ("service.self_ms_p50", "ms", "lower", "get_p50_ms"),
    ("service.store_ms_p50", "ms", "lower", "get_p50_ms"),
    ("reader.get_p50_ms", "ms", "lower", "get_beside_writes_ms"),
    ("reader.get_p90_ms", "ms", "lower", "get_beside_writes_ms"),
    ("store.pin_rebuilds", "count", "lower", "get_beside_writes_ms"),
    ("store.pin_rebuild_s", "s", "lower", "get_beside_writes_ms"),
    ("store.jobs_per_read", "count", "lower", "get_p50_ms"),
    ("manifest.segments_per_get", "count", "lower", "get_beside_writes_ms"),
    ("store.ingest_df.busy_s", "s", "lower", "ingest_rows_per_s"),
    ("store.ingest_df.rows", "count", "higher", "ingest_rows_per_s"),
    ("store.set_batch.busy_s", "s", "lower", "write_p50_ms"),
    ("store.set_batch.jobs_per_call", "count", "lower", "write_p50_ms"),
    ("manifest.commits", "count", "lower", "write_p50_ms"),
    ("store.compact.busy_s", "s", "lower", "maintenance_s"),
    ("store.compact.rounds", "count", "lower", "maintenance_s"),
    ("store.fold_merges.busy_s", "s", "lower", "maintenance_s"),
    ("store.gc_values.busy_s", "s", "lower", "maintenance_s"),
    ("store.bytes_written", "B", "lower", "write_amp"),
    ("store.user_bytes", "B", "higher", "write_amp"),
    ("store.disk_bytes", "B", "lower", "space_amp"),
    ("store.live_bytes", "B", "higher", "space_amp"),
]
for _phase, _target in (
    ("ingest", "ingest_rows_per_s"),
    ("writes", "write_p50_ms"),
    ("maintenance", "maintenance_s"),
    ("suite", "suite_s"),
):
    PER_LAYER += [
        (f"spark.{_phase}.jobs", "count", "lower", _target),
        (f"spark.{_phase}.tasks", "count", "lower", _target),
        (f"spark.{_phase}.exec_cpu_s", "s", "lower", _target),
        (f"spark.{_phase}.shuffle_mb", "MB", "lower", _target),
    ]
for _row in SUITE_ROWS:
    PER_LAYER += [
        (f"q.{_row}.wall_s", "s", "lower", "suite_s"),
        (f"q.{_row}.jobs", "count", "lower", "suite_s"),
        (f"q.{_row}.tasks", "count", "lower", "suite_s"),
        (f"q.{_row}.exec_cpu_s", "s", "lower", "suite_cpu_s"),
        (f"q.{_row}.shuffle_mb", "MB", "lower", "suite_s"),
        (f"q.{_row}.sched_s", "s", "lower", "suite_s"),
    ]
