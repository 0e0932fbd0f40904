"""The benchmark's metrics. ``BENCHMARK.json`` lists the same names.

Each per-layer metric names the end-to-end metric it should move and
the workloads where it should move it; on the other workloads the
prediction is no change (a layer a workload never reaches reads 0).
"""

from __future__ import annotations

# (name, unit, better, bound). A pass has 9 (batch) or 5 (stream)
# operations, too few for a tail percentile with ten samples beyond it,
# so operation latency is reported as its median only. Every time and
# CPU second here is scaled to a reference host speed (run.py).
END_TO_END = (
    ("setup_s", "s", "lower", 0.25),
    ("run_s", "s", "lower", 0.25),
    ("rows_per_s", "1/s", "higher", 0.25),
    ("op_p50_s", "s", "lower", 0.25),
    ("cpu_s", "s", "lower", 0.25),
    ("success_rate", "ratio", "higher", 0.05),
)

_BATCH = "batch_catalog"
_STREAM = "stream_monitor"
_ALL = "batch_catalog stream_monitor"

# (name, unit, better, moves, where)
PER_LAYER = (
    ("plans.build_s", "s", "lower", "run_s op_p50_s", _BATCH),
    ("plans.build_jobs", "count", "lower", "run_s op_p50_s", _BATCH),
    ("plans.action_s", "s", "lower", "run_s op_p50_s", _BATCH),
    ("spark.jobs", "count", "lower", "run_s", _ALL),
    ("spark.stages", "count", "lower", "run_s", _ALL),
    ("spark.tasks", "count", "lower", "run_s", _ALL),
    ("spark.executor_run_s", "s", "lower", "cpu_s run_s", _ALL),
    ("spark.shuffle_read_bytes", "bytes", "lower", "cpu_s run_s", _ALL),
    ("spark.shuffle_write_bytes", "bytes", "lower", "cpu_s run_s", _ALL),
    ("spark.spill_bytes", "bytes", "lower", "cpu_s run_s", _ALL),
    ("spark.input_bytes", "bytes", "lower", "cpu_s run_s", _ALL),
    ("spark.task_skew", "ratio", "lower", "run_s", _ALL),
    ("cpu.driver_py_s", "s", "lower", "cpu_s", _ALL),
    ("cpu.jvm_s", "s", "lower", "cpu_s", _ALL),
    ("cpu.py_workers_s", "s", "lower", "cpu_s", _ALL),
    ("mem.peak_rss_mb", "MiB", "lower", "none: not gated, the JVM heap grows by run", _ALL),
    ("mem.py_worker_peak_mb", "MiB", "lower", "none: part of mem.peak_rss_mb", _ALL),
    ("graph.connected_components_s", "s", "lower", "run_s", _BATCH),
    ("graph.connected_components_jobs", "count", "lower", "run_s", _BATCH),
    ("graph.risk_propagation_s", "s", "lower", "run_s", _BATCH),
    ("graph.risk_propagation_jobs", "count", "lower", "run_s", _BATCH),
    ("graph.find_motif_s", "s", "lower", "run_s", _BATCH),
    ("linkage.candidate_pairs_s", "s", "lower", "run_s", _BATCH),
    ("linkage.em_fit_s", "s", "lower", "run_s", _BATCH),
    ("linkage.score_pairs_s", "s", "lower", "run_s", _BATCH),
    ("dedup.minhash_lsh_candidates_s", "s", "lower", "run_s cpu_s", _BATCH),
    ("dedup.jaccard_pairs_s", "s", "lower", "run_s cpu_s", _BATCH),
    ("dedup.verified_per_candidate", "ratio", "higher", "run_s cpu_s", _BATCH),
    ("vector.ann_lsh_topk_s", "s", "lower", "run_s", _BATCH),
    ("vector.cosine_topk_s", "s", "lower", "run_s", _BATCH),
    ("streaming.batch_ms_p50", "ms", "lower", "op_p50_s rows_per_s", _STREAM),
    ("streaming.batch_ms_p90", "ms", "lower", "op_p50_s rows_per_s", _STREAM),
    ("streaming.add_batch_ms", "ms", "lower", "op_p50_s rows_per_s", _STREAM),
    ("streaming.batches", "count", "lower", "op_p50_s rows_per_s", _STREAM),
    ("streaming.empty_batches", "count", "lower", "op_p50_s rows_per_s", _STREAM),
    ("streaming.state_rows", "count", "lower", "op_p50_s rows_per_s", _STREAM),
    ("streaming.state_bytes", "bytes", "lower", "op_p50_s rows_per_s", _STREAM),
    ("sources.versioned.commit_s", "s", "lower", "run_s", _STREAM),
    ("sources.versioned.commits", "count", "lower", "run_s", _STREAM),
    ("sources.versioned.bytes_written_per_user_byte", "ratio", "lower", "run_s", _STREAM),
    ("sources.versioned.bytes_stored_per_user_byte", "ratio", "lower", "run_s", _STREAM),
    ("sources.versioned.files", "count", "lower", "run_s", _STREAM),
    ("sources.versioned.read_s", "s", "lower", "run_s", _STREAM),
    ("host.calib_s", "s", "lower", "none: host speed; end-to-end times are scaled by it", _ALL),
    ("trace.overhead_s", "s", "lower", "none: tracing cost of the traced pass", _ALL),
)
