"""Metric tables: the end-to-end metrics every workload reports, the
workload-specific extras printed in the report line, and the per-layer
metrics of a traced run with the end-to-end metric and workload each one
should move."""

from __future__ import annotations

WORKLOADS = {
    "txn_passthrough": ("perfbench.txn", "Passthrough"),
    "txn_windowed": ("perfbench.txn", "Windowed"),
    "curation_batch": ("perfbench.curation", "Curation"),
    "ann_mixed": ("perfbench.ann", "Ann"),
}

END_TO_END = [
    ("setup_s", "s"),
    ("throughput_rps", "1/s"),
    ("latency_p50_ms", "ms"),
    ("latency_p90_ms", "ms"),
    ("peak_rss_mb", "MB"),
]

EXTRA = {
    "txn_passthrough": [("latency_p99_ms", "ms"), ("latency_samples", "count"),
                        ("drain_wall_s", "s")],
    "txn_windowed": [("latency_p99_ms", "ms"), ("latency_samples", "count"),
                     ("drain_wall_s", "s")],
    "curation_batch": [("jobs", "count")],
    "ann_mixed": [("query_p50_ms", "ms"), ("query_p90_ms", "ms"),
                  ("append_p50_ms", "ms"), ("recall_at_10", "ratio"),
                  ("queries", "count"), ("appends", "count")],
}

_TXN = "txn_passthrough,txn_windowed"
_ALL = "all"

# (name, unit, end-to-end metric it should move, workloads where it should)
PER_LAYER = [
    ("session.start_s", "s", "setup_s", _ALL),
    ("session.warmup_s", "s", "setup_s", _ALL),
    ("sources.decode_s", "s", "throughput_rps", _TXN),
    ("sources.decode_rps", "1/s", "throughput_rps", _TXN),
    ("sources.encode_s", "s", "throughput_rps", "txn_passthrough"),
    ("sources.encode_rps", "1/s", "throughput_rps", "txn_passthrough"),
    ("sources.bytes_in", "bytes", "throughput_rps", _TXN),
    ("sources.bytes_out", "bytes", "throughput_rps", "txn_passthrough"),
    ("plans.pipeline_s", "s", "throughput_rps", "txn_passthrough"),
    ("plans.selectivity", "ratio", "throughput_rps", "txn_passthrough"),
    ("plans.curation_s", "s", "throughput_rps", "curation_batch"),
    ("streaming.batches", "count", "latency_p50_ms", _TXN),
    ("streaming.rows_per_batch_p50", "count", "throughput_rps", _TXN),
    ("streaming.trigger_ms_p50", "ms", "latency_p50_ms", _TXN),
    ("streaming.add_batch_ms_p50", "ms", "latency_p50_ms", _TXN),
    ("streaming.overhead_ms_p50", "ms", "latency_p50_ms", _TXN),
    ("streaming.planning_ms_p50", "ms", "latency_p50_ms", _TXN),
    ("streaming.wal_ms_p50", "ms", "latency_p50_ms", _TXN),
    ("streaming.state_rows", "count", "peak_rss_mb", "txn_windowed"),
    ("streaming.state_mem_bytes", "bytes", "peak_rss_mb", "txn_windowed"),
    ("streaming.state_commit_ms_p50", "ms", "latency_p90_ms", "txn_windowed"),
    ("streaming.state_rows_removed", "count", "throughput_rps", "txn_windowed"),
    ("streaming.watermark_dropped", "count", "throughput_rps", "txn_windowed"),
    ("streaming.dedup_dropped_frac", "ratio", "throughput_rps", "txn_windowed"),
    ("operators.decontaminate_s", "s", "throughput_rps", "curation_batch"),
    ("operators.quality_s", "s", "throughput_rps", "curation_batch"),
    ("operators.lsh_pairs_s", "s", "throughput_rps", "curation_batch"),
    ("operators.components_s", "s", "throughput_rps", "curation_batch"),
    ("operators.pack_s", "s", "throughput_rps", "curation_batch"),
    ("operators.decon_dropped_frac", "ratio", "throughput_rps", "curation_batch"),
    ("operators.lsh_candidates", "count", "throughput_rps", "curation_batch"),
    ("operators.lsh_verified", "count", "throughput_rps", "curation_batch"),
    ("operators.lsh_precision", "ratio", "throughput_rps", "curation_batch"),
    ("operators.dup_recall", "ratio", "throughput_rps", "curation_batch"),
    ("similarity.build_s", "s", "setup_s", "ann_mixed"),
    ("similarity.route_ms_p50", "ms", "latency_p50_ms", "ann_mixed"),
    ("similarity.topk_ms_p50", "ms", "latency_p50_ms", "ann_mixed"),
    ("similarity.append_ms_p50", "ms", "throughput_rps", "ann_mixed"),
    ("similarity.index_files_end", "count", "latency_p90_ms", "ann_mixed"),
    ("similarity.rows_scanned_p50", "count", "latency_p50_ms", "ann_mixed"),
    ("caching.released", "count", "peak_rss_mb", "curation_batch"),
    ("caching.storage_bytes_peak", "bytes", "peak_rss_mb", "curation_batch"),
    ("engine.jobs", "count", "latency_p50_ms", "ann_mixed,curation_batch"),
    ("engine.stages", "count", "throughput_rps", "curation_batch,txn_windowed"),
    ("engine.tasks", "count", "throughput_rps", "curation_batch,txn_windowed"),
    ("engine.executor_run_s", "s", "throughput_rps", "curation_batch,txn_windowed"),
    ("engine.executor_cpu_s", "s", "throughput_rps", "curation_batch,txn_windowed"),
    ("engine.cpu_util", "ratio", "throughput_rps", "curation_batch,txn_windowed"),
    ("engine.shuffle_write_bytes", "bytes", "throughput_rps", "curation_batch,txn_windowed"),
    ("engine.shuffle_read_bytes", "bytes", "throughput_rps", "curation_batch,txn_windowed"),
    ("engine.spill_bytes", "bytes", "throughput_rps", "curation_batch,txn_windowed"),
    ("engine.gc_s", "s", "peak_rss_mb", _ALL),
    ("engine.task_skew", "ratio", "throughput_rps", "curation_batch,txn_windowed"),
    ("gen.late_ms_max", "ms", "latency_p90_ms", _TXN),
    ("gen.backlog_files_max", "count", "latency_p90_ms", _TXN),
    ("trace.overhead_s", "s", "none", _ALL),
    ("trace.overhead_frac", "ratio", "none", _ALL),
    ("sources.self_s", "s", "throughput_rps", _TXN),
    ("plans.self_s", "s", "throughput_rps", "txn_passthrough,curation_batch"),
    ("streaming.self_s", "s", "latency_p50_ms", _TXN),
    ("operators.self_s", "s", "throughput_rps", "curation_batch"),
    ("similarity.self_s", "s", "latency_p50_ms", "ann_mixed"),
]
