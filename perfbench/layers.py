"""The per-layer metric names (with units) and the Spark stage metrics of
each layer that runs actions. A layer is named by its module in
``crypto_market_tracker_etl_spark``; PREDICTIONS.json says which
end-to-end metric each one should move, on which workload."""

from __future__ import annotations

from tracing import STAGE_LAYERS, STAGE_METRICS, self_times

_STAGE_UNITS = {
    "executor_run_s": "s", "executor_cpu_s": "s", "gc_s": "s", "scheduler_delay_s": "s",
    "tasks": "count", "task_skew": "ratio", "shuffle_bytes": "B", "spill_bytes": "B",
    "python_worker_s": "s",
}

PER_LAYER: dict[str, str] = {
    "market_views.build_s": "s",
    "market_views.plan_s": "s",
    "market_views.exec_s": "s",
    "market_views.jobs_per_query": "count",
    "market_views.tasks_per_query": "count",
    "market_views.rows_scanned_per_row_returned": "ratio",
    "txn_sink.upsert_s": "s",
    "txn_sink.days_rewritten_per_commit": "count",
    "txn_sink.commit_retries": "count",
    "txn_sink.bytes_written_per_commit": "B",
    "txn_sink.manifest_bytes": "B",
    "txn_sink.read_resolve_s": "s",
    "txn_sink.files_scanned_per_read": "count",
    "txn_sink.live_files": "count",
    "rest.requests": "count",
    "rest.retries": "count",
    "rest.plan_reexecutions": "count",
    "rest.python_worker_s": "s",
    "upsert.rows_in_per_row_out": "ratio",
    "etl_job.run_backfill_s": "s",
    "etl_job.run_incremental_s": "s",
    "etl_job.maintain_daily_s": "s",
    "etl_job.days_refreshed": "count",
    "curation_stream.process_batch_s": "s",
    "curation_stream.store_files": "count",
    "curation_stream.auto_compactions": "count",
    "curation_stream.clean_s": "s",
    "dedup.exact_dup_ratio": "ratio",
    "incremental_dedup.upsert_batch_s": "s",
    "incremental_dedup.pairs_s": "s",
    "incremental_dedup.store_read_s": "s",
    "incremental_dedup.candidate_pairs": "count",
    "incremental_dedup.verified_pair_ratio": "ratio",
    "ann_index.build_s": "s",
    "ann_index.probe_driver_s": "s",
    "ann_index.probe_exec_s": "s",
    "ann_index.lists_probed_per_query": "ratio",
    "ann_index.rows_scored_per_result": "ratio",
    "ann_index.append_s": "s",
    "ann_index.files": "count",
    **{f"{layer}.{m}": _STAGE_UNITS[m] for layer in STAGE_LAYERS for m in STAGE_METRICS},
    **{f"{layer}.self_s": "s" for layer in STAGE_LAYERS},
    "unattributed_s": "s",
}

# higher is better only for these; every other per-layer metric is a cost
HIGHER_IS_BETTER = {"dedup.exact_dup_ratio", "incremental_dedup.verified_pair_ratio"}


def stage_layer_metrics(spans, harvest) -> dict[str, float]:
    """Sum each action layer's own jobs' stage metrics (task skew: the
    mean over its spans that ran multi-task stages) and its self time."""
    out: dict[str, float] = {}
    skews: dict[str, list[float]] = {}
    selfs = self_times(spans)
    for s in spans:
        if s.layer not in STAGE_LAYERS:
            continue
        h = harvest[s.id]
        for m in STAGE_METRICS:
            key = f"{s.layer}.{m}"
            if m == "task_skew":
                if h[m]:
                    skews.setdefault(key, []).append(h[m])
            else:
                out[key] = out.get(key, 0.0) + h[m]
        key = f"{s.layer}.self_s"
        out[key] = out.get(key, 0.0) + selfs[s.id]
    for key, xs in skews.items():
        out[key] = sum(xs) / len(xs)
    return out
