"""Every metric the benchmark reports, with its unit and direction.
``BENCHMARK.json`` lists the same names
(``perfbench/tests/test_perfbench_smoke.py`` keeps the two in step)."""

from __future__ import annotations

# Printed by every workload: name -> (unit, better).
# ``cpu_s_per_result`` is the CPU time of the whole process tree per
# result in the timed window: per 1,000 events committed to bronze on
# stream_live, per pass over both query mixes on batch_registry.
END_TO_END = {
    "setup_s": ("s", "lower"),
    "cpu_s_per_result": ("s", "lower"),
}

# End-to-end numbers kept in the run record (``.perfbench/results``)
# and compared by ``overhead.py``, but not printed: on a shared host
# their run-to-run spread is too wide to gate on (see README.md).
# ``result_latency_s`` is the median time from input to usable result:
#   stream_live     feature lag per closed window (closing event created
#                   -> feature-store commit)
#   batch_registry  one pass over both query mixes (sum of per-query
#                   medians)
# A percentile reads None when too few samples lie beyond it
# (``stats.supported``).
DETAIL = {
    "all": {"result_latency_s": "s", "peak_rss_mb": "MB"},
    "stream_live": {
        "ingest_latency_p50_s": "s", "ingest_latency_p90_s": "s",
        "feature_lag_p50_s": "s", "feature_lag_p75_s": "s", "feature_read_p50_s": "s",
    },
    "batch_registry": {
        "analytics_pass_s": "s", "curation_pass_s": "s", "query_stretch_p95": "ratio",
    },
}

_MIX = ("analytics", "curation")
_BATCH = (
    [(f"plans.define_s.{m}", "s", "lower") for m in _MIX]
    + [(f"catalyst.{p}_ms.{m}", "ms", "lower")
       for p in ("analysis", "optimization", "planning") for m in _MIX]
    + [(f"exec.{k}.{m}", unit, "lower") for k, unit in (
        ("wall_s", "s"), ("jobs", "count"), ("stages", "count"), ("tasks", "count"),
        ("task_run_ms", "ms"), ("task_cpu_ms", "ms"), ("gc_ms", "ms"),
        ("shuffle_write_bytes", "bytes"), ("spill_bytes", "bytes"),
        ("python_udf_ms", "ms"),
    ) for m in _MIX]
    + [(f"sources.batch.input_bytes.{m}", "bytes", "lower") for m in _MIX]
)
_STREAM = [
    ("sources.streaming.latest_offset_ms", "ms", "lower"),
    ("sources.streaming.get_batch_ms", "ms", "lower"),
    ("pipeline.ingest.batches", "count", "lower"),
    ("pipeline.ingest.batch_ms", "ms", "lower"),
    ("pipeline.ingest.add_batch_ms", "ms", "lower"),
    ("pipeline.ingest.query_planning_ms", "ms", "lower"),
    ("pipeline.ingest.wal_commit_ms", "ms", "lower"),
    ("pipeline.ingest.commit_offsets_ms", "ms", "lower"),
    ("pipeline.ingest.rows_per_batch", "count", "higher"),
    ("pipeline.ingest.state_rows", "count", "lower"),
    ("pipeline.ingest.state_mem_bytes", "bytes", "lower"),
    ("pipeline.ingest.state_commit_ms", "ms", "lower"),
    ("pipeline.ingest.state_rows_removed", "count", "higher"),
    ("pipeline.aggregate.batches", "count", "lower"),
    ("pipeline.aggregate.batch_ms", "ms", "lower"),
    ("pipeline.aggregate.add_batch_ms", "ms", "lower"),
    ("pipeline.aggregate.wal_commit_ms", "ms", "lower"),
    ("pipeline.aggregate.rows_dropped_late", "count", "lower"),
    ("feature_store.put_batch_ms", "ms", "lower"),
    ("feature_store.put_batch_calls", "count", "lower"),
    ("feature_store.files", "count", "lower"),
    ("feature_store.get_record_ms", "ms", "lower"),
    ("generator.late_s", "s", "lower"),
    ("ingest.backlog_files", "count", "lower"),
]
# name -> (unit, better). A traced run prints all of them; one its
# workload does not exercise reads 0.
PER_LAYER = {
    name: (unit, better)
    for name, unit, better in [("session.start_s", "s", "lower")] + _BATCH + _STREAM
}

