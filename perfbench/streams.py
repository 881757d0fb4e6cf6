"""Pieces shared by the two streaming workloads."""

from __future__ import annotations

import datetime as dt
import time

import numpy as np
from pyspark.sql import functions as F

from mlops_realtime_data_ingestion_spark.streaming.feature_store import FeatureStore


def typed_source(raw):
    """The production projection of the JSON event stream (as in the
    registry's ``streaming_pipeline_e2e``): the key as a string, event
    time from epoch micros, and value as an exact decimal."""
    return raw.select(
        F.col("event_id").cast("string").alias("hash"),
        F.timestamp_micros("ts_micros").alias("tx_time"),
        F.col("value").cast("decimal(18,4)").alias("fee"),
    )


def reference_windows(ev: np.ndarray, window_us: int, offset_us: int = 0) -> dict[int, tuple[int, int]]:
    """Window start (epoch us) -> (count, sum of value in cents) over the
    distinct keys of generated events whose event time is
    ``ts_micros + offset_us``."""
    first = ev[~ev["dup"]]
    starts = ((first["ts_micros"] + offset_us) // window_us) * window_us
    out: dict[int, list[int]] = {}
    for s, v in zip(starts.tolist(), first["value_cents"].tolist()):
        acc = out.setdefault(s, [0, 0])
        acc[0] += 1
        acc[1] += v
    return {s: (c, v) for s, (c, v) in out.items()}


class TimedFeatureStore(FeatureStore):
    """The engine's feature store with each ``put_batch`` timed. The
    pipeline's sink calls ``put_batch`` once per aggregate micro-batch;
    the single writer commits versions in call order."""

    def __init__(self, path: str, tracer) -> None:
        super().__init__(path)
        self.tracer = tracer
        self.commits: list[tuple[int, float]] = []  # (version, commit time)
        self.durations: list[float] = []

    def put_batch(self, batch) -> None:
        with self.tracer.span("feature_store.put_batch", op="aggregate"):
            t = time.perf_counter()
            super().put_batch(batch)
            self.durations.append(time.perf_counter() - t)
            self.commits.append((self.versions()[-1], time.time()))

    def put_ms(self) -> float:
        return 1000 * float(np.median(self.durations)) if self.durations else 0.0


def _epoch(ts: str) -> float:
    return dt.datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


def batches(progress: list[dict], t_from: float = 0.0, t_to: float = float("inf")) -> list[dict]:
    """Progress reports of micro-batches that ran (not idle polls) and
    started inside ``[t_from, t_to)``."""
    return [
        p for p in progress
        if "addBatch" in p.get("durationMs", {}) and t_from <= _epoch(p["timestamp"]) < t_to
    ]


def _med(values) -> float:
    return float(np.median(values)) if len(values) else 0.0


def _state(p: dict, key: str) -> float:
    return float(sum(op.get(key, 0) for op in p.get("stateOperators", [])))


def progress_layers(ingest: list[dict], agg: list[dict]) -> dict[str, float]:
    """Per-layer numbers from ``StreamingQuery.recentProgress``: medians
    per micro-batch for durations, totals for counters."""
    d = lambda p, k: p["durationMs"].get(k, 0)  # noqa: E731
    return {
        "sources.streaming.latest_offset_ms": _med([d(p, "latestOffset") for p in ingest]),
        "sources.streaming.get_batch_ms": _med([d(p, "getBatch") for p in ingest]),
        "pipeline.ingest.batches": float(len(ingest)),
        "pipeline.ingest.batch_ms": _med([d(p, "triggerExecution") for p in ingest]),
        "pipeline.ingest.add_batch_ms": _med([d(p, "addBatch") for p in ingest]),
        "pipeline.ingest.query_planning_ms": _med([d(p, "queryPlanning") for p in ingest]),
        "pipeline.ingest.wal_commit_ms": _med([d(p, "walCommit") for p in ingest]),
        "pipeline.ingest.commit_offsets_ms": _med([d(p, "commitOffsets") for p in ingest]),
        "pipeline.ingest.rows_per_batch": _med([p.get("numInputRows", 0) for p in ingest]),
        "pipeline.ingest.state_rows": max([_state(p, "numRowsTotal") for p in ingest], default=0.0),
        "pipeline.ingest.state_mem_bytes": max([_state(p, "memoryUsedBytes") for p in ingest], default=0.0),
        "pipeline.ingest.state_commit_ms": _med([_state(p, "commitTimeMs") for p in ingest]),
        "pipeline.ingest.state_rows_removed": sum(_state(p, "numRowsRemoved") for p in ingest),
        "pipeline.aggregate.batches": float(len(agg)),
        "pipeline.aggregate.batch_ms": _med([d(p, "triggerExecution") for p in agg]),
        "pipeline.aggregate.add_batch_ms": _med([d(p, "addBatch") for p in agg]),
        "pipeline.aggregate.wal_commit_ms": _med([d(p, "walCommit") for p in agg]),
        "pipeline.aggregate.rows_dropped_late": sum(_state(p, "numRowsDroppedByWatermark") for p in agg),
    }


PHASES = ("latestOffset", "getBatch", "queryPlanning", "walCommit", "addBatch", "commitOffsets")


def progress_spans(tracer, name: str, progress: list[dict]) -> None:
    """One span per micro-batch, with a child per ``durationMs`` phase
    laid end to end (Spark runs them in this order)."""
    if not tracer.enabled:
        return
    for p in batches(progress):
        start = _epoch(p["timestamp"])
        op = f"{name}-{p['batchId']}"
        parent = tracer.add(f"{name}.batch", start, start + p["durationMs"]["triggerExecution"] / 1000,
                            op=op, rows=p.get("numInputRows", 0))
        t = start
        for phase in PHASES:
            ms = p["durationMs"].get(phase, 0)
            tracer.add(f"{name}.{phase}", t, t + ms / 1000, parent=parent["id"], op=op)
            t += ms / 1000
