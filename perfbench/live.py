"""``stream_live``: an open-loop feed into both pipeline queries while a
reader polls the feature store.

After an untimed closed-loop warm-up, a generator thread publishes
seeded JSON event files on a fixed schedule whatever the pipeline does;
the main thread reads the newest committed window from the feature
store on its own schedule and times each read from when it was due.
The run fails when the open loop did not hold: the generator ran late,
or the pipeline fell more than ``MAX_BACKLOG_S`` of input behind.

The dedup watermark is shortened with the window, so the dedup state
both fills and evicts keys inside the timed window.
"""

from __future__ import annotations

import datetime as dt
import glob
import json
import math
import os
import threading
import time

import numpy as np
import pyarrow.parquet as pq

import datagen
import stats
from streams import (
    TimedFeatureStore, batches, progress_layers, progress_spans, reference_windows,
    typed_source,
)

EVENTS_PER_S = 5000
FILE_EVERY_S = 4.0        # a data batch, an eviction batch and a
                          # window emission per file leave both queries
                          # idle ~50-75% of the time on 4 cores (one
                          # file every 0.1-2 s saturates them); one read
                          # per file, half-way between publications
WINDOW_US = 250_000       # 64 windows close per 16 s
WATERMARK_US = 1_000_000
DEDUP_WATERMARK_S = 5     # > the 1 s out-of-order bound; duplicates
                          # arrive up to 10 s later, so some meet the
                          # state and some are dropped as late
WARM_FILES = 6            # untimed warm-up files, sent in a closed loop:
                          # the CPU per file falls over the first few
SWITCH_S = 2.0            # from the warm-up to the first timed file:
                          # the aggregate query catches up meanwhile
WARMUP_MAX_S = 60.0
DRAIN_MAX_S = 30.0        # for windows closed in the window to commit
MAX_LATE_S = 0.5          # generator lateness that voids the open loop
MAX_BACKLOG_S = 5.0       # input not yet ingested that voids it

# percentiles kept in the run record when the sample supports them
# (stats.supported); the rest read None
P_INGEST, P_LAG, P_READ = (50, 90), (50, 75), (50,)


def run(ctx) -> dict:
    from mlops_realtime_data_ingestion_spark.sources.streaming import json_file_stream
    from mlops_realtime_data_ingestion_spark.streaming.pipeline import (
        PipelineConfig, StreamingPipeline,
    )

    spark, tracer, work = ctx.spark, ctx.tracer, ctx.work
    n_files = WARM_FILES + int((ctx.seconds + DRAIN_MAX_S) / FILE_EVERY_S) + 2
    per_file = int(EVENTS_PER_S * FILE_EVERY_S)
    ev = own_originals(datagen.stream_events(
        ctx.seed, n_files * per_file, int(n_files * FILE_EVERY_S * 1_000_000),
        ooo_max_us=WATERMARK_US - 1,
    ), WARM_FILES * per_file)
    src = os.path.join(work, "src")
    os.makedirs(src)
    cfg = PipelineConfig(
        feature_path=os.path.join(work, "features"),
        checkpoint_root=os.path.join(work, "ckpt"),
        bronze_path=os.path.join(work, "bronze"),
        dedup_watermark=f"{DEDUP_WATERMARK_S} seconds",
        agg_watermark=f"{WATERMARK_US // 1000} milliseconds",
        window=f"{WINDOW_US // 1000} milliseconds",
    )
    pipe = StreamingPipeline(cfg)
    pipe.store = TimedFeatureStore(cfg.feature_path, tracer)

    with tracer.span("pipeline.start", op="live"):
        ingest_q = pipe.start_ingest(typed_source(json_file_stream(spark, src)))
        agg_q = pipe.start_aggregate(spark)

    published: list[tuple[str, float, float]] = []  # (path, due, done)

    def publish(k: int, offset_us: int, due: float) -> None:
        rows = ev[k * per_file:(k + 1) * per_file].copy()
        rows["ts_micros"] += offset_us
        path = datagen.publish(src, f"part-{k:06d}.json", datagen.json_lines(rows))
        published.append((path, due, time.time()))

    windows = WindowLog(pipe.store)

    def read(due: float, label: str) -> dict:
        """One get_record of the newest window known to be committed."""
        known = windows.update()
        key_us = max(known) if known else None
        rec = {"due": due, "key_us": key_us}
        if key_us is None:
            return {**rec, "start": due, "done": due, "error": "no window committed yet"}
        key = dt.datetime.fromtimestamp(key_us / 1e6, dt.timezone.utc)
        time.sleep(max(0.0, due - time.time()))
        rec["start"] = time.time()
        with tracer.span("feature_store.get_record", op=label):
            try:
                rec["rows"] = [r.asDict() for r in pipe.store.get_record(spark, key)]
            except Exception as e:  # a failed read is counted, not fatal
                rec["error"] = repr(e)
        rec["done"] = time.time()
        return rec

    stop = threading.Event()
    gen = None
    reads: list[dict] = []
    try:
        # Warm-up, closed loop and untimed: file k goes out once the
        # ingest query committed file k - 1 and the feature store
        # committed file k - 2, so each file gets batches of its own in
        # both queries. Its events carry event times before t_start, so
        # every later event is newer.
        t_start = time.time()
        warm_us = int(t_start * 1e6) - WARM_FILES * int(FILE_EVERY_S * 1e6)
        ingest_ckpt = os.path.join(cfg.checkpoint_root, "bronze")
        with tracer.span("pipeline.warmup", op="live"):
            for k in range(WARM_FILES + 1):
                while k and not (published[-1][0] in file_commits(ingest_ckpt)
                                 and len(pipe.store.commits) >= k - 1):
                    if time.time() - t_start > WARMUP_MAX_S:
                        raise RuntimeError("pipeline did not take in the warm-up files in time")
                    time.sleep(0.1)
                if k < WARM_FILES:
                    publish(k, warm_us, time.time())
                if k % 3 == 2:
                    read(time.time(), "warmup-read")

        # The timed schedule: file k (from WARM_FILES on) holds the
        # events created from t0 + k * FILE_EVERY_S on and goes out at
        # the end of that span; the first one SWITCH_S after the warm-up.
        t0 = time.time() + SWITCH_S - (WARM_FILES + 1) * FILE_EVERY_S
        t0_us = int(t0 * 1e6)

        def generate() -> None:
            for k in range(WARM_FILES, n_files):
                due = t0 + (k + 1) * FILE_EVERY_S
                if stop.wait(max(0.0, due - time.time())):
                    return
                publish(k, t0_us, due)

        gen = threading.Thread(target=generate, name="generator", daemon=True)
        gen.start()
        m0 = t0 + (WARM_FILES + 1) * FILE_EVERY_S
        time.sleep(max(0.0, m0 - time.time()))
        ctx.mark_setup_done()
        m1 = m0 + ctx.seconds
        dues = read_schedule(t0, m0, m1)
        for k, due in enumerate(dues):
            if time.time() >= m1:
                break  # reads not sent by the end of the window count as failed
            reads.append(read(due, f"read-{k}"))
        time.sleep(max(0.0, m1 - time.time()))
        # drain: wait until every window closed inside the window commits
        offset = np.where(np.arange(len(ev)) < WARM_FILES * per_file, warm_us, t0_us)
        ev_abs = ev.copy()
        ev_abs["ts_micros"] += offset
        ev_abs["created_us"] += offset
        target = closed_between(ev_abs, m0, m1)
        with tracer.span("pipeline.drain", op="live"):
            while time.time() < m1 + DRAIN_MAX_S and not target <= windows.update().keys():
                time.sleep(0.25)
    finally:
        stop.set()
        if gen is not None:
            gen.join(10)
        for q in (ingest_q, agg_q):
            q.stop()
        for q in (ingest_q, agg_q):
            q.awaitTermination(30)
    ingest_prog = [json.loads(p.json) for p in ingest_q.recentProgress]
    agg_prog = [json.loads(p.json) for p in agg_q.recentProgress]
    return analyse(ctx, ev_abs, per_file, m0, m1, published, len(dues), reads,
                   pipe.store, windows.update(), cfg, ingest_prog, agg_prog)


def own_originals(ev: np.ndarray, first_timed: int) -> np.ndarray:
    """The warm-up and the timed files carry different event-time
    offsets, so a duplicate must not cross from one to the other: a
    duplicate in the timed rows (from ``first_timed`` on) whose original
    is a warm-up row becomes an original event of its own."""
    ev = ev.copy()
    rows = np.arange(len(ev))
    cross = (rows >= first_timed) & ev["dup"] & (ev["event_id"] < first_timed)
    ev["event_id"][cross] = rows[cross]
    ev["ts_micros"][cross] = ev["created_us"][cross]
    ev["dup"][cross] = False
    return ev


def read_schedule(t0: float, m0: float, m1: float) -> list[float]:
    """Read times inside ``[m0, m1)``: half-way between publications, so
    that every ingest cycle holds one read whatever the window's phase."""
    k = math.ceil((m0 - t0) / FILE_EVERY_S - 0.5)
    dues = []
    while (due := t0 + (k + 0.5) * FILE_EVERY_S) < m1:
        dues.append(due)
        k += 1
    return dues


def source_batches(ckpt: str) -> dict[str, int]:
    """Source file -> the query's micro-batch that read it. The file
    source numbers its own log (``sources/0``) by ``logOffset``; the
    query's ``offsets/<batch>`` records the ``logOffset`` each batch
    read up to, and no-data batches repeat the last one."""
    entry_of: dict[str, int] = {}
    for f in glob.glob(os.path.join(ckpt, "sources", "0", "*")):
        with open(f) as fh:
            for line in fh.read().splitlines()[1:]:
                e = json.loads(line)
                entry_of[e["path"].removeprefix("file://")] = e["batchId"]
    read_to = []  # (logOffset, batch), in batch order
    for f in glob.glob(os.path.join(ckpt, "offsets", "[0-9]*")):
        with open(f) as fh:
            read_to.append((json.loads(fh.read().splitlines()[-1])["logOffset"], int(os.path.basename(f))))
    read_to.sort(key=lambda x: x[1])
    out = {}
    for path, n in entry_of.items():
        # the first batch whose offset reaches the file's log entry
        b = next((b for off, b in read_to if off >= n), None)
        if b is not None:
            out[path] = b
    return out


def file_commits(ckpt: str) -> dict[str, float]:
    """Source file -> commit time of the ingest batch that read it:
    ``commits/<batch>`` is written when that batch commits."""
    out = {}
    for path, b in source_batches(ckpt).items():
        c = os.path.join(ckpt, "commits", str(b))
        if os.path.exists(c):
            out[path] = os.stat(c).st_mtime
    return out


def last_sink_batch(bronze: str) -> int:
    """Newest batch the bronze file sink logged (its ``_spark_metadata``);
    a reader of the table sees exactly the batches up to it."""
    names = [os.path.basename(f).split(".")[0]
             for f in glob.glob(os.path.join(bronze, "_spark_metadata", "*"))]
    return max((int(n) for n in names if n.isdigit()), default=-1)


class WindowLog:
    """Window start (epoch us) -> commit time of the feature-store put
    that wrote it, read incrementally from the committed versions."""

    def __init__(self, store: TimedFeatureStore) -> None:
        self.store = store
        self.seen = 0
        self.commit_of: dict[int, float] = {}

    def update(self) -> dict[int, float]:
        commits = list(self.store.commits)
        for version, t_commit in commits[self.seen:]:
            with open(os.path.join(self.store.path, "_manifests", f"v{version:06d}.json")) as f:
                added = json.load(f)["added"]
            for rel in added:
                col = pq.read_table(os.path.join(self.store.path, rel), columns=["tx_minute"]).column(0)
                for ts in col.to_numpy().astype("datetime64[us]").astype(np.int64).tolist():
                    self.commit_of.setdefault(ts, t_commit)
        self.seen = len(commits)
        return self.commit_of


def closing_times(ev: np.ndarray) -> dict[int, float]:
    """Window start -> creation time (epoch s) of the event that closes
    it; ``ev`` holds epoch times, in creation order."""
    first = ev[~ev["dup"]]
    starts = np.unique((first["ts_micros"] // WINDOW_US) * WINDOW_US)
    closing = stats.closing_created(
        starts + WINDOW_US, ev["created_us"], ev["ts_micros"], WATERMARK_US,
    )
    return {s: c / 1e6 for s, c in zip(starts.tolist(), closing) if c is not None}


def closed_between(ev: np.ndarray, m0: float, m1: float) -> set[int]:
    return {s for s, c in closing_times(ev).items() if m0 <= c < m1}


def max_backlog(published, commits, m0, m1) -> int:
    """Most files published but not yet committed at any publication
    inside the window."""
    worst = 0
    for _, _, now in published:
        if m0 <= now < m1:
            waiting = sum(1 for p, _, d in published if d <= now and commits.get(p, 1e18) > now)
            worst = max(worst, waiting)
    return worst


def cpu_per_kevent(ctx, commits: dict[str, float], per_file: int, m0: float, m1: float):
    """CPU seconds of the process tree per 1,000 events committed to
    bronze, from the first to the last ingest commit inside the window,
    so that the CPU and the events it bought cover the same span."""
    times = sorted({c for c in commits.values() if m0 <= c < m1})
    if len(times) < 2:
        return None
    files = sum(1 for c in commits.values() if times[0] < c <= times[-1])
    return ctx.sampler.cpu_between(times[0], times[-1]) / (files * per_file / 1000)


def cycle_cpu(ctx, commits: dict[str, float], m0: float, m1: float) -> list[float]:
    """CPU seconds between consecutive ingest commits inside the window."""
    times = sorted({c for c in commits.values() if m0 <= c < m1})
    return [ctx.sampler.cpu_between(a, b) for a, b in zip(times, times[1:])]


def check_bronze(spark, ev: np.ndarray, per_file: int, cfg) -> list[str]:
    """Bronze holds each distinct key of the ingested files exactly once:
    the files of every batch up to the newest one its sink logged."""
    from pyspark.sql import functions as F

    last = last_sink_batch(cfg.bronze_path)
    if last < 0:
        return ["the bronze sink committed no batch"]
    want: dict[int, int] = {}  # key -> source file index
    for path, b in source_batches(os.path.join(cfg.checkpoint_root, "bronze")).items():
        if b <= last:
            k = int(os.path.basename(path)[len("part-"):-len(".json")])
            for key in ev["event_id"][k * per_file:(k + 1) * per_file].tolist():
                want.setdefault(key, k)
    got = spark.read.parquet(cfg.bronze_path).select(F.col("hash").cast("long")).toPandas().iloc[:, 0]
    failures = []
    if got.duplicated().any():
        failures.append(f"bronze holds {int(got.duplicated().sum())} duplicate keys")
    missing = want.keys() - set(got.tolist())
    extra = set(got.tolist()) - want.keys()
    if missing or extra:
        files = sorted({want[k] for k in missing})
        failures.append(f"bronze: {len(missing)} keys missing (files {files[:10]}), "
                        f"{len(extra)} unexpected, sink batch {last}")
    return failures


def busy_share(progress: list[dict], m0: float, m1: float) -> float:
    """Share of the window a query spent running micro-batches."""
    ms = sum(p["durationMs"]["triggerExecution"] for p in batches(progress, m0, m1))
    return ms / 1000 / (m1 - m0)


def analyse(ctx, ev, per_file, m0, m1, published, n_due, reads, store, win_commit,
            cfg, ingest_prog, agg_prog) -> dict:
    failures: list[str] = []
    # ingest latency: file publication -> commit of the batch that read it
    commits = file_commits(os.path.join(cfg.checkpoint_root, "bronze"))
    in_window = [(p, done) for p, _, done in published if m0 <= done < m1]
    ingest = []
    for path, done in in_window:
        if path in commits:
            ingest.append(commits[path] - done)
        else:
            failures.append(f"file never ingested: {os.path.basename(path)}")

    # feature lag: commit of a window minus the creation of the event
    # that closed it (excludes window length and watermark wait)
    ref = reference_windows(ev, WINDOW_US)
    closes = closing_times(ev)
    closed = sorted(closed_between(ev, m0, m1))
    lags = []
    for s in closed:
        if s in win_commit:
            lags.append(win_commit[s] - closes[s])
        else:
            failures.append(f"window not committed within {DRAIN_MAX_S} s: {s}")

    # reads: exactly one row, as the window was committed before the
    # read began, equal to that window's reference value; a read due in
    # the window but never sent counts as failed
    failures += ["read due but not sent"] * (n_due - len(reads))
    read_lat, matched = [], 0
    for r in reads:
        read_lat.append(r["done"] - r["due"])
        if "error" in r:
            failures.append(f"read failed: {r['error'][:200]}")
            continue
        rows = r["rows"]
        if len(rows) != 1:
            failures.append(f"read of committed window {r['key_us']} returned {len(rows)} rows")
            continue
        want = ref.get(r["key_us"])
        got = (rows[0]["total_nb_trx_1min"], int(round(float(rows[0]["total_fee_1min"]) * 100)))
        if want != got:
            failures.append(f"read {r['key_us']}: got {got}, want {want}")
        else:
            matched += 1
    failures += check_bronze(ctx.spark, ev, per_file, cfg)

    # the open loop held: the generator kept its schedule and the
    # pipeline kept up with it
    late = [done - due for _, due, done in published if m0 <= done < m1]
    backlog = max_backlog(published, commits, m0, m1)
    if late and max(late) > MAX_LATE_S:
        failures.append(f"generator ran {max(late):.2f} s late")
    if backlog > MAX_BACKLOG_S / FILE_EVERY_S:
        failures.append(f"backlog of {backlog} files: the pipeline fell behind the feed")
    cpu = cpu_per_kevent(ctx, commits, per_file, m0, m1)
    if cpu is None:
        failures.append("fewer than two ingest commits in the window")

    layers = progress_layers(batches(ingest_prog, m0, m1), batches(agg_prog, m0, m1))
    layers.update({
        "feature_store.put_batch_ms": store.put_ms(),
        "feature_store.put_batch_calls": float(len(store.commits)),
        "feature_store.files": float(sum(
            1 for _ in glob.iglob(os.path.join(store.path, "**", "*.parquet"), recursive=True))),
        "feature_store.get_record_ms": 1000 * float(np.median(
            [r["done"] - r["start"] for r in reads])) if reads else 0.0,
        "generator.late_s": float(np.max(late)) if late else 0.0,
        "ingest.backlog_files": float(backlog),
    })
    progress_spans(ctx.tracer, "pipeline.ingest", ingest_prog)
    progress_spans(ctx.tracer, "pipeline.aggregate", agg_prog)
    detail = {
        **stats.named_percentiles("ingest_latency", ingest, P_INGEST),
        **stats.named_percentiles("feature_lag", lags, P_LAG),
        **stats.named_percentiles("feature_read", read_lat, P_READ),
    }
    return {
        "e2e": {"result_latency_s": stats.median(lags), "cpu_s_per_result": cpu},
        "detail": detail, "layers": layers,
        "attempted": len(in_window) + len(closed) + n_due,
        "failures": failures,
        "samples": {"ingest": len(ingest), "windows": len(lags), "reads": len(read_lat),
                    "reads_matched": matched},
        "generator": {"late_max_s": max(late) if late else 0.0,
                      "late_p50_s": float(np.median(late)) if late else 0.0,
                      "files": len(published)},
        "load": {"cores_busy": ctx.sampler.cpu_between(m0, m1) / (m1 - m0),
                 "ingest_busy_share": busy_share(ingest_prog, m0, m1),
                 "aggregate_busy_share": busy_share(agg_prog, m0, m1),
                 "max_backlog_files": backlog,
                 "cpu_s_per_commit": cycle_cpu(ctx, commits, m0, m1)},
    }
