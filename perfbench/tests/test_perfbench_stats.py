"""Pure-function tests for the rules behind the reported numbers."""

from __future__ import annotations

import os
import sys

import numpy as np
import pytest

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import datagen  # noqa: E402
import stats  # noqa: E402


# -- window-closing event ------------------------------------------------

def test_closing_event_is_first_at_or_past_end_plus_watermark():
    created = [0, 1, 2, 3, 4]
    event_t = [0, 1, 2, 3, 4]
    # window ends 1 and 2 with watermark 1 close at event times 2 and 3
    assert stats.closing_created([1, 2], created, event_t, 1) == [2, 3]


def test_out_of_order_event_never_closes_a_window_early():
    # the event created at 3 is 2 s late; the running maximum decides
    created = [0, 1, 2, 3, 4, 5]
    event_t = [0, 1, 2, 1, 4, 5]
    assert stats.closing_created([2], created, event_t, 1) == [4]


def test_out_of_order_event_can_close_when_it_is_the_maximum():
    created = [0, 1, 2]
    event_t = [0, 5, 1]
    assert stats.closing_created([3], created, event_t, 1) == [1]


def test_unclosed_window_has_no_closing_event():
    assert stats.closing_created([10], [0, 1], [0, 1], 1) == [None]


# -- percentile rule -----------------------------------------------------

def test_percentile_interpolates_between_ranks():
    assert stats.percentile([1, 2, 3, 4], 50) == 2.5
    assert stats.percentile(list(range(101)), 90) == 90.0


def test_percentile_of_empty_sample_raises():
    with pytest.raises(ValueError):
        stats.percentile([], 50)


@pytest.mark.parametrize("n,q,ok", [
    (20, 50, True), (19, 50, False),
    (40, 75, True), (39, 75, False),
    (100, 90, True), (99, 90, False),
    (200, 95, True), (199, 95, False),
])
def test_percentile_needs_ten_samples_beyond(n, q, ok):
    assert stats.supported(n, q) is ok


def test_named_percentiles_report_only_supported_ones():
    got = stats.named_percentiles("lag", list(range(40)), (50, 75, 90))
    assert got == {"lag_p50_s": 19.5, "lag_p75_s": 29.25, "lag_p90_s": None}


def test_empty_sample_reads_none_instead_of_raising():
    assert stats.named_percentiles("lag", [], (50,)) == {"lag_p50_s": None}
    assert stats.median([]) is None
    assert stats.query_stretch_p95({}) is None


def test_feature_lag_percentiles_have_support_in_a_benchmark_run():
    import json

    import live

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        seconds = json.load(f)["run_seconds"]
    windows = seconds * 1_000_000 // live.WINDOW_US
    assert all(stats.supported(windows, q) for q in live.P_LAG)


# -- query stretch -------------------------------------------------------

def test_query_stretch_is_time_over_own_median():
    times = {"a": [1.0, 2.0, 3.0], "b": [10.0, 10.0, 40.0]}
    assert sorted(stats.query_stretch(times)) == [0.5, 1.0, 1.0, 1.0, 1.5, 4.0]


def test_query_stretch_p95_catches_slow_executions():
    times = {f"q{i}": [1.0] * 10 for i in range(20)}
    assert stats.query_stretch_p95(times) == 1.0
    times["q0"].append(20.0)
    assert stats.query_stretch_p95(times) == 1.0  # 1 of 201: beyond p95
    for i in range(1, 16):
        times[f"q{i}"].append(20.0)
    assert stats.query_stretch_p95(times) > 10.0  # 16 of 216


def test_query_stretch_p95_needs_ten_executions_beyond():
    assert stats.query_stretch_p95({"q": [1.0] * 199}) is None
    assert stats.query_stretch_p95({"q": [1.0] * 200}) == 1.0


# -- checkpoint reading and CPU accounting (live) -------------------------

def _write_log(path, lines):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        f.write("v1\n" + "\n".join(lines) + "\n")


def test_source_files_map_to_the_query_batch_that_read_them(tmp_path):
    import json

    import live

    ckpt = str(tmp_path)
    # file-source log entries 0 and 1; query batches 0 (data), 1 (no
    # data: same logOffset) and 2 (data)
    for n, name in enumerate(["a.json", "b.json"]):
        _write_log(os.path.join(ckpt, "sources", "0", str(n)),
                   [json.dumps({"path": f"file:///in/{name}", "batchId": n})])
    for b, off in enumerate([0, 0, 1]):
        _write_log(os.path.join(ckpt, "offsets", str(b)),
                   [json.dumps({"batchWatermarkMs": 0}), json.dumps({"logOffset": off})])
    assert live.source_batches(ckpt) == {"/in/a.json": 0, "/in/b.json": 2}


def _sampler(samples):
    """A TreeSampler holding the given (time, CPU) samples, not started."""
    import common

    s = common.TreeSampler()
    s._cpu = samples
    return s


def test_cpu_is_interpolated_between_samples():
    s = _sampler([(0.0, 0.0), (1.0, 2.0), (2.0, 6.0)])
    assert s.cpu_between(0.5, 1.5) == 3.0


def test_no_duplicate_crosses_from_warm_up_to_timed_rows():
    import live

    ev = datagen.stream_events(5, 20_000, 20_000_000)
    cut = 10_000
    out = live.own_originals(ev, cut)
    timed = out[cut:]
    assert not (timed["dup"] & (timed["event_id"] < cut)).any()
    # every key is still unique among originals, and the rest is untouched
    first = out[~out["dup"]]
    assert len(np.unique(first["event_id"])) == len(first)
    assert out[:cut].tobytes() == ev[:cut].tobytes()
    assert (ev[cut:]["dup"] & (ev[cut:]["event_id"] < cut)).any()


def test_reads_fall_half_way_between_publications_inside_the_window():
    import live

    p = live.FILE_EVERY_S
    dues = live.read_schedule(100.0, 100.0 + 1.2 * p, 100.0 + 4.2 * p)
    assert dues == [100.0 + 1.5 * p, 100.0 + 2.5 * p, 100.0 + 3.5 * p]


def test_cpu_per_kevent_spans_first_to_last_commit_in_the_window():
    import types

    import live

    ctx = types.SimpleNamespace(sampler=_sampler([(0.0, 0.0), (100.0, 100.0)]))
    # four files committed at 9, 12, 16 and 20; the window is [10, 20)
    commits = {"f0": 9.0, "f1": 12.0, "f2": 16.0, "f3": 20.0}
    # CPU from 12 to 16 (4 s) bought one file of 2,000 events
    assert live.cpu_per_kevent(ctx, commits, 2000, 10.0, 20.0) == 2.0
    assert live.cpu_per_kevent(ctx, {"f0": 12.0}, 2000, 10.0, 20.0) is None


# -- generators ------------------------------------------------------------

def test_stream_events_are_seeded():
    a = datagen.stream_events(7, 5000, 10_000_000)
    b = datagen.stream_events(7, 5000, 10_000_000)
    c = datagen.stream_events(8, 5000, 10_000_000)
    assert a.tobytes() == b.tobytes()
    assert a.tobytes() != c.tobytes()


def test_duplicates_repeat_an_original_exactly():
    ev = datagen.stream_events(3, 20_000, 60_000_000)
    orig = {int(e["event_id"]): e for e in ev[~ev["dup"]]}
    dups = ev[ev["dup"]]
    assert 0.03 < len(dups) / len(ev) < 0.07
    for d in dups:
        o = orig[int(d["event_id"])]
        assert (o["ts_micros"], o["value_cents"]) == (d["ts_micros"], d["value_cents"])
        assert 0 < d["created_us"] - o["created_us"] <= 10_000_000


def test_out_of_order_share_and_bound():
    ev = datagen.stream_events(3, 50_000, 3_600_000_000)
    first = ev[~ev["dup"]]
    lag = first["created_us"] - first["ts_micros"]
    assert 0.015 < np.mean(lag > 0) < 0.025
    assert lag.max() <= 1_000_000


def test_batch_tables_are_seeded_and_typed():
    a = datagen.batch_tables(5, 0.001)
    b = datagen.batch_tables(5, 0.001)
    assert set(a) == {"region", "nation", "customer", "supplier", "part", "orders",
                      "lineitem", "events", "documents", "embeddings"}
    for name in a:
        assert a[name].equals(b[name]), name
    assert str(a["events"].schema.field("ts").type) == "timestamp[us]"
    assert str(a["embeddings"].schema.field("embedding").type) == "list<item: float>"
