"""Per-micro-batch commit cost of the live pipeline: the local
checkpoint manager keeps the offset log's no-overwrite guarantee and
its checksum files, the aggregate sink runs its stateful stage once
per batch, each feature-store put writes one file per hive partition,
and an ``availableNow`` run that outlives its timeout fails loudly."""

from __future__ import annotations

import json
import os
from collections import Counter

import pytest
from py4j.protocol import Py4JJavaError

from tests.test_streaming import _event, _pipeline, _typed_stream, _write_jsonl

FS_MANAGER = (
    "org.apache.spark.sql.execution.streaming.checkpointing."
    "FileSystemBasedCheckpointFileManager"
)


def test_local_checkpoint_manager_refuses_overwrite(spark, tmp_path):
    assert spark.conf.get("spark.sql.streaming.checkpointFileManagerClass") == FS_MANAGER
    jvm = spark._jvm
    offsets = tmp_path / "offsets"
    offsets.mkdir()
    batch0 = jvm.org.apache.hadoop.fs.Path(f"file://{offsets}/0")
    manager = jvm.org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager.create(
        batch0.getParent(), spark._jsparkSession.sessionState().newHadoopConf()
    )
    assert manager.getClass().getName() == FS_MANAGER

    out = manager.createAtomic(batch0, False)
    out.write(b"first")
    out.close()
    # the offset log writes every batch file with overwriteIfPossible=False:
    # a second writer of the same batch must fail, not replace it
    out = manager.createAtomic(batch0, False)
    out.write(b"second")
    with pytest.raises(Py4JJavaError, match="already exists"):
        out.close()
    out.cancel()
    assert (offsets / "0").read_bytes() == b"first"
    assert (offsets / ".0.crc").exists()  # Hadoop's checksum file


def test_sink_runs_stateful_stage_once_and_put_writes_one_file_per_partition(spark, tmp_path):
    src = tmp_path / "src"
    src.mkdir()
    # three closed windows in hour 0 and three in hour 1, one put
    minutes = [57, 58, 59, 60, 61, 62]
    rows = [_event(10 * m + j, m + j * 0.1, 2.0) for m in minutes for j in (0, 1)]
    rows.append(_event(999, 90.0, 1.0))  # watermark passes every window above
    _write_jsonl(str(src / "a.jsonl"), rows)

    pipe = _pipeline(tmp_path, "commits")
    _, agg_q = pipe.run(_typed_stream(spark, str(src)), available_now=True)

    # persisted around isEmpty() + put_batch, every state partition is
    # loaded and committed once per batch; unpersisted it is twice
    stateful = [p for p in agg_q.recentProgress if p["stateOperators"]]
    assert stateful
    for p in stateful:
        op = p["stateOperators"][0]
        assert op["numStateStoreInstances"] == op["numShufflePartitions"], p["batchId"]

    versions = pipe.store.versions()
    assert versions
    manifests = os.path.join(pipe.config.feature_path, "_manifests")
    touched = Counter()
    for v in versions:
        with open(os.path.join(manifests, f"v{v:06d}.json")) as f:
            added = json.load(f)["added"]
        per_dir = Counter(os.path.dirname(a) for a in added)
        assert set(per_dir.values()) == {1}, (v, added)
        touched.update(per_dir)
    assert {d.split("/")[3] for d in touched} == {"hour=0", "hour=1"}
    got = {
        r["tx_minute"].hour * 60 + r["tx_minute"].minute: r["total_nb_trx_1min"]
        for r in pipe.store.online_view(spark).collect()
    }
    assert got == {m: 2 for m in minutes}

    # Spark's checkpoint checksum and Hadoop's .crc file per state delta
    delta_dir = os.path.join(pipe.config.checkpoint_root, "features", "state", "0", "0")
    names = set(os.listdir(delta_dir))
    deltas = [n for n in names if n.endswith(".delta")]
    assert deltas
    for d in deltas:
        assert {f"{d}.crc", f".{d}.crc"} <= names


def test_available_now_timeout_raises_before_aggregate(spark, tmp_path):
    src = tmp_path / "src"
    src.mkdir()
    _write_jsonl(str(src / "a.jsonl"), [_event(i, i * 0.5) for i in range(20)])
    pipe = _pipeline(tmp_path, "timeout")
    before = {q.id for q in spark.streams.active}
    with pytest.raises(TimeoutError, match="ingest"):
        pipe.run(_typed_stream(spark, str(src)), available_now=True, timeout_s=0.001)
    assert {q.id for q in spark.streams.active} == before  # ingest stopped
    # the aggregate query never started on the partial bronze
    assert not os.path.exists(os.path.join(pipe.config.checkpoint_root, "features"))
