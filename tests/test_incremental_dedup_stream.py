"""Streaming near-dup filter with a persisted LSH signature index:
micro-batches drop intra-batch and cross-corpus duplicates, survivors
extend the index, replays are idempotent."""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import functions as F

from mlops_realtime_data_ingestion_spark.streaming.incremental_dedup import (
    StreamingDedup,
)


def _doc(i, salt):
    return (i, " ".join(f"w{salt}x{j}" for j in range(15)) + " common tail")


def _write_batch(spark, input_dir, rows, name):
    spark.createDataFrame(rows, "doc_id long, text string").coalesce(1).write.mode(
        "append"
    ).parquet(input_dir)


def _drain(spark, sd, input_dir):
    stream = spark.readStream.schema("doc_id long, text string").parquet(input_dir)
    q = sd.attach(stream, available_now=True)
    q.awaitTermination(120)


def test_streaming_dedup_end_to_end(spark, tmp_path):
    input_dir = str(tmp_path / "in")
    os.makedirs(input_dir)
    sd = StreamingDedup(str(tmp_path / "dd"))

    # batch 1: five mutually distinct docs
    batch1 = [_doc(i, i) for i in range(1, 6)]
    _write_batch(spark, input_dir, batch1, "b1")
    _drain(spark, sd, input_dir)

    assert sorted(r["doc_id"] for r in sd.clean(spark).collect()) == [1, 2, 3, 4, 5]
    assert spark.read.parquet(sd.index_path).count() == 5
    assert not os.path.isdir(sd.dup_path) or sd.dups(spark).count() == 0

    # batch 2: 10 near-dups doc 3 (corpus hit), 11 is new, 12 near-dups
    # 11 (intra-batch), 13 is new
    near3 = _doc(3, 3)[1] + " extra"
    batch2 = [(10, near3), _doc(11, 11), (12, _doc(11, 11)[1] + " more"), _doc(13, 13)]
    _write_batch(spark, input_dir, batch2, "b2")
    _drain(spark, sd, input_dir)

    clean_ids = sorted(r["doc_id"] for r in sd.clean(spark).collect())
    assert clean_ids == [1, 2, 3, 4, 5, 11, 13]
    dups = {(r["doc_id"], r["matched_id"], r["kind"]) for r in sd.dups(spark).collect()}
    assert (10, 3, "corpus") in dups
    assert (12, 11, "intra") in dups
    assert len(dups) == 2
    # survivors (and only survivors) joined the index
    idx_ids = sorted(r["id"] for r in spark.read.parquet(sd.index_path).collect())
    assert idx_ids == [1, 2, 3, 4, 5, 11, 13]

    # batch 3: a near-dup of batch-2 survivor 11 -> caught via the index
    batch3 = [(20, _doc(11, 11)[1] + " again")]
    _write_batch(spark, input_dir, batch3, "b3")
    _drain(spark, sd, input_dir)
    assert (20, 11, "corpus") in {
        (r["doc_id"], r["matched_id"], r["kind"]) for r in sd.dups(spark).collect()
    }
    assert 20 not in [r["doc_id"] for r in sd.clean(spark).collect()]


def test_batch_replay_is_idempotent(spark, tmp_path):
    """Re-running a micro-batch id rewrites its own partition instead
    of double-appending (the at-least-once foreachBatch contract).

    The index is re-read INSIDE the loop, exactly as process() does on
    a real replay: the second attempt sees the first attempt's index
    partition, and only the batch_id < current filter stops the batch
    from matching its own prior signatures (jaccard 1.0 self-matches
    that would reject every row as a 'corpus' dup)."""
    sd = StreamingDedup(str(tmp_path / "dd2"))
    batch = spark.createDataFrame(
        [_doc(1, 1), _doc(2, 2)], "doc_id long, text string"
    )
    for _ in range(2):  # same batch id processed twice
        index = sd._index(spark).filter(F.col("batch_id") < F.lit(0))
        clean, dups, entries, cached = sd.dedup_batch(batch, index)
        try:
            for df, path in (
                (clean, sd.clean_path),
                (dups, sd.dup_path),
                (entries, sd.index_path),
            ):
                (
                    df.withColumn("batch_id", F.lit(0))
                    .write.partitionBy("batch_id")
                    .option("partitionOverwriteMode", "dynamic")
                    .mode("overwrite")
                    .parquet(path)
                )
        finally:
            cached.unpersist()
    assert sd.clean(spark).count() == 2
    assert spark.read.parquet(sd.index_path).count() == 2
    # the replay must NOT have matched the batch against its own
    # first-attempt signatures
    assert sd.dups(spark).count() == 0


def test_damaged_index_fails_the_sink(spark, tmp_path):
    """An index that exists but cannot be read must fail the batch: read
    as empty, it would pass every near-duplicate through as clean."""
    from pyspark.errors import StreamingQueryException

    input_dir = str(tmp_path / "in")
    os.makedirs(input_dir)
    sd = StreamingDedup(str(tmp_path / "dd3"))
    _write_batch(spark, input_dir, [_doc(1, 1), _doc(2, 2)], "b1")
    _drain(spark, sd, input_dir)

    # a data file outside the batch_id=<n>/ layout: partition discovery
    # of the index now fails
    part = next(
        f for f in os.listdir(os.path.join(sd.index_path, "batch_id=0"))
        if f.endswith(".parquet")
    )
    os.makedirs(os.path.join(sd.index_path, "stray"))
    shutil.copy(
        os.path.join(sd.index_path, "batch_id=0", part),
        os.path.join(sd.index_path, "stray", part),
    )

    _write_batch(spark, input_dir, [(3, _doc(1, 1)[1] + " extra")], "b2")
    stream = spark.readStream.schema("doc_id long, text string").parquet(input_dir)
    q = sd.attach(stream, available_now=True)
    with pytest.raises(StreamingQueryException, match="CONFLICTING_DIRECTORY_STRUCTURES"):
        q.awaitTermination(120)
    assert sorted(r["doc_id"] for r in sd.clean(spark).collect()) == [1, 2]
