"""Streaming corpus dedup against a persisted MinHash-LSH index.

The batch operators bootstrap a deduplicated corpus
(operators/dedup.minhash_lsh_pairs) and check one increment against it
(minhash_lsh_join); this module closes the loop for a LIVE ingest: a
``foreachBatch`` sink that, per micro-batch,

1. drops intra-batch near-duplicates (keep min id),
2. drops documents that near-duplicate the already-accepted corpus
   (band-join against the signature INDEX — never the corpus text),
3. appends the survivors' rows to the clean table, the rejected pairs
   to a dup log, and the survivors' signatures to the index.

The index holds (id, shingle-hashes, band-keys) — it IS the dedup
state, so the corpus text is never rescanned and per-batch cost is
|batch| x bands plus true collisions.  This is the streaming analogue
of the reference's seen-hash exactly-once filter
(resources/lambdas/stream_processing/main.py:31-77) upgraded from
exact identity to near-duplicate identity.

Replay safety: every output (clean rows, dup log, index delta) lands
under ``batch_id=<n>/`` with per-batch dynamic overwrite, so a
re-delivered micro-batch rewrites its own partition instead of
double-appending — idempotent under Structured Streaming's
at-least-once ``foreachBatch`` contract.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..operators.dedup import _jaccard, _shingle_band_frame

__all__ = ["StreamingDedup"]

_INDEX_SCHEMA = "id long, sh array<long>, bands array<long>"


class StreamingDedup:
    """foreachBatch near-dup filter with a persisted signature index."""

    def __init__(
        self,
        root: str,
        id_col: str = "doc_id",
        text_col: str = "text",
        n: int = 2,
        threshold: float = 0.5,
    ) -> None:
        self.index_path = os.path.join(root, "index")
        self.clean_path = os.path.join(root, "clean")
        self.dup_path = os.path.join(root, "dups")
        self.checkpoint = os.path.join(root, "ckpt")
        self.id_col = id_col
        self.text_col = text_col
        self.n = n
        self.threshold = threshold

    # -- state ---------------------------------------------------------
    def _index(self, spark: SparkSession) -> DataFrame:
        """The signature index; empty only before the first write. Any
        read failure propagates: an unreadable index must fail the
        batch, not pass every row through as clean."""
        schema = _INDEX_SCHEMA + ", batch_id long"
        if not os.path.isdir(self.index_path):
            return spark.createDataFrame([], schema)
        return spark.read.schema(schema).parquet(self.index_path)

    # -- the per-batch transform (pure, unit-testable) -----------------
    def dedup_batch(
        self, batch: DataFrame, index: DataFrame
    ) -> tuple[DataFrame, DataFrame, DataFrame, DataFrame]:
        """Returns (clean_rows, dup_log, new_index_entries, cached).

        dup_log rows: (doc_id, matched_id, jaccard, kind) where kind is
        'intra' (lost to a same-batch survivor) or 'corpus' (matched an
        indexed document).  ``cached`` is the persisted signature frame
        feeding all three outputs — unpersist it after they are
        materialized (the streaming sink does; a batch caller should
        too, or each call leaks one cached frame).
        """
        sigs = _shingle_band_frame(batch, self.id_col, self.text_col, self.n).persist()

        # 1. intra-batch: band-bucket pairs, verify, keep min id per group
        banded = sigs.select("id", F.posexplode("bands").alias("band_id", "band_key"))
        rhs = banded.select(
            F.col("id").alias("id2"), "band_id", "band_key"
        )
        intra_pairs = (
            banded.join(rhs, ["band_id", "band_key"])
            .filter(F.col("id") < F.col("id2"))
            .select("id", "id2")
            .distinct()
            .join(sigs.select("id", "sh"), "id")
            .join(sigs.select(F.col("id").alias("id2"), F.col("sh").alias("sh2")), "id2")
            .withColumn("jaccard", _jaccard("sh", "sh2"))
            .filter(F.col("jaccard") >= self.threshold)
        )
        # losers: anything that pairs with a smaller surviving id; with
        # min-id survivorship a doc survives iff it beats every partner
        intra_losers = intra_pairs.select(
            F.col("id2").alias("loser"),
            F.col("id").alias("matched_id"),
            "jaccard",
        )

        # 2. cross-corpus: batch signatures vs the index
        idx_banded = index.select(
            F.col("id").alias("cid"), F.posexplode("bands").alias("band_id", "band_key")
        )
        corpus_hits = (
            banded.join(idx_banded, ["band_id", "band_key"])
            .select("id", "cid")
            .distinct()
            .join(sigs.select("id", "sh"), "id")
            .join(index.select(F.col("id").alias("cid"), F.col("sh").alias("csh")), "cid")
            .withColumn("jaccard", _jaccard("sh", "csh"))
            .filter(F.col("jaccard") >= self.threshold)
        )

        dup_log = (
            intra_losers.select(
                F.col("loser").alias(self.id_col),
                "matched_id",
                "jaccard",
                F.lit("intra").alias("kind"),
            )
            .unionByName(
                corpus_hits.select(
                    F.col("id").alias(self.id_col),
                    F.col("cid").alias("matched_id"),
                    "jaccard",
                    F.lit("corpus").alias("kind"),
                )
            )
        )
        rejected = dup_log.select(F.col(self.id_col).alias("__rid")).distinct()
        clean = batch.join(
            rejected, batch[self.id_col] == F.col("__rid"), "left_anti"
        )
        new_entries = sigs.join(
            rejected, sigs["id"] == F.col("__rid"), "left_anti"
        )
        return clean, dup_log, new_entries, sigs

    # -- streaming attach ---------------------------------------------
    def attach(self, stream_df: DataFrame, available_now: bool = True) -> StreamingQuery:
        def process(batch: DataFrame, batch_id: int) -> None:
            spark = batch.sparkSession
            # Replay safety requires excluding THIS batch's own prior
            # attempt from the index: a crash after the index partition
            # is written (it is the last of the three writes) but before
            # the checkpoint commits would otherwise make the re-run
            # match every document against its own signatures
            # (jaccard 1.0) and reject the whole batch as 'corpus' dups.
            index = self._index(spark).filter(F.col("batch_id") < F.lit(batch_id))
            clean, dups, entries, cached = self.dedup_batch(batch, index)
            try:
                for df, path in (
                    (clean, self.clean_path),
                    (dups, self.dup_path),
                    (entries, self.index_path),
                ):
                    (
                        df.withColumn("batch_id", F.lit(batch_id))
                        .write.partitionBy("batch_id")
                        .option("partitionOverwriteMode", "dynamic")
                        .mode("overwrite")
                        .parquet(path)
                    )
            finally:
                cached.unpersist()

        writer = stream_df.writeStream.foreachBatch(process).option(
            "checkpointLocation", self.checkpoint
        )
        if available_now:
            writer = writer.trigger(availableNow=True)
        return writer.start()

    # -- read faces ----------------------------------------------------
    def clean(self, spark: SparkSession) -> DataFrame:
        return spark.read.parquet(self.clean_path)

    def dups(self, spark: SparkSession) -> DataFrame:
        # explicit schema: a batch with zero duplicates writes an empty
        # partition, which parquet inference cannot read
        return spark.read.schema(
            f"{self.id_col} long, matched_id long, jaccard double,"
            " kind string, batch_id long"
        ).parquet(self.dup_path)
