"""Streaming maintenance of the ANN index from a CDC change stream.

The r11 verdict's last gap: every maintained-index path (LSH signature
table, KMV stats, zone state) had a streaming twin except the ANN
index's tiers — a re-embedding pipeline (model refresh: UPDATE rows
carrying new vectors) had to batch-poll :func:`ann_index_ingest` by
hand. This module closes it with the same shape the replicator and
corpus ingestor use: the append-only parquet change log
(operators/capture.py, the reference's ``{table}_cdc`` contract —
cdc_system.py:103) consumed through the file source with checkpointed
offsets, each micro-batch's typed row images ingested through
:func:`~cdc_system_spark.operators.ann_index.ann_index_ingest` — which
auto-encodes EVERY attached tier (PQ codes, residual codes, Matryoshka
``pvec``) in its one batch map pass and merges the KMV stats state, so
:func:`~cdc_system_spark.operators.ann_index.ann_index_staleness`
stays pollable between batches with zero corpus scans.

Idempotence is two-layer, matching the batch twin: the checkpoint
replays no file twice, and a replayed BATCH (crash between ingest and
checkpoint commit) is a no-op through ingest's (id, vector) anti-join
— the same contract the corpus ingestor's batch markers provide.

Versioning: an UPDATE's new vector ingests as a fresh (id, vector)
pair; the old assignment stays behind as a stale version (DELETEs
likewise leave their rows). Probes filter or collapse versions
(``ann_index_probe_tables`` / the per-id collapse in the prefix
cascade); ``churn_est`` from the staleness poll says when to schedule
:func:`~cdc_system_spark.operators.ann_index.ann_index_compact` — the
lsh_index version contract, unchanged by the transport.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql import types as T

from cdc_system_spark.streaming.replicator import quarantine_dead_letters
from cdc_system_spark.streaming.source import read_change_stream


class StreamingAnnIngestor:
    """Maintain a (possibly multi-tier) ANN index from the change log
    of an embeddings-like table (``id_col`` + ``vec_col``)."""

    def __init__(
        self,
        spark: SparkSession,
        log_path: str,
        index_path: str,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
        vec_schema: T.StructType | None = None,
        checkpoint_path: str | None = None,
        dead_letter_path: str | None = None,
        max_files_per_trigger: int | None = None,
    ):
        self.spark = spark
        self.log_path = log_path
        self.index_path = index_path
        self.id_col = id_col
        self.vec_col = vec_col
        #: the row image read from the log; float vectors by default — the testdata
        #: embeddings schema and what ann_index_build stores
        self.vec_schema = vec_schema or T.StructType(
            [
                T.StructField(id_col, T.LongType(), False),
                T.StructField(vec_col, T.ArrayType(T.FloatType()), True),
            ]
        )
        self.checkpoint_path = checkpoint_path or log_path + "_ann_checkpoint"
        self.dead_letter_path = dead_letter_path
        self.max_files_per_trigger = max_files_per_trigger
        self.batches_applied = 0
        self.rows_admitted = 0

    def _apply_batch(self, batch: DataFrame, batch_id: int) -> None:
        from cdc_system_spark.operators.ann_index import ann_index_ingest

        good = quarantine_dead_letters(batch, self.dead_letter_path, key=self.id_col)
        fresh = (
            good.filter(F.col("operation") != "DELETE")
            .select(
                F.col(f"new.{self.id_col}").alias(self.id_col),
                F.col(f"new.{self.vec_col}").alias(self.vec_col),
            )
            .filter(F.col(self.vec_col).isNotNull())
        )
        if not fresh.isEmpty():
            self.rows_admitted += ann_index_ingest(
                fresh, self.index_path, self.id_col, self.vec_col
            )
        self.batches_applied += 1

    def _writer(self):
        stream = read_change_stream(
            self.spark, self.log_path, self.max_files_per_trigger, self.vec_schema
        )
        return stream.writeStream.foreachBatch(self._apply_batch).option(
            "checkpointLocation", self.checkpoint_path
        )

    def run_available_now(self) -> None:
        """Catch-up drain: ingest all pending log files, then return."""
        q = self._writer().trigger(availableNow=True).start()
        q.awaitTermination()

    def start_continuous(self, interval: str = "5 seconds"):
        """Continuous micro-batch maintenance. Returns the
        StreamingQuery."""
        return self._writer().trigger(processingTime=interval).start()

    def staleness(self, current: DataFrame) -> DataFrame:
        """The compaction-scheduling poll between batches: one row
        ``(n_ever_est, n_live, churn_est)`` — the maintained KMV ever-
        estimate (merged by every streamed ingest) against the exact
        live version count. No corpus scan, no index scan beyond the
        ≤64-row state."""
        from cdc_system_spark.operators.ann_index import ann_index_staleness

        return ann_index_staleness(
            self.spark, self.index_path, current, self.id_col, self.vec_col
        )

    def progress(self) -> dict:
        return {
            "batches_applied": self.batches_applied,
            "rows_admitted": self.rows_admitted,
            "checkpoint": self.checkpoint_path,
        }
