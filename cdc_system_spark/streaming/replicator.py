"""Streaming replication: change stream → foreachBatch → merged target.

≅ ``run_continuous_sync_demo`` (example_usage.py:168-233) re-expressed
as Structured Streaming (SURVEY §2.8 S4-S8):

* micro-batch trigger: ``processingTime`` (the reference's 5 s poll
  loop) or ``availableNow`` (the reference's final catch-up drain,
  example_usage.py:221-223)
* exactly-once: checkpoint offsets + idempotent net-effect merge —
  replaces the reference's mark-synced-before-target-commit seam, which
  could re-deliver or lose on crash (cdc_system.py:313-315, SURVEY §7.3#3)
* sync state: after the target commit, each micro-batch commits its
  largest ``cdc_id`` to the log's watermark ledger, as a
  ``CDCReplicator`` round does, so ``CDCMonitor`` counts streamed
  changes as synced
* per-row error-skip (cdc_system.py:308-310) → dead-letter quarantine:
  rows whose new image is unusable (a JSON image, as earlier versions
  stored, that fails schema decode) are appended to a parquet sink
  instead of silently dropped (S7)
"""

from __future__ import annotations

import time
from collections.abc import Callable
from datetime import datetime, timezone

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from cdc_system_spark.api import SnapshotTable, _replicate_round
from cdc_system_spark.config import CDCConfig
from cdc_system_spark.model import cdc_writer
from cdc_system_spark.operators.capture import LogCapture
from cdc_system_spark.streaming.source import read_change_stream


def quarantine_dead_letters(
    batch: DataFrame,
    dead_letter_path: str | None = None,
    key: str = "id",
) -> DataFrame:
    """Quarantine the non-DELETE changes of ``batch`` (change rows with
    the typed images, as ``read_change_stream`` reads them) whose new
    image has no key; return the others.

    A typed image always has its key (capture rejects a NULL key). A
    JSON image of an earlier version that fails ``from_json`` is the
    set-oriented analogue of the reference's per-row apply exception
    (cdc_system.py:308-310). PERMISSIVE-mode ``from_json`` yields an
    all-null struct (not NULL) for malformed input, so the practical
    validity test is a null decoded key — which is also exactly the
    rows the merge could not apply. A row whose test is NULL (a NULL
    ``operation``) counts as good. Quarantined rows are written with
    the audit columns, their JSON text as stored.
    """
    is_bad = F.coalesce(
        (F.col("operation") != "DELETE")
        & (F.col("new").isNull() | F.col(f"new.{key}").isNull()),
        F.lit(False),
    )
    if dead_letter_path is not None:
        bad = batch.filter(is_bad).drop("old", "new")
        cdc_writer(bad).mode("append").parquet(dead_letter_path)
    return batch.filter(~is_bad)


class StreamingReplicator:
    """Continuous (or catch-up) replication of a parquet change log.

    Each micro-batch ends in a watermark commit to the log's one ledger,
    the position that ``CDCReplicator`` and ``SCD2Replicator`` poll
    above (see ``api._replicate_round``): a batch replicator run on the
    same log after this one skips what this one applied, whatever its
    sink.
    """

    def __init__(
        self,
        spark: SparkSession,
        log_path: str,
        target: SnapshotTable,
        row_schema: T.StructType,
        key: str = "id",
        checkpoint_path: str | None = None,
        dead_letter_path: str | None = None,
        config: CDCConfig | None = None,
        on_report: Callable[[dict], None] | None = None,
        clock: Callable[[], float] = time.monotonic,
    ):
        self.spark = spark
        self.log_path = log_path
        #: the log's sync-watermark ledger (``{log_path}_ledger``)
        self.log = LogCapture.at(spark, log_path)
        self.target = target
        self.row_schema = row_schema
        self.key = key
        self.checkpoint_path = checkpoint_path or log_path + "_checkpoint"
        self.dead_letter_path = dead_letter_path
        self.config = config or CDCConfig()
        self.on_report = on_report
        self._clock = clock
        self._last_report: float | None = None
        self.batches_applied = 0

    def _apply_batch(self, batch: DataFrame, batch_id: int) -> None:
        """Commit the micro-batch to the target as one change batch
        (``SnapshotTable.merge_changes``), then its largest ``cdc_id`` as
        the log's sync watermark, as a ``CDCReplicator`` round does.
        Dead-lettered rows count as consumed."""

        def write(polled: DataFrame) -> None:
            good = quarantine_dead_letters(polled, self.dead_letter_path, key=self.key)
            if not good.isEmpty():
                self.target.merge_changes(good, self.key)

        _replicate_round(self.log, batch, write)
        self.batches_applied += 1
        self._maybe_report(batch_id)

    def _maybe_report(self, batch_id: int) -> None:
        """Emit a progress report at most once per
        ``config.metrics_interval_seconds`` (reference: config.py:39-40 —
        the declared metrics cadence, here driving the streaming
        monitor's report emission). The first applied batch always
        reports; later batches report only after the interval elapses,
        so a hot stream doesn't flood the sink and a quiet one still
        reports on its next batch. The report itself is metadata-cheap
        (no log rescan in the batch hot path — full health audits stay
        with CDCMonitor, run on demand)."""
        if self.on_report is None:
            return
        now = self._clock()
        interval = self.config.metrics_interval_seconds
        if self._last_report is not None and now - self._last_report < interval:
            return
        self._last_report = now
        self.on_report(
            {
                "timestamp": datetime.now(timezone.utc).isoformat(),
                "last_batch_id": batch_id,
                **self.progress(),
            }
        )

    def _writer(self):
        stream = read_change_stream(self.spark, self.log_path, row_schema=self.row_schema)
        return stream.writeStream.foreachBatch(self._apply_batch).option(
            "checkpointLocation", self.checkpoint_path
        )

    def run_available_now(self) -> None:
        """Catch-up drain (≅ final drain, example_usage.py:221-223);
        returns after all pending log files are applied."""
        q = self._writer().trigger(availableNow=True).start()
        q.awaitTermination()

    def start_continuous(self, interval: str | None = None):
        """Continuous micro-batch sync (≅ the 5 s poll loop,
        example_usage.py:191-218), every ``interval`` (default
        ``config.sync_interval_seconds``, the reference's
        ``CDC_SYNC_INTERVAL``). Returns the StreamingQuery."""
        interval = interval or f"{self.config.sync_interval_seconds} seconds"
        return self._writer().trigger(processingTime=interval).start()

    def progress(self) -> dict:
        """Streaming-side health metrics (complements monitor.py)."""
        return {
            "batches_applied": self.batches_applied,
            "checkpoint": self.checkpoint_path,
            "metrics_interval_seconds": self.config.metrics_interval_seconds,
        }
