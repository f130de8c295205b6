"""Capture strategies — all three the reference *claims* (config.py:47).

The reference implements only trigger-based capture (SQL triggers append
to the audit table, cdc_system.py:143-197). Spark has no triggers; the
equivalents, each emitting the same AUDIT_SCHEMA DataFrame so the
replicator is strategy-agnostic (SURVEY §2.1 DDL3, §7.1 M4):

* **LogCapture** (≅ trigger-based): writers call ``capture_*`` at write
  time; changes append to a parquet change log inside the same job that
  writes the data — the "recorded with the write" guarantee triggers
  give, minus a second mechanism.
* **timestamp_capture**: incremental filter ``changed_col > last_sync``
  — the claimed timestamp strategy.
* **snapshot_diff** (operators/snapshot_diff.py): the claimed
  version/snapshot strategy.
"""

from __future__ import annotations

import os
import time
from datetime import datetime, timezone

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cdc_system_spark.model import AUDIT_SCHEMA, ChangeOp


#: ``cdc_id = base + key``: keys must lie in ``[0, KEY_SPAN)`` so that
#: ids of one capture call never reach the next call's base
KEY_SPAN = 1_000_000_000


def as_changes(
    rows: DataFrame,
    operation: str,
    key: str,
    old_rows: DataFrame | None = None,
    base_cdc_id: int = 0,
) -> DataFrame:
    """Wrap full row images as audit-schema change rows.

    ``cdc_id`` = base + key (keys are unique within one capture call);
    for strict arrival ordering across calls, callers pass a
    monotonically increasing ``base_cdc_id`` (epoch-scaled, see
    LogCapture). A key outside ``[0, KEY_SPAN)`` (or NULL) fails the
    job that evaluates the rows, so a capture of it writes nothing.
    """
    op = ChangeOp(operation).value
    img = F.to_json(F.struct(*[F.col(c) for c in rows.columns]))
    old_img = F.lit(None).cast("string")
    if old_rows is not None:
        old = old_rows.select(
            F.col(key).alias("_ok"),
            F.to_json(F.struct(*[F.col(c) for c in old_rows.columns])).alias("_old_img"),
        )
        rows = rows.join(old, rows[key] == old["_ok"], "left").drop("_ok")
        old_img = F.col("_old_img")
    if op == ChangeOp.DELETE.value:
        old_img, img = img, F.lit(None).cast("string")
    k = F.col(key).cast("long")
    checked = F.when(k.between(0, KEY_SPAN - 1), k).otherwise(
        F.raise_error(
            F.format_string(
                f"cdc key %s of column {key!r} is outside [0, {KEY_SPAN})",
                k.cast("string"),
            )
        )
    )
    return rows.select(
        (F.lit(base_cdc_id) + checked).alias("cdc_id"),
        F.lit(op).alias("operation"),
        k.alias("record_id"),
        old_img.alias("old_data"),
        img.alias("new_data"),
        F.current_timestamp().alias("changed_at"),
        F.lit(False).alias("synced"),
        F.lit(None).cast("timestamp").alias("sync_timestamp"),
    )


class LogCapture:
    """Append-only parquet change log for one tracked table, plus the
    ledger of its committed sync watermarks.

    ≅ ``setup_trigger_based_cdc`` + the three triggers
    (cdc_system.py:105-197): the log lives at ``{root}/{table}_cdc`` —
    same naming as the reference's ``{table}_cdc`` (cdc_system.py:103).
    At 100 TB the log would be partitioned by date(changed_at); appends
    are per-batch files, read via streaming file source (streaming/).

    Each capture call is one plain parquet append; no file of the log
    is ever rewritten, renamed or deleted. Sync progress is not kept in
    the rows: the replicators drain in ``cdc_id`` order, so the synced
    changes are always a prefix of the log, and each replication round
    commits that prefix as one watermark — a ``(wm, sync_time)`` entry
    of the ledger at ``{log}_ledger`` (:meth:`commit_watermark`), written
    after the replica version lands. The ``synced``/``sync_timestamp``
    columns on disk keep their as-captured values (False / NULL);
    ``CDCSystem.read_log`` derives them from the ledger
    (``changelog.mark_synced``), and the pending poll becomes the
    ``cdc_id > wm`` range that the parquet scan pushes down.

    The watermark is only sound while new changes get ids above it, so
    ids are allocated as ``epoch * KEY_SPAN + key``: keys are range
    checked in :func:`as_changes`, and the epoch grows with every call
    and starts above the largest id already in the log (read once per
    instance from the parquet footers), so a restart within the same
    second never allocates an id at or below a committed watermark.
    One writer per log at a time.
    """

    #: zone count of the on-demand (synced, cdc_id) zone state
    NUM_ZONES = 64

    def __init__(self, spark: SparkSession, root: str, table: str, key: str = "id"):
        self.spark = spark
        self.table = table
        self.key = key
        self.path = os.path.join(root, f"{table}_cdc")
        self.ledger_path = self.path + "_ledger"
        #: epoch of the last allocated base; None until bootstrapped
        #: from the log on the first capture
        self._epoch: int | None = None

    def _next_base(self) -> int:
        # strictly increasing per capture call, and above every id in
        # the log (epoch_seconds * 1e9 stays well inside int64)
        if self._epoch is None:
            self._epoch = self._max_cdc_id() // KEY_SPAN
        self._epoch = max(self._epoch + 1, int(time.time()))
        return self._epoch * KEY_SPAN

    def _max_cdc_id(self) -> int:
        """Largest ``cdc_id`` in the log (-1 if it has none), from the
        parquet footer statistics — driver-side, no Spark job."""
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        hi = -1
        if not os.path.isdir(self.path):
            return hi
        for name in os.listdir(self.path):
            if name.startswith(("_", ".")) or not name.endswith(".parquet"):
                continue
            file = os.path.join(self.path, name)
            meta = pq.read_metadata(file)
            col = meta.schema.names.index("cdc_id")
            for i in range(meta.num_row_groups):
                st = meta.row_group(i).column(col).statistics
                if st is None or not st.has_min_max:  # writer kept no stats
                    ids = pq.read_table(file, columns=["cdc_id"]).column(0)
                    hi = max(hi, pc.max(ids).as_py())
                    break
                hi = max(hi, st.max)
        return hi

    def capture_insert(self, rows: DataFrame) -> None:
        self._append(as_changes(rows, "INSERT", self.key, base_cdc_id=self._next_base()))

    def capture_update(self, new_rows: DataFrame, old_rows: DataFrame) -> None:
        self._append(
            as_changes(new_rows, "UPDATE", self.key, old_rows, base_cdc_id=self._next_base())
        )

    def capture_delete(self, rows: DataFrame) -> None:
        self._append(as_changes(rows, "DELETE", self.key, base_cdc_id=self._next_base()))

    def _append(self, changes: DataFrame) -> None:
        changes.write.mode("append").parquet(self.path)

    def read_log(self) -> DataFrame:
        """The log as captured: the on-disk ``synced``/``sync_timestamp``
        are not sync state (``CDCSystem.read_log`` derives those from
        the ledger). A log that does not exist yet reads as empty; an
        unreadable one raises when the frame is evaluated — it never
        reads as an empty, fully-synced log."""
        if not os.path.exists(self.path):
            return self.spark.createDataFrame([], AUDIT_SCHEMA)
        return self.spark.read.schema(AUDIT_SCHEMA).parquet(self.path)

    # -- committed sync watermarks -------------------------------------------

    def ledger(self) -> list[tuple[int, datetime]]:
        """The committed ``(wm, sync_time)`` entries, oldest first;
        ``wm`` strictly increases. Read on the driver, no Spark job."""
        try:
            with open(self.ledger_path) as f:
                lines = f.read().splitlines()
        except FileNotFoundError:
            return []
        out = []
        for line in lines:
            wm, ts = line.split("\t")
            out.append((int(wm), datetime.fromisoformat(ts)))
        return out

    def commit_watermark(self, wm: int) -> None:
        """Mark every change with ``cdc_id <= wm`` synced, as of now.

        The ledger is rewritten to a temporary file, flushed to disk and
        swapped in with ``os.replace``, so a reader sees the old ledger
        or the new one, never a torn one. A watermark at or below the
        committed one changes nothing: the watermark never moves back."""
        entries = self.ledger()
        if entries and wm <= entries[-1][0]:
            return
        entries.append((int(wm), datetime.now(timezone.utc)))
        os.makedirs(os.path.dirname(self.ledger_path), exist_ok=True)
        tmp = self.ledger_path + ".tmp"
        with open(tmp, "w") as f:
            f.writelines(f"{w}\t{t.isoformat()}\n" for w, t in entries)
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, self.ledger_path)

    def refresh_zone_state(self) -> tuple[DataFrame, int, int, int] | None:
        """Build the ``(synced, cdc_id)`` zone state of the whole log on
        demand: ``(state_df, geo_lo, geo_hi, num_zones)`` for
        ``maintenance.read_pending_pruned``, or ``None`` for an empty
        log. Nothing is stored and the sync path never calls it — the
        poll prunes on the watermark — so it is for analytics that want
        per-zone sync counts; it costs a bounds scan of the log, and
        the state is lazy."""
        from cdc_system_spark.operators.changelog import mark_synced
        from cdc_system_spark.operators.maintenance import log_zone_state

        log = mark_synced(self.read_log(), self.ledger())
        b = log.agg(F.min("cdc_id").alias("lo"), F.max("cdc_id").alias("hi")).first()
        if b["lo"] is None:
            return None
        geo_lo = int(b["lo"])
        geo_hi = max(int(b["hi"]), geo_lo + self.NUM_ZONES - 1)
        state = log_zone_state(log, geo_lo, geo_hi, self.NUM_ZONES)
        return state, geo_lo, geo_hi, self.NUM_ZONES


def timestamp_capture(
    table_df: DataFrame,
    last_sync_ts,
    key: str = "id",
    ts_col: str = "updated_at",
) -> DataFrame:
    """Timestamp-based incremental capture (claimed at config.py:47).

    Rows with ``ts_col > last_sync_ts`` become UPSERT-style changes
    (op=INSERT; timestamp capture cannot distinguish insert from update,
    nor see deletes — the documented limitation of the strategy). The
    filter pushes down to the parquet scan; with date partitioning it
    prunes partitions.
    """
    fresh = table_df.filter(F.col(ts_col) > F.lit(last_sync_ts))
    return as_changes(fresh, "INSERT", key)
