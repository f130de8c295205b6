"""Capture strategies — all three the reference *claims* (config.py:47).

The reference implements only trigger-based capture (SQL triggers append
to the audit table, cdc_system.py:143-197). Spark has no triggers; the
equivalents each emit change rows that the replicator reads the same
way, so it is strategy-agnostic (SURVEY §2.1 DDL3, §7.1 M4). LogCapture
and timestamp_capture give the row images typed (:func:`as_changes`),
snapshot_diff gives them as JSON text in the audit schema, and
``changelog.log_rows`` reads either:

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

import json
import logging
import os
import time
from collections.abc import Collection
from dataclasses import dataclass
from datetime import datetime, timedelta, timezone
from typing import NamedTuple

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from cdc_system_spark.model import ChangeOp, append_line, cdc_writer, complete_lines, empty_frame
from cdc_system_spark.operators.changelog import log_rows, stored_schema


#: ``cdc_id = base + key``: keys must lie in ``[0, KEY_SPAN)`` so that
#: ids of one capture call never reach the next call's base
KEY_SPAN = 1_000_000_000

#: name of the capture manifest in the log directory; Spark's batch and
#: streaming file listings (and pyarrow's) skip names that start with ``_``
MANIFEST = "_manifest.jsonl"

_EPOCH = datetime(1970, 1, 1, tzinfo=timezone.utc)


def epoch_micros(t: datetime) -> int:
    """UTC epoch microseconds of the aware instant ``t``, as the manifest
    stores instants."""
    return (t - _EPOCH) // timedelta(microseconds=1)


_log = logging.getLogger(__name__)


class CaptureEntry(NamedTuple):
    """One committed capture call: a line of the capture manifest."""

    op: str
    rows: int
    #: smallest and largest ``cdc_id`` (None when ``rows`` is 0)
    lo: int | None
    hi: int | None
    #: ``changed_at`` of every row of the call, UTC epoch microseconds
    ts: int | None
    #: ``{name: size}`` of the data files the call added
    files: dict[str, int]


@dataclass
class LogFacts:
    """The log's capture facts, split by a sync watermark ``wm``
    (:meth:`LogCapture.facts`)."""

    #: entries wholly synced (``hi <= wm``)
    synced: list[CaptureEntry]
    #: entries wholly pending (``lo > wm``)
    pending: list[CaptureEntry]
    #: data files whose rows must be read to be counted: those of the
    #: entries that straddle ``wm``, and listed files that no entry names
    unsettled: set[str]


def as_changes(
    rows: DataFrame,
    operation: str,
    key: str,
    old_rows: DataFrame | None = None,
    base_cdc_id: int = 0,
    changed_at: datetime | None = None,
    row_schema: T.StructType | None = None,
) -> DataFrame:
    """Wrap full row images as change rows in the log's stored layout.

    The images are typed struct columns in ``row_schema`` (default: the
    schema of ``rows``): each field is the row's column of that name,
    cast to the declared type, or NULL if the row has no such column. A
    change row holds only the images its operation has: ``new`` for an
    INSERT, ``old`` for a DELETE, both for an UPDATE, whose ``old`` is
    the row of ``old_rows`` with the same key (NULL if there is none).
    ``operation``, ``record_id``, ``changed_at`` and the as-captured
    ``synced`` / ``sync_timestamp`` are as in the audit schema.

    ``cdc_id`` = base + key (keys are unique within one capture call);
    for strict arrival ordering across calls, callers pass a
    monotonically increasing ``base_cdc_id`` (epoch-scaled, see
    LogCapture). A key outside ``[0, KEY_SPAN)`` (or NULL) fails the
    job that evaluates the rows, so a capture of it writes nothing.
    Every row gets the instant ``changed_at`` (default: the query's
    ``current_timestamp()``).
    """
    op = ChangeOp(operation).value
    schema = row_schema or rows.schema

    def image(df: DataFrame) -> Column:
        def field(f: T.StructField) -> Column:
            value = F.col(f.name) if f.name in df.columns else F.lit(None)
            return value.cast(f.dataType).alias(f.name)

        return F.struct(*map(field, schema.fields))

    images = {"old": None, "new": image(rows)}
    if old_rows is not None:
        old = old_rows.select(F.col(key).alias("_ok"), image(old_rows).alias("_old"))
        rows = rows.join(old, rows[key] == old["_ok"], "left")
        images["old"] = F.col("_old")
    if op == ChangeOp.DELETE.value:
        images = {"old": images["new"], "new": None}
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
        *[img.alias(name) for name, img in images.items() if img is not None],
        (F.current_timestamp() if changed_at is None else F.lit(changed_at)).alias("changed_at"),
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
    is ever rewritten, renamed or deleted. The log keeps full row images
    for ever and every poll, audit and drain scans them again, so they
    are stored typed: ``old`` / ``new`` are parquet struct columns in the
    table's registered schema (``row_schema``, from ``setup_cdc``; the
    input's own schema if none is given), each input column cast to its
    declared type (:func:`as_changes`). A file holds only the images its
    operation has: an INSERT file has no ``old`` column, a DELETE file
    no ``new`` one. Each field is encoded by its type, so a numeric
    field costs a few bytes where its JSON text cost tens, and capture
    pays no ``to_json``. Readers read every file through
    ``changelog.log_rows``, which gives the typed images and derives the
    reference's JSON ``old_data`` / ``new_data`` on demand; files of
    earlier versions, which stored the images as JSON text, read in the
    same scan. The files are written in the CDC parquet format
    (``model.CDC_PARQUET_OPTIONS``, zstd with v2 pages, so the sorted
    ``cdc_id`` and ``record_id`` are delta-encoded). The format is
    recorded per file, so a log that also holds files of Spark's default
    format (as earlier versions wrote) reads as one. Sync progress is
    not kept in the rows: the replicators drain in ``cdc_id`` order, so
    the synced changes are always a prefix of the log, and each
    replication round commits that prefix as one watermark — a
    ``(wm, sync_time)`` line appended to the ledger at ``{log}_ledger``
    (:meth:`commit_watermark`) after the replica version lands; no
    earlier entry is rewritten. The ledger has one position per log, not
    one per consumer: a replicator polls above whatever watermark any
    replicator of the log committed. The ``synced``/``sync_timestamp``
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

    Each capture call also records what it wrote in the capture
    manifest ``{log}/_manifest.jsonl``, one JSON line per call::

        {"op": "UPDATE", "rows": 500, "lo": <min cdc_id>, "hi": <max cdc_id>,
         "ts": <changed_at>, "files": {"part-….parquet": <bytes>, …}}

    ``ts`` is UTC epoch microseconds: the call stamps all its rows with
    one driver-side instant. The files are the data files the write
    added to the directory listing; the row count and the ``cdc_id``
    bounds come from their parquet footers. None of this starts a Spark
    job. The manifest format is private to this class: readers get
    :class:`CaptureEntry` values (:meth:`manifest`) or the entries split
    by a watermark (:meth:`facts`).

    Crash and error semantics. Both the manifest and the ledger commit
    through ``model.append_line``, the one protocol of every metadata
    log: a line counts once its newline is on disk. The manifest line is
    written after the data files. A Spark write that raises adds no
    rows and commits no line. Once the write returns, its rows are in
    the log, so a failure to record them (a footer read, the manifest
    commit) is logged, not raised: a caller that retried the call would
    capture the same changes twice. Such a failure, or a crash between
    the data write and the line or in the middle of the line, leaves
    files that no line names: readers ignore a trailing fragment with
    no newline, the next commit cuts it off before it appends, and
    :meth:`facts` hands those files to the monitor to read.
    The manifest adds facts about files; it does not decide which
    files the log holds. The directory listing does, so the poll, the
    replicators, the streaming source and the monitor all read the
    same rows.

    One writer per log at a time: the epoch and the manifest's
    before/after listing both assume it.
    """

    #: zone count of the on-demand (synced, cdc_id) zone state
    NUM_ZONES = 64

    def __init__(
        self,
        spark: SparkSession,
        root: str,
        table: str,
        key: str = "id",
        row_schema: T.StructType | None = None,
    ):
        self.spark = spark
        self.table = table
        self.key = key
        #: the tracked table's schema: the type of the stored images, and
        #: of the images readers get (``changelog.log_rows``; readers get
        #: none while it is None)
        self.row_schema = row_schema
        self.path = os.path.join(root, f"{table}_cdc")
        #: epoch of the last allocated base; None until bootstrapped
        #: from the log on the first capture
        self._epoch: int | None = None

    @classmethod
    def at(cls, spark: SparkSession, path: str, key: str = "id") -> LogCapture:
        """The capture of the change log at ``path``, for readers that
        know the log by its path (the streaming replicator)."""
        root, name = os.path.split(os.path.normpath(path))
        cap = cls(spark, root, name.removesuffix("_cdc"), key)
        cap.path = path
        return cap

    @property
    def ledger_path(self) -> str:
        return self.path + "_ledger"

    @property
    def manifest_path(self) -> str:
        return os.path.join(self.path, MANIFEST)

    def _next_base(self) -> int:
        # strictly increasing per capture call, and above every id in
        # the log (epoch_seconds * 1e9 stays well inside int64)
        if self._epoch is None:
            self._epoch = self._max_cdc_id() // KEY_SPAN
        self._epoch = max(self._epoch + 1, int(time.time()))
        return self._epoch * KEY_SPAN

    def _max_cdc_id(self) -> int:
        """Largest ``cdc_id`` in the log (-1 if it has none), from the
        parquet footers — driver-side, no Spark job."""
        his = (_footer_facts(os.path.join(self.path, n))[2] for n in self.data_files())
        return max((hi for hi in his if hi is not None), default=-1)

    def capture_insert(self, rows: DataFrame) -> None:
        self._append("INSERT", rows)

    def capture_update(self, new_rows: DataFrame, old_rows: DataFrame) -> None:
        self._append("UPDATE", new_rows, old_rows)

    def capture_delete(self, rows: DataFrame) -> None:
        self._append("DELETE", rows)

    def _append(self, op: str, rows: DataFrame, old_rows: DataFrame | None = None) -> None:
        # the call's instant is stamped from the driver, as
        # current_timestamp() would be, so that it is known here
        now = datetime.now(timezone.utc)
        changes = as_changes(
            rows,
            op,
            self.key,
            old_rows,
            base_cdc_id=self._next_base(),
            changed_at=now,
            row_schema=self.row_schema,
        )
        before = self.data_files()
        cdc_writer(changes).mode("append").parquet(self.path)
        # the listing holds the rows from here on: they are captured
        try:
            self._commit_entry(self._entry(op, now, before))
        except Exception:
            _log.warning(
                "change log %s: %s capture landed but its manifest line was not"
                " committed; the monitor reads its files instead",
                self.path,
                op,
                exc_info=True,
            )

    def _entry(self, op: str, now: datetime, before: Collection[str]) -> CaptureEntry:
        """The facts of the files the listing gained since ``before``."""
        files = {n: size for n, size in self.data_files().items() if n not in before}
        facts = [_footer_facts(os.path.join(self.path, name)) for name in files]
        n = sum(count for count, _, _ in facts)
        ids = [i for _, lo, hi in facts if lo is not None for i in (lo, hi)]
        ts = epoch_micros(now) if n else None
        return CaptureEntry(op, n, min(ids, default=None), max(ids, default=None), ts, files)

    def data_files(self) -> dict[str, int]:
        """``{name: size}`` of the log's data files: the names Spark's
        file listing reads (it skips those that start with ``_`` or
        ``.``). One ``os.scandir``; empty before the first capture."""
        try:
            with os.scandir(self.path) as entries:
                return {
                    e.name: e.stat().st_size
                    for e in entries
                    if not e.name.startswith(("_", ".")) and e.is_file()
                }
        except FileNotFoundError:
            return {}

    # -- capture manifest ----------------------------------------------------

    def manifest(self) -> list[CaptureEntry]:
        """The committed capture facts, oldest first (see the class
        docstring). A trailing fragment with no newline is a commit torn
        by a crash, and is not part of the manifest."""
        return [CaptureEntry(**json.loads(line)) for line in complete_lines(self.manifest_path)]

    def facts(self, wm: int) -> LogFacts:
        """The manifest's entries split by the sync watermark ``wm``,
        checked against one listing of the log. The replicators drain in
        ``cdc_id`` order, so an entry with ``hi <= wm`` is wholly synced
        and one with ``lo > wm`` wholly pending. Raises if a file that an
        entry names is missing or differs in size from the recorded one:
        a corrupt log never reads as healthy."""
        # the manifest is read before the listing, so every file a
        # committed entry names is already listed
        entries = self.manifest()
        listed = self.data_files()
        out = LogFacts([], [], set(listed))
        for e in entries:
            for name, size in e.files.items():
                got = listed.get(name)
                if got != size:
                    found = "missing" if got is None else f"{got} bytes"
                    raise RuntimeError(
                        f"change log {self.path}: file {name} is {found},"
                        f" the manifest recorded {size} bytes"
                    )
            out.unsettled.difference_update(e.files)
            if not e.rows:
                continue
            if e.hi <= wm:
                out.synced.append(e)
            elif e.lo > wm:
                out.pending.append(e)
            else:
                out.unsettled.update(e.files)
        return out

    def _commit_entry(self, entry: CaptureEntry) -> None:
        append_line(self.manifest_path, json.dumps(entry._asdict(), separators=(",", ":")))

    def read_files(self, names: Collection[str]) -> DataFrame:
        """The rows of the data files ``names`` (a non-empty subset of
        :meth:`data_files`), as captured like :meth:`read_log`."""
        return self._read(*[os.path.join(self.path, n) for n in names])

    def read_log(self) -> DataFrame:
        """The log as captured, through ``changelog.log_rows`` (the
        audit columns and the typed images in :attr:`row_schema`): the
        on-disk ``synced``/``sync_timestamp`` are not sync state
        (``CDCSystem.read_log`` derives those from the ledger). A log
        that does not exist yet reads as empty, with no partition to
        scan; an unreadable one raises when the frame is evaluated — it
        never reads as an empty, fully-synced log."""
        return self._read(self.path) if os.path.exists(self.path) else self._read()

    def _read(self, *paths: str) -> DataFrame:
        """The change rows of the files or directories ``paths``; with
        none, an empty frame."""
        schema = stored_schema(self.row_schema)
        if paths:
            stored = self.spark.read.schema(schema).parquet(*paths)
        else:
            stored = empty_frame(self.spark, schema)
        return log_rows(stored, self.row_schema)

    # -- committed sync watermarks -------------------------------------------

    def ledger(self) -> list[tuple[int, datetime]]:
        """The committed ``(wm, sync_time)`` entries, oldest first;
        ``wm`` strictly increases. Read on the driver, no Spark job."""
        out = []
        for line in complete_lines(self.ledger_path):
            wm, ts = line.split("\t")
            out.append((int(wm), datetime.fromisoformat(ts)))
        return out

    def commit_watermark(self, wm: int) -> None:
        """Mark every change with ``cdc_id <= wm`` synced, as of now.

        The entry is one line appended to the ledger through
        ``model.append_line``: a torn last line, left by a crash in the
        middle of an earlier commit, is cut off first, and the line is
        fsynced. Readers ignore a torn line, so they see the ledger with
        or without the new entry, never a corrupt one. A watermark at or
        below the committed one changes nothing: the watermark never
        moves back."""
        entries = self.ledger()
        if entries and wm <= entries[-1][0]:
            return
        os.makedirs(os.path.dirname(self.ledger_path), exist_ok=True)
        append_line(self.ledger_path, f"{int(wm)}\t{datetime.now(timezone.utc).isoformat()}")

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


def _footer_facts(file: str) -> tuple[int, int | None, int | None]:
    """``(rows, min cdc_id, max cdc_id)`` of one log file, from its
    parquet footer; the ids are read only if the writer kept no
    statistics for them."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    meta = pq.read_metadata(file)
    col = meta.schema.names.index("cdc_id")
    stats = [meta.row_group(i).column(col).statistics for i in range(meta.num_row_groups)]
    if any(st is None or not st.has_min_max for st in stats):
        ids = pq.read_table(file, columns=["cdc_id"]).column(0)
        return meta.num_rows, pc.min(ids).as_py(), pc.max(ids).as_py()
    if not stats:
        return 0, None, None
    return meta.num_rows, min(st.min for st in stats), max(st.max for st in stats)


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
