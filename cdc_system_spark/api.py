"""Public facade mirroring the reference's class surface.

``CDCSystem`` / ``CDCReplicator`` / ``CDCMonitor`` keep the reference's
names and method signatures (cdc_system.py:92-393) so its users can
switch engines without relearning the API — but every method body is a
declarative DataFrame program, and state lives in parquet snapshots +
the append-only change log rather than SQLite tables.
"""

from __future__ import annotations

import os
import shutil
import uuid
from collections.abc import Callable, Iterable
from typing import Any, NamedTuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from cdc_system_spark import monitor as _monitor
from cdc_system_spark.config import CDCConfig
from cdc_system_spark.model import (
    AUDIT_SCHEMA,
    SchemaRegistry,
    append_line,
    cdc_writer,
    complete_lines,
    empty_frame,
)
from cdc_system_spark.operators.capture import LogCapture
from cdc_system_spark.operators.changelog import mark_synced, pending_changes, synced_view
from cdc_system_spark.operators.merge import apply_changes, fold_changes


#: the columns of a delta version: the change rows of one merged batch
_DELTA_COLUMNS = ("cdc_id", "operation", "record_id", "new")


class _Chain(NamedTuple):
    """A committed version of a :class:`SnapshotTable`: the full snapshot
    ``base`` and the deltas committed on it since, oldest first, which
    merge on the replica column ``key``."""

    base: str
    key: str | None = None
    deltas: tuple[str, ...] = ()

    @property
    def name(self) -> str:
        return self.deltas[-1] if self.deltas else self.base

    def line(self) -> str:
        return "\t".join((self.base, self.key, *self.deltas)) if self.deltas else self.base

    @classmethod
    def parse(cls, line: str) -> _Chain:
        base, *rest = line.rstrip("\n").split("\t")
        return cls(base, rest[0], tuple(rest[1:])) if rest else cls(base)


class SnapshotTable:
    """A mutable table as versioned parquet directories (no Delta in env).

    Layout. Every commit writes one new directory and then flips
    ``{path}/_CURRENT``. :meth:`write` writes a full snapshot
    ``{path}/v{id}``. :meth:`merge_changes` writes a delta ``{path}/d{id}``
    that holds only the batch's change rows ``(cdc_id, operation,
    record_id, new)``. A version is a chain: a snapshot, the key the
    deltas merge on, and the deltas committed on that snapshot since,
    oldest first. The first line of ``_CURRENT`` is the live chain
    (``base``, or ``base<TAB>key<TAB>d…<TAB>d…``); the commit's metadata
    follows it (:meth:`meta`). ``{path}/_VERSIONS`` gets every commit's
    chain, in commit order, which is what time travel reads. This is
    Delta/Iceberg's merge-on-read with a version pointer, minimal
    edition.

    Storage format. Snapshots and deltas are written in the CDC parquet
    format (``model.CDC_PARQUET_OPTIONS``: zstd, v2 pages), which stores
    a replica in fewer bytes than Spark's default snappy and v1 pages; a
    chain may mix files of either format, and reads need no setting.

    Compaction, one rule and no setting: before a :meth:`merge_changes`
    commit, if the deltas on the base already hold at least as many
    change rows as the base holds rows, the commit writes a full
    snapshot instead — one fold of the base with those deltas and the
    batch, a single net-effect aggregation and join — and starts a new
    chain. Both counts come from the parquet footers, so the rule starts
    no Spark job and does not depend on the codec, the page version or
    the footer size: the same commits compact in any storage format.
    Each commit still makes exactly one version. So a commit writes the
    batch, plus one replica rewrite per base's worth of changes, and a
    read folds no more than one base's worth of changes and a batch.

    Reads. :meth:`read` and :meth:`read_version` return
    ``fold_changes(base, union(deltas))`` (operators/merge.py): the
    net-effect merge the replicators apply, over the deltas' changes in
    ``cdc_id`` order. Both are lazy plans in the declared schema and
    start no Spark job; a snapshot or a delta written before
    :meth:`evolve` reads with nulls in the new columns and fields.

    Crash semantics. A commit is the flip of ``_CURRENT`` (temporary
    file, then ``os.replace``), so readers see the old chain or the new
    one. A crash before the flip leaves a directory that no chain names;
    it is never read, and a re-run commits a new one (nothing deletes
    superseded directories yet). ``_VERSIONS`` gets the chain's line
    after the flip, through ``model.append_line``, the commit protocol
    of every metadata log: a crash in the middle of that append leaves a
    torn last line, which time travel ignores and the next commit cuts
    off; a crash between the flip and the append leaves that version out
    of time travel, and the live table reads as committed. A batch
    committed twice — a crash after the flip, before the caller records
    its progress — is harmless: the fold replays each of its changes
    twice in a row, which has the effect of once.

    One writer at a time.
    """

    def __init__(self, spark: SparkSession, path: str, schema: T.StructType):
        self.spark = spark
        self.path = path
        self.schema = schema
        os.makedirs(path, exist_ok=True)

    def _current_file(self) -> str:
        return os.path.join(self.path, "_CURRENT")

    def exists(self) -> bool:
        return os.path.exists(self._current_file())

    def _chain(self) -> _Chain:
        with open(self._current_file()) as f:
            return _Chain.parse(f.readline())

    def read(self) -> DataFrame:
        """The live version, in the declared schema (before the first
        write, an empty frame with no partition to scan)."""
        if not self.exists():
            return empty_frame(self.spark, self.schema)
        return self._fold(self._chain())

    def _fold(self, chain: _Chain) -> DataFrame:
        base, deltas = self._parts(chain)
        return base if deltas is None else fold_changes(base, deltas, key=chain.key)

    def _parts(self, chain: _Chain) -> tuple[DataFrame, DataFrame | None]:
        """The base snapshot of ``chain`` and the union of its deltas
        (None when it has none), as lazy scans in the declared schema."""
        # Reading with the declared schema needs no schema-inference job,
        # and the parquet reader returns typed nulls for declared columns
        # and struct fields a file lacks: versions written before an
        # additive evolution read with nulls in the new columns
        # (Delta/Iceberg read-time schema projection, minimal edition).
        # Evolution is additive (SchemaRegistry.evolve rejects drops and
        # type changes), so each stored column matches its declaration.
        base = self.spark.read.schema(self.schema).parquet(self._dir(chain.base))
        if not chain.deltas:
            return base, None
        delta_schema = T.StructType(
            [AUDIT_SCHEMA[c] for c in _DELTA_COLUMNS[:-1]] + [T.StructField("new", self.schema)]
        )
        return base, self.spark.read.schema(delta_schema).parquet(*map(self._dir, chain.deltas))

    def _dir(self, version: str) -> str:
        return os.path.join(self.path, version)

    def _rows(self, versions: Iterable[str]) -> int:
        """Rows of the data files of ``versions``, from their parquet
        footers: driver-side, no Spark job."""
        import pyarrow.parquet as pq

        total = 0
        for v in versions:
            with os.scandir(self._dir(v)) as entries:
                total += sum(
                    pq.read_metadata(e.path).num_rows
                    for e in entries
                    if e.is_file() and not e.name.startswith(("_", "."))
                )
        return total

    def evolve(self, new_schema: T.StructType) -> None:
        """Adopt an additively-evolved schema; existing versions are
        untouched and read with nulls in the new columns (see :meth:`read`)."""
        self.schema = new_schema

    def meta(self) -> dict[str, str]:
        """Key=value metadata committed atomically with the last flip
        (empty for tables written without metadata). This is the seam a
        transactional sink needs: Delta's txnAppId/txnVersion pattern,
        minimal edition — see StreamingCorpusIngestor."""
        if not self.exists():
            return {}
        with open(self._current_file()) as f:
            lines = f.read().splitlines()
        return dict(line.split("=", 1) for line in lines[1:] if "=" in line)

    def write(self, df: DataFrame, meta: dict[str, str] | None = None) -> None:
        """Commit ``df`` as a full snapshot; it starts a new chain."""
        version = f"v{uuid.uuid4().hex[:12]}"
        cdc_writer(df).mode("overwrite").parquet(self._dir(version))
        self._commit(_Chain(version), meta)

    def merge_changes(self, changes: DataFrame, key: str) -> None:
        """Commit a change batch: ``changes`` (audit-schema rows with the
        typed ``new`` image, its fields the replica's columns) merged
        into the table on the replica column ``key``, with the semantics
        of :func:`~cdc_system_spark.operators.merge.apply_changes`.

        The batch's rows are written as a delta version. The first
        commit, and a commit that compacts (see the class docstring),
        writes a full snapshot instead."""
        chain = self._chain() if self.exists() else None
        if chain is not None and chain.deltas and chain.key != key:
            raise ValueError(f"{self.path} merges on {chain.key!r}, not {key!r}")
        if chain is None or self._rows(chain.deltas) >= self._rows([chain.base]):
            # one merge of the base with its deltas and the batch
            base, deltas = self._parts(chain) if chain is not None else (self.read(), None)
            batch = changes.select(*_DELTA_COLUMNS)
            if deltas is not None:
                # the batch's image in the replica's field order, so the
                # union does not depend on how unionByName resolves
                # nested fields
                new = F.struct(*[F.col(f"new.{c}").alias(c) for c in self.schema.names])
                batch = deltas.unionByName(batch.withColumn("new", new))
            self.write(apply_changes(base, batch, key=key, change_key="record_id"))
            return
        delta = f"d{uuid.uuid4().hex[:12]}"
        cdc_writer(changes.select(*_DELTA_COLUMNS)).parquet(self._dir(delta))
        self._commit(chain._replace(key=key, deltas=(*chain.deltas, delta)))

    def _commit(self, chain: _Chain, meta: dict[str, str] | None = None) -> None:
        tmp = self._current_file() + ".tmp"
        with open(tmp, "w") as f:
            f.write(chain.line())
            for k, v in (meta or {}).items():
                f.write(f"\n{k}={v}")
        os.replace(tmp, self._current_file())
        # commit-ordered version log — what makes time travel and the
        # change feed (changes_between) possible on plain parquet
        append_line(self._versions_file(), chain.line())

    def _versions_file(self) -> str:
        return os.path.join(self.path, "_VERSIONS")

    def _history(self) -> list[_Chain]:
        """Every committed chain, in commit order (oldest first)."""
        return [_Chain.parse(line) for line in complete_lines(self._versions_file())]

    def list_versions(self) -> list[str]:
        """Version names in commit order (oldest first)."""
        return [c.name for c in self._history()]

    def read_version(self, version: str) -> DataFrame:
        """Time travel: read a specific committed version, lazily and in
        the declared schema like :meth:`read`."""
        for chain in self._history():
            if chain.name == version:
                return self._fold(chain)
        raise ValueError(f"unknown version {version!r} for {self.path}")

    def changes_between(
        self, from_version: str, to_version: str, key: str
    ) -> DataFrame:
        """Change data feed on plain parquet (Delta CDF analogue): the
        audit-schema change set that transforms ``from_version`` into
        ``to_version`` — what an incremental downstream consumer reads
        instead of re-diffing full snapshots itself. One full-outer
        key join (operators/snapshot_diff.py), no stored deltas.
        """
        from cdc_system_spark.operators.snapshot_diff import snapshot_diff

        versions = self.list_versions()
        if versions.index(from_version) > versions.index(to_version):
            raise ValueError(
                f"from_version {from_version!r} is newer than {to_version!r}"
            )
        return snapshot_diff(
            self.read_version(from_version), self.read_version(to_version), key=key
        )

    def destroy(self) -> None:
        shutil.rmtree(self.path, ignore_errors=True)


class CDCSystem:
    """Capture setup + change-log queries (≅ cdc_system.py:92-268)."""

    def __init__(
        self,
        spark: SparkSession,
        root: str,
        table_name: str,
        config: CDCConfig | None = None,
    ):
        self.spark = spark
        self.root = root
        self.table_name = table_name
        self.config = config or CDCConfig()
        self.registry = SchemaRegistry()
        self.capture: LogCapture | None = None

    def setup_cdc(self, schema: T.StructType, key: str | None = None) -> LogCapture:
        """≅ setup_trigger_based_cdc(columns) (cdc_system.py:105-141).

        Takes a typed StructType instead of a column-name list; the key
        column is explicit (default first field) — fixing the
        reference's columns[0]-vs-'id' inconsistency (SURVEY §1.3).
        """
        self.registry.register(self.table_name, schema, key)
        self.capture = LogCapture(
            self.spark,
            self.root,
            self.table_name,
            key=self.registry.key(self.table_name),
            row_schema=schema,
        )
        return self.capture

    def evolve_schema(self, new_schema: T.StructType) -> None:
        """Additive schema evolution for the tracked table (≅ what the
        reference would need on ALTER TABLE ADD COLUMN — it has no
        path for this; its triggers would silently drop the column).

        Validation, a registry swap, and the new schema passed on to the
        capture: captures after the evolution store images with the new
        columns, and readers read every image in the evolved schema. A
        typed image stored before it lacks the new struct fields, which
        the parquet reader fills with nulls, and a JSON image of an
        earlier version decodes with nulls for them, so history needs no
        rewrite. Pair with ``SnapshotTable.evolve`` on the target side.
        """
        self.registry.evolve(self.table_name, new_schema)
        if self.capture is not None:
            self.capture.row_schema = new_schema

    def read_log(self) -> DataFrame:
        """The change log with ``synced``/``sync_timestamp`` derived from
        the committed sync watermarks (:func:`mark_synced`): the
        reference's audit-table columns, without rewriting a row."""
        assert self.capture is not None, "setup_cdc first"
        return mark_synced(self.capture.read_log(), self.capture.ledger())

    def get_pending_changes(self, limit: int | None = None) -> DataFrame:
        """≅ cdc_system.py:199-231: the pending poll the replicators
        share (:func:`pending_changes`), with the typed images ``old`` /
        ``new`` beside the reference's JSON columns. The images are
        stored typed (see ``LogCapture``), so the poll decodes nothing.

        Pending means ``cdc_id`` above the last committed sync
        watermark. The derived ``synced`` filter simplifies to that
        range, which the parquet scan pushes down, so files and row
        groups of the drained prefix are skipped by their footer
        statistics — what the reference's ``(synced, cdc_id)`` covering
        index buys its hot poll (cdc_system.py:209-216). With the
        ``orderBy + limit`` top-k, a poll is one scan job. Pending rows
        have no sync time, so the log derives ``synced`` alone
        (:func:`synced_view`): one comparison at any ledger length.
        """
        assert self.capture is not None, "setup_cdc first"
        log = synced_view(self.capture.read_log(), self.capture.ledger())
        return pending_changes(log, limit=limit)

    def log_summary(self) -> _monitor.LogSummary:
        """Counts, bounds and sync position of the change log, from the
        capture manifest and the ledger (``monitor.summarize``)."""
        assert self.capture is not None, "setup_cdc first"
        return _monitor.summarize(self.capture)

    def get_change_statistics(self) -> dict[str, dict[str, int]]:
        return _monitor.get_change_statistics(self.log_summary())


def _replicate_round(
    cap: LogCapture, batch: DataFrame, write: Callable[[DataFrame], None]
) -> int:
    """One replication round, shared by the replicators: ``write`` the
    sink from the polled ``batch`` (oldest first), then commit the
    batch's largest ``cdc_id`` as the sync watermark of the log ``cap``.
    Returns the number of changes applied.

    Unlike the reference — which marks source rows synced *before* the
    target commit (cdc_system.py:313-315) — the watermark commits only
    after the sink version has landed, so a crash in between re-delivers
    the batch into an idempotent merge instead of losing changes. No
    file of the log is touched.

    The ledger is one position per log, not one per consumer: every
    replicator polls above the last watermark that any replicator of
    the log committed. So a log has one consumer. A second replicator
    with another sink, run after the first, sees none of the changes
    the first one drained.
    """
    batch = batch.cache()
    try:
        n, wm = batch.agg(F.count("*"), F.max("cdc_id")).first()
        if n:
            # a capture that lands meanwhile refreshes the cached log scan
            # (refreshByPath), and a re-evaluated poll may take its rows:
            # the sink gets exactly the rows the watermark commits
            write(batch.filter(F.col("cdc_id") <= wm))
            cap.commit_watermark(wm)
        return n
    finally:
        batch.unpersist()


class CDCReplicator:
    """Batch replication source→target (≅ cdc_system.py:271-350)."""

    def __init__(self, source: CDCSystem, target: SnapshotTable, key: str | None = None):
        self.source = source
        self.target = target
        self.key = key or source.registry.key(source.table_name)

    def _with_retries(self, fn):
        """Honor the retry config the reference declares but never uses
        (config.py:35-36: CDC_MAX_RETRIES / CDC_RETRY_DELAY). Retries
        are safe here because the whole replicate step is idempotent:
        the target commit is write-new-then-flip, and the sync watermark
        commits only after the target version lands.
        """
        import time

        cfg = self.source.config
        last: Exception | None = None
        for attempt in range(cfg.max_retries + 1):
            try:
                return fn()
            except Exception as e:  # noqa: BLE001 — deliberate catch-all boundary
                last = e
                if attempt < cfg.max_retries:
                    time.sleep(cfg.retry_delay_seconds)
        assert last is not None
        raise last

    def replicate_changes(self, batch_size: int | None = None) -> int:
        """One micro-batch: pending → the batch committed to the replica
        (``SnapshotTable.merge_changes``, a delta version) → sync
        watermark (see :func:`_replicate_round`).

        Returns the number of changes applied (≅ cdc_system.py:279-318).
        """
        batch_size = batch_size or self.source.config.batch_size

        def write(batch: DataFrame) -> None:
            self._with_retries(lambda: self.target.merge_changes(batch, self.key))

        # only the columns the replica's delta stores: the round caches
        # the batch, and a JSON column would be derived for every change
        batch = self.source.get_pending_changes(limit=batch_size).select(*_DELTA_COLUMNS)
        return _replicate_round(self.source.capture, batch, write)


#: output schema of operators/scd.scd2_from_log / scd2_apply
SCD2_SCHEMA = T.StructType(
    [
        T.StructField("record_id", T.LongType(), True),
        T.StructField("version", T.IntegerType(), True),
        T.StructField("payload", T.StringType(), True),
        T.StructField("valid_from", T.TimestampType(), True),
        T.StructField("valid_to", T.TimestampType(), True),
        T.StructField("is_current", T.BooleanType(), True),
    ]
)


class SCD2Replicator:
    """History-table replication: pending changes maintain an SCD Type 2
    history instead of a current-state replica — the other canonical
    CDC sink (audit trails, point-in-time joins, feature backfills).
    Same durability order as :class:`CDCReplicator`: history version
    lands first, the sync watermark commits after, so a crash
    re-delivers into :func:`~cdc_system_spark.operators.scd.scd2_apply`,
    whose stale-batch guard makes out-of-order redelivery loud, not corrupt.

    Requires ``changed_at`` to be monotone with ``cdc_id`` per key
    (true for capture-time stamps); violations raise at apply time.
    """

    def __init__(self, source: CDCSystem, history: SnapshotTable):
        self.source = source
        self.history = history

    def replicate_changes(self, batch_size: int | None = None) -> int:
        from cdc_system_spark.operators.scd import scd2_apply

        batch_size = batch_size or self.source.config.batch_size

        def write(batch: DataFrame) -> None:
            self.history.write(scd2_apply(self.history.read(), batch))

        return _replicate_round(
            self.source.capture, self.source.get_pending_changes(batch_size), write
        )


class CDCMonitor:
    """≅ cdc_system.py:353-393."""

    def __init__(self, system: CDCSystem):
        self.system = system

    def get_health_report(self) -> dict[str, Any]:
        """Health is ``"warning"`` from ``config.health_pending_threshold``
        pending changes on."""
        return _monitor.get_health_report(
            self.system.log_summary(), self.system.config.health_pending_threshold
        )

    def get_replication_lag(self) -> dict[str, Any]:
        """Event-time freshness metrics (see monitor.get_replication_lag) —
        the lag dimension the reference's count-based report lacks."""
        return _monitor.get_replication_lag(self.system.log_summary())

    def print_report(self) -> None:
        _monitor.print_report(self.get_health_report())
