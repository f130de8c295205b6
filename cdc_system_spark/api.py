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
from collections.abc import Callable
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from cdc_system_spark import monitor as _monitor
from cdc_system_spark.config import CDCConfig
from cdc_system_spark.model import SchemaRegistry
from cdc_system_spark.operators.capture import LogCapture
from cdc_system_spark.operators.changelog import mark_synced, pending_changes, synced_view
from cdc_system_spark.operators.merge import apply_changes


class SnapshotTable:
    """A mutable table as versioned parquet snapshots (no Delta in env).

    Writes go to ``{path}/v{n}``; ``{path}/_CURRENT`` names the live
    version (write-new-then-flip ≈ atomic swap). Readers always see a
    complete snapshot. At scale this is the same pattern as
    Delta/Iceberg's version pointer, minimal edition.
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

    def read(self) -> DataFrame:
        """The live version, in the declared schema (an empty frame
        before the first write)."""
        if not self.exists():
            return self.spark.createDataFrame([], self.schema)
        with open(self._current_file()) as f:
            return self._scan(f.readline().strip())

    def _scan(self, version: str) -> DataFrame:
        # Reading with the declared schema needs no schema-inference job,
        # and the parquet reader returns typed nulls for declared columns
        # a file lacks: snapshots written before an additive evolution
        # read with nulls in the new columns (Delta/Iceberg read-time
        # schema projection, minimal edition). Evolution is additive
        # (SchemaRegistry.evolve rejects drops and type changes), so each
        # stored column matches its declaration.
        return self.spark.read.schema(self.schema).parquet(os.path.join(self.path, version))

    def evolve(self, new_schema: T.StructType) -> None:
        """Adopt an additively-evolved schema; existing snapshots are
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
        version = f"v{uuid.uuid4().hex[:12]}"
        df.write.mode("overwrite").parquet(os.path.join(self.path, version))
        tmp = self._current_file() + ".tmp"
        with open(tmp, "w") as f:
            f.write(version)
            for k, v in (meta or {}).items():
                f.write(f"\n{k}={v}")
        os.replace(tmp, self._current_file())
        # commit-ordered version log — what makes time travel and the
        # change feed (changes_between) possible on plain parquet
        with open(os.path.join(self.path, "_VERSIONS"), "a") as f:
            f.write(version + "\n")

    def list_versions(self) -> list[str]:
        """Version names in commit order (oldest first)."""
        vfile = os.path.join(self.path, "_VERSIONS")
        if not os.path.exists(vfile):
            return []
        with open(vfile) as f:
            return [ln.strip() for ln in f if ln.strip()]

    def read_version(self, version: str) -> DataFrame:
        """Time travel: read a specific committed version, in the
        declared schema like :meth:`read`."""
        if version not in self.list_versions():
            raise ValueError(f"unknown version {version!r} for {self.path}")
        return self._scan(version)

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
            self.spark, self.root, self.table_name, key=self.registry.key(self.table_name)
        )
        return self.capture

    def evolve_schema(self, new_schema: T.StructType) -> None:
        """Additive schema evolution for the tracked table (≅ what the
        reference would need on ALTER TABLE ADD COLUMN — it has no
        path for this; its triggers would silently drop the column).

        Validation + registry swap only: the change log's JSON row
        images decode under the evolved schema with nulls for the new
        columns, so history needs no rewrite, and captures after the
        evolution carry the new columns transparently. Pair with
        ``SnapshotTable.evolve`` on the target side.
        """
        self.registry.evolve(self.table_name, new_schema)

    def read_log(self) -> DataFrame:
        """The change log with ``synced``/``sync_timestamp`` derived from
        the committed sync watermarks (:func:`mark_synced`): the
        reference's audit-table columns, without rewriting a row."""
        assert self.capture is not None, "setup_cdc first"
        return mark_synced(self.capture.read_log(), self.capture.ledger())

    def read_pending(
        self, limit: int | None = None, row_schema: T.StructType | None = None
    ) -> DataFrame:
        """The pending poll both replicators share (:func:`pending_changes`).
        Pending rows have no sync time, so the log derives ``synced``
        alone (:func:`synced_view`): one comparison at any ledger length."""
        assert self.capture is not None, "setup_cdc first"
        log = synced_view(self.capture.read_log(), self.capture.ledger())
        return pending_changes(log, limit=limit, row_schema=row_schema)

    def get_pending_changes(self, limit: int | None = None) -> DataFrame:
        """≅ cdc_system.py:199-231, decoded images included.

        Pending means ``cdc_id`` above the last committed sync
        watermark. The derived ``synced`` filter simplifies to that
        range, which the parquet scan pushes down, so files and row
        groups of the drained prefix are skipped by their footer
        statistics — what the reference's ``(synced, cdc_id)`` covering
        index buys its hot poll (cdc_system.py:209-216). With the
        ``orderBy + limit`` top-k, a poll is one scan job.
        """
        return self.read_pending(limit, self.registry.schema(self.table_name))

    def log_summary(self) -> _monitor.LogSummary:
        """Counts, bounds and sync position of the change log, from the
        capture manifest and the ledger (``monitor.summarize``)."""
        assert self.capture is not None, "setup_cdc first"
        return _monitor.summarize(self.capture)

    def get_change_statistics(self) -> dict[str, dict[str, int]]:
        return _monitor.get_change_statistics(self.log_summary())


def _replicate_round(
    source: CDCSystem, batch: DataFrame, write: Callable[[DataFrame], None]
) -> int:
    """One replication round, shared by the replicators: ``write`` the
    sink from the pending ``batch`` (oldest first), then commit the
    batch's largest ``cdc_id`` as the sync watermark. Returns the number
    of changes applied.

    Unlike the reference — which marks source rows synced *before* the
    target commit (cdc_system.py:313-315) — the watermark commits only
    after the sink version has landed, so a crash in between re-delivers
    the batch into an idempotent merge instead of losing changes. No
    file of the log is touched.
    """
    cap = source.capture
    assert cap is not None, "setup_cdc first"
    batch = batch.cache()
    try:
        n, wm = batch.agg(F.count("*"), F.max("cdc_id")).first()
        if n:
            write(batch)
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
        the target write is write-new-then-flip, and the sync watermark
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
        """One micro-batch: pending → net-effect merge → replica version
        → sync watermark (see :func:`_replicate_round`).

        Returns the number of changes applied (≅ cdc_system.py:279-318).
        """
        batch_size = batch_size or self.source.config.batch_size

        def write(batch: DataFrame) -> None:
            current = self.target.read()
            merged = apply_changes(current, batch, key=self.key, change_key="record_id")
            self._with_retries(lambda: self.target.write(merged))

        return _replicate_round(
            self.source, self.source.get_pending_changes(limit=batch_size), write
        )


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

        return _replicate_round(self.source, self.source.read_pending(batch_size), write)


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
