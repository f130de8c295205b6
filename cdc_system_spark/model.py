"""Core data model: change operations and the audit (change-log) schema.

The reference's central structure is the per-table ``{table}_cdc`` audit
table (reference: cdc_system.py:103, DDL at cdc_system.py:115-126):

    cdc_id INTEGER PK AUTOINCREMENT, operation TEXT, record_id INTEGER,
    old_data TEXT(json), new_data TEXT(json),
    changed_at TIMESTAMP DEFAULT now, synced INTEGER 0/1,
    sync_timestamp TIMESTAMP

Here the audit API keeps these columns, and every reader of the log
also gets the row images as typed structs ``old`` / ``new`` in the
table's declared StructType (never schemaless maps — keeps Catalyst
column pruning effective, SURVEY.md §1.3). On disk the images are stored
typed, as parquet struct columns, not as JSON text: capture pays no
``to_json`` and the poll no ``from_json``, and parquet encodes each
field by its type. ``old_data`` / ``new_data`` are derived from the
typed images with ``to_json`` only when a reader asks for them
(``operators/changelog.log_rows``), so the reference's JSON columns
cost nothing on the replication path.
"""

from __future__ import annotations

import os
from enum import Enum
from typing import BinaryIO

from pyspark.sql import DataFrame, DataFrameWriter, SparkSession
from pyspark.sql import types as T


class ChangeOp(str, Enum):
    """Change operation (reference: cdc_system.py:25-29)."""

    INSERT = "INSERT"
    UPDATE = "UPDATE"
    DELETE = "DELETE"


#: Audit-log schema — mirrors the reference DDL (cdc_system.py:115-126).
#: ``synced`` is Boolean-as-int there; a real boolean here (SURVEY §1.2).
#: ``old_data`` / ``new_data`` are JSON text as in the reference: derived
#: from the typed images by the log reader, and the stored layout of logs
#: written before the images were typed (``changelog.stored_schema``).
AUDIT_SCHEMA = T.StructType(
    [
        T.StructField("cdc_id", T.LongType(), False),
        T.StructField("operation", T.StringType(), False),
        T.StructField("record_id", T.LongType(), True),
        T.StructField("old_data", T.StringType(), True),
        T.StructField("new_data", T.StringType(), True),
        T.StructField("changed_at", T.TimestampType(), True),
        T.StructField("synced", T.BooleanType(), False),
        T.StructField("sync_timestamp", T.TimestampType(), True),
    ]
)

AUDIT_COLUMNS = [f.name for f in AUDIT_SCHEMA.fields]

#: The parquet format of CDC storage: every file the package writes for
#: the change log, replica snapshots and deltas, the SCD2 history, dead
#: letters and compacted logs. The log keeps full row images and is
#: never deleted, so its bytes are paid on every scan of it; zstd stores
#: them in far fewer bytes than Spark's default snappy. Data pages are
#: v2, whose encodings suit change data: sorted ids such as ``cdc_id``,
#: ``record_id`` and a replica's key are stored DELTA_BINARY_PACKED, in
#: a few bits per row, and strings DELTA_BYTE_ARRAY, which shares each
#: value's prefix with the one before it. The compaction rule of
#: ``api.SnapshotTable`` must keep counting rows, not file bytes: v2
#: pages shrink a snapshot far more than a small delta, whose size is
#: mostly its footer, and under a byte rule the format would decide when
#: a replica compacts. The codec and the encodings are recorded per
#: file, so readers need no setting, and files written with other
#: options (Spark's defaults, as earlier versions wrote) read in the same
#: scan. Set per write, never on the session: the caller's session and
#: its other writes keep their own settings.
CDC_PARQUET_OPTIONS = {"compression": "zstd", "parquet.writer.version": "v2"}


def cdc_writer(df: DataFrame) -> DataFrameWriter:
    """``df.write`` in the CDC storage format (:data:`CDC_PARQUET_OPTIONS`)."""
    return df.write.options(**CDC_PARQUET_OPTIONS)


def empty_frame(spark: SparkSession, schema: T.StructType) -> DataFrame:
    """A frame of no rows in ``schema``, built in the JVM as an empty
    local relation. It has no partition to scan and needs no Python
    worker, and the optimizer prunes what it feeds. ``createDataFrame([],
    schema)`` gives a Python-backed RDD scan instead, which a write that
    reads it runs as Python tasks."""
    jspark = spark._jsparkSession
    jschema = jspark.parseDataType(schema.json())
    return DataFrame(jspark.createDataFrame(spark._jvm.java.util.ArrayList(), jschema), spark)


# One commit protocol for every metadata log of the sync loop: the
# capture manifest, the watermark ledger and a replica's version log are
# append-only files of lines, and a line is committed once its newline
# is on disk. A crash in the middle of an append leaves a last line with
# no newline; readers skip it and the next append cuts it off, so a torn
# line never becomes part of a commit and no log is ever rewritten.


def append_line(path: str, line: str) -> None:
    """Commit ``line`` (no newline) to the metadata log at ``path``: cut
    a torn last line, append, flush and fsync. Creates the file."""
    fd = os.open(path, os.O_RDWR | os.O_CREAT, 0o644)
    with os.fdopen(fd, "r+b") as f:
        end = _complete_end(f)
        f.truncate(end)
        f.seek(end)
        f.write(line.encode() + b"\n")
        f.flush()
        os.fsync(f.fileno())


def complete_lines(path: str) -> list[str]:
    """The committed lines of the metadata log at ``path``, oldest first,
    without their newlines: a torn last line is not one. A missing file
    has none."""
    try:
        with open(path, "rb") as f:
            data = f.read()
    except FileNotFoundError:
        return []
    return [line.decode() for line in data.split(b"\n")[:-1]]


def _complete_end(f: BinaryIO) -> int:
    """Offset just past the last newline of ``f`` (0 if it has none)."""
    pos = f.seek(0, os.SEEK_END)
    while pos > 0:
        step = min(pos, 4096)
        pos -= step
        f.seek(pos)
        i = f.read(step).rfind(b"\n")
        if i >= 0:
            return pos + i + 1
    return 0


class SchemaRegistry:
    """Caller-declared tracked-table schemas (SURVEY §1.3).

    The reference takes an explicit column list in
    ``setup_trigger_based_cdc(columns)`` (cdc_system.py:105-141) and
    assumes ``columns[0]`` is the key while the apply side hardcodes
    ``id`` (cdc_system.py:334-350). Here the key is an explicit,
    consistent parameter with default ``"id"``.
    """

    def __init__(self) -> None:
        self._schemas: dict[str, T.StructType] = {}
        self._keys: dict[str, str] = {}

    def register(self, table: str, schema: T.StructType, key: str | None = None) -> None:
        self._schemas[table] = schema
        self._keys[table] = key or schema.fields[0].name

    def schema(self, table: str) -> T.StructType:
        return self._schemas[table]

    def evolve(self, table: str, new_schema: T.StructType) -> None:
        """Additive-only schema evolution (the lake-format contract:
        Delta/Iceberg ``mergeSchema`` allows new nullable columns,
        never drops or type changes — those need a rewrite).

        Old change-log entries read under the evolved schema with nulls
        for the new columns: a typed image lacks the new struct fields,
        which the parquet reader fills with nulls, and a JSON image
        decodes without them; no log rewrite, no backfill. Raises on
        drops or type changes, which would silently corrupt history.
        """
        old = self._schemas[table]
        new_fields = {f.name: f for f in new_schema.fields}
        for f in old.fields:
            nf = new_fields.get(f.name)
            if nf is None:
                raise ValueError(
                    f"schema evolution cannot drop column {f.name!r}"
                )
            if nf.dataType != f.dataType:
                raise ValueError(
                    f"schema evolution cannot change {f.name!r}: "
                    f"{f.dataType.simpleString()} -> {nf.dataType.simpleString()}"
                )
        for name in set(new_fields) - {f.name for f in old.fields}:
            if not new_fields[name].nullable:
                raise ValueError(
                    f"new column {name!r} must be nullable (existing rows "
                    "have no value for it)"
                )
        self._schemas[table] = new_schema

    def key(self, table: str) -> str:
        return self._keys[table]

    def __contains__(self, table: str) -> bool:
        return table in self._schemas
