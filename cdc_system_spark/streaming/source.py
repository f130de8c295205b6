"""Streaming change-log source.

The reference's "streaming" is a poll loop over `WHERE synced=0`
(example_usage.py:191-218); Structured Streaming formalizes exactly that
micro-batch model (SURVEY §2.8). The change log is an append-only
parquet directory (operators/capture.py LogCapture), which the file
source consumes with offset tracking in the checkpoint — replacing the
reference's ``synced`` flag bookkeeping wholesale (S5): no flag scan,
no mark-back write, strictly better at scale.

``max_files_per_trigger`` ≅ the reference's ``batch_size`` cap
(cdc_system.py:279, S6): bounds per-cycle work and memory.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from cdc_system_spark.operators.changelog import log_rows, stored_schema


def read_change_stream(
    spark: SparkSession,
    log_path: str,
    max_files_per_trigger: int | None = None,
    row_schema: T.StructType | None = None,
) -> DataFrame:
    """The change log at ``log_path`` as a stream of change rows, read
    through the log's one projection (``changelog.log_rows``): with
    ``row_schema``, the typed images ``old`` / ``new`` beside the audit
    columns, whichever layout a file stores them in; without it, the
    change metadata only."""
    reader = spark.readStream.schema(stored_schema(row_schema))
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return log_rows(reader.parquet(log_path), row_schema)
