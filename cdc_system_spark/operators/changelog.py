"""Change-log queries — the reference's hot path, set-oriented.

Reference behaviors re-expressed (SURVEY.md §2.2/§2.4/§2.5):

* ``log_rows`` reads the log's files for every reader (the audit
  API, the pending poll, the monitor and the streaming source): the row
  images typed as ``old`` / ``new``, whether a file stores them as
  struct columns or, as logs written before typed images did, as JSON
  text; ``old_data`` / ``new_data`` derived from them on demand.
* ``pending_changes``  ≅ ``get_pending_changes`` (cdc_system.py:199-231):
  ``SELECT * FROM {cdc} WHERE synced=0 ORDER BY cdc_id [LIMIT n]``; the
  images come typed from ``log_rows``, so the poll decodes nothing.
* ``mark_synced``      ≅ ``mark_as_synced`` (cdc_system.py:233-246):
  derives the ``synced``/``sync_timestamp`` columns from the ledger of
  committed sync watermarks instead of updating rows; ``synced_view``
  derives ``synced`` alone, for the poll.
* ``change_statistics`` ≅ ``get_change_statistics`` (cdc_system.py:248-268):
  GROUP BY operation with pivoted pending/synced conditional sums.
* ``change_statistics_rollup`` ≅ the Python-side totals rollup
  (cdc_system.py:363-364), done natively with ``rollup()`` so Spark
  computes both levels in one pass (partial aggregation map-side).

Scale notes: the filter+orderBy+limit plan compiles to
TakeOrderedAndProject — a true distributed top-k (per-partition heap,
then k-way driver merge), not a global sort. The `synced` flag is not
stored: it is ``cdc_id <= wm`` for the committed watermark, so the
pending filter is a ``cdc_id`` range the parquet scan pushes down, and
files and row groups of the synced prefix are skipped by their footer
statistics — a log that is only ever appended to, as in streaming/.
"""

from __future__ import annotations

from collections.abc import Sequence
from datetime import datetime

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from cdc_system_spark.model import AUDIT_SCHEMA


def stored_schema(row_schema: T.StructType | None) -> T.StructType:
    """The declared schema the log's files are read with: both layouts
    of a row image, the JSON text ``old_data`` / ``new_data`` of logs
    written before images were typed and the typed structs ``old`` /
    ``new`` in ``row_schema``. A file lacks the columns of the other
    layout, and of the image its operation does not have (an INSERT has
    no old image, a DELETE no new one); the parquet reader gives typed
    nulls for them, and for struct fields an image written before an
    additive schema evolution lacks."""
    if row_schema is None:
        return AUDIT_SCHEMA
    return T.StructType(
        AUDIT_SCHEMA.fields
        + [T.StructField("old", row_schema, True), T.StructField("new", row_schema, True)]
    )


def log_rows(stored: DataFrame, row_schema: T.StructType | None) -> DataFrame:
    """The change rows of ``stored``, log files read (batch or
    streaming) with :func:`stored_schema` of ``row_schema``.

    Columns: the audit columns (``model.AUDIT_COLUMNS``), then the typed
    images ``old`` and ``new`` in ``row_schema``. A typed file's image is
    read as stored, and a JSON image is decoded with ``from_json``, so
    logs that mix the layouts read as one; NULL input decodes to NULL, as
    the reference's conditional decode (cdc_system.py:221-228) does.
    ``old_data`` / ``new_data`` keep a stored JSON text and are otherwise
    ``to_json`` of the typed image, which is the text capture wrote when
    it stored JSON; a reader that does not select them pays nothing for
    them. Without ``row_schema`` the rows carry no images: the columns
    are ``cdc_id``, ``operation``, ``record_id``, ``changed_at``,
    ``synced`` and ``sync_timestamp``."""
    head, tail = ["cdc_id", "operation", "record_id"], ["changed_at", "synced", "sync_timestamp"]
    if row_schema is None:
        return stored.select(*head, *tail)
    return stored.select(
        *head,
        F.coalesce("old_data", F.to_json("old")).alias("old_data"),
        F.coalesce("new_data", F.to_json("new")).alias("new_data"),
        *tail,
        F.coalesce("old", F.from_json("old_data", row_schema)).alias("old"),
        F.coalesce("new", F.from_json("new_data", row_schema)).alias("new"),
    )


def pending_changes(
    log: DataFrame,
    limit: int | None = None,
    row_schema: T.StructType | None = None,
) -> DataFrame:
    """Oldest-first pending slice of the change log.

    A log read by :func:`log_rows` already carries the typed images
    ``old`` / ``new``. ``row_schema`` decodes them from the JSON columns
    of an audit frame that has none (built outside the log reader, as
    ``snapshot_diff`` builds its change set).
    """
    df = log.filter(~F.col("synced")).orderBy("cdc_id")
    if limit is not None:
        df = df.limit(limit)
    if row_schema is not None and "new" not in log.columns:
        df = df.withColumns(
            {
                "old": F.from_json("old_data", row_schema),
                "new": F.from_json("new_data", row_schema),
            }
        )
    return df


def mark_synced(log: DataFrame, ledger: Sequence[tuple[int, datetime]]) -> DataFrame:
    """Return the log with ``synced``/``sync_timestamp`` derived from the
    committed sync watermarks ``ledger`` (``(wm, sync_time)``, oldest
    first, ``wm`` increasing — ``LogCapture.ledger``).

    Reference: ``UPDATE {cdc} SET synced=1, sync_timestamp=now WHERE
    cdc_id IN (...)`` (cdc_system.py:238-243). The replicators drain in
    ``cdc_id`` order, so each such update covers exactly the ids up to
    the batch's largest one, and no row needs rewriting: ``synced`` is
    ``cdc_id <= wm`` of the last entry, and ``sync_timestamp`` is the
    time of the first entry whose ``wm`` covers the row. Both are
    column expressions over driver-side literals (a balanced CASE tree,
    log2(entries) comparisons per row), so the derivation adds no Spark
    job, and a filter on ``synced`` simplifies to a pushed-down
    ``cdc_id`` range.
    """
    cdc_id = F.col("cdc_id")
    if not ledger:
        return synced_view(log, ledger)

    def first_covering(lo: int, hi: int) -> Column:
        # sync time of the first of ledger[lo:hi] whose wm covers the row
        if hi - lo == 1:
            wm, ts = ledger[lo]
            return F.when(cdc_id <= wm, F.lit(ts))
        mid = (lo + hi) // 2
        return F.when(cdc_id <= ledger[mid - 1][0], first_covering(lo, mid)).otherwise(
            first_covering(mid, hi)
        )

    return log.withColumns(
        {
            "synced": cdc_id <= ledger[-1][0],
            "sync_timestamp": first_covering(0, len(ledger)),
        }
    )


def synced_view(log: DataFrame, ledger: Sequence[tuple[int, datetime]]) -> DataFrame:
    """The log with only ``synced`` derived from ``ledger`` (as in
    :func:`mark_synced`) and ``sync_timestamp`` a typed NULL.

    Exact for every pending row, whose ``sync_timestamp`` is NULL, so it
    serves the callers that never read the sync time of a synced row:
    the pending poll and the monitor. Its plan is one comparison with
    the last watermark at any ledger length; :func:`mark_synced`'s CASE
    tree grows with the ledger.
    """
    synced = F.col("cdc_id") <= ledger[-1][0] if ledger else F.lit(False)
    return log.withColumns({"synced": synced, "sync_timestamp": F.lit(None).cast("timestamp")})


def stat_aggs() -> list[Column]:
    """``count``/``pending``/``synced`` of a group of log rows."""
    return [
        F.count("*").alias("count"),
        F.sum(F.when(~F.col("synced"), 1).otherwise(0)).alias("pending"),
        F.sum(F.when(F.col("synced"), 1).otherwise(0)).alias("synced"),
    ]


def change_statistics(log: DataFrame) -> DataFrame:
    """Per-operation totals + pending/synced breakdown.

    Reference SQL (cdc_system.py:250-258)::

        SELECT operation, COUNT(*) as count,
               SUM(CASE WHEN synced = 0 THEN 1 ELSE 0 END) as pending,
               SUM(CASE WHEN synced = 1 THEN 1 ELSE 0 END) as synced
        FROM {cdc} GROUP BY operation
    """
    return log.groupBy("operation").agg(*stat_aggs())


def change_statistics_rollup(log: DataFrame) -> DataFrame:
    """Per-operation stats plus the all-operations total row in one pass.

    The reference computes totals in Python over A1's output
    (cdc_system.py:363-364); ``rollup`` produces both grouping levels in
    a single aggregation (operation=NULL row = grand total).
    """
    return log.rollup("operation").agg(*stat_aggs())
