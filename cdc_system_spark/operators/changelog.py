"""Change-log queries — the reference's hot path, set-oriented.

Reference behaviors re-expressed (SURVEY.md §2.2/§2.4/§2.5):

* ``pending_changes``  ≅ ``get_pending_changes`` (cdc_system.py:199-231):
  ``SELECT * FROM {cdc} WHERE synced=0 ORDER BY cdc_id [LIMIT n]`` plus
  JSON decode of old/new row images.
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


def pending_changes(
    log: DataFrame,
    limit: int | None = None,
    row_schema: T.StructType | None = None,
) -> DataFrame:
    """Oldest-first pending slice of the change log, optionally decoded.

    With ``row_schema`` the JSON row images are decoded into typed
    structs (``old`` / ``new`` columns) — the set-oriented version of the
    per-row ``json.loads`` at cdc_system.py:221-228. ``from_json`` maps
    NULL input to NULL natively (NULL old_data for INSERT, NULL new_data
    for DELETE), matching the reference's conditional decode.
    """
    df = log.filter(~F.col("synced")).orderBy("cdc_id")
    if limit is not None:
        df = df.limit(limit)
    if row_schema is not None:
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
