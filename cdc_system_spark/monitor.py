"""Monitoring — health report over the change log.

≅ ``CDCMonitor`` (reference: cdc_system.py:353-393). One rollup
aggregation produces per-operation stats and the grand total in a single
pass; the report dict shape and the ``pending < threshold → healthy``
rule match ``get_health_report`` (cdc_system.py:359-376; the reference's
threshold of 1000 at :373 is ``CDCConfig.health_pending_threshold``).
"""

from __future__ import annotations

from datetime import datetime, timezone
from typing import Any

from pyspark.sql import DataFrame, Row

from cdc_system_spark.operators.changelog import change_statistics_rollup


def _per_operation(rows: list[Row]) -> dict[str, dict[str, int]]:
    return {
        r["operation"]: {"total": r["count"], "pending": r["pending"], "synced": r["synced"]}
        for r in rows
        if r["operation"] is not None
    }


def get_change_statistics(log: DataFrame) -> dict[str, dict[str, int]]:
    """Per-operation {total, pending, synced} dict (cdc_system.py:248-268)."""
    return _per_operation(change_statistics_rollup(log).collect())


def get_health_report(log: DataFrame, pending_threshold: int) -> dict[str, Any]:
    rows = change_statistics_rollup(log).collect()
    # the rollup's operation=NULL row is the grand total (absent for an empty log)
    total = next((r for r in rows if r["operation"] is None), None)
    n, pending, synced = (total["count"], total["pending"], total["synced"]) if total else (0, 0, 0)
    return {
        "timestamp": datetime.now(timezone.utc).isoformat(),
        "total_changes": n,
        "pending_changes": pending,
        "synced_changes": synced,
        "statistics": _per_operation(rows),
        "health_status": "healthy" if pending < pending_threshold else "warning",
    }


def print_report(report: dict[str, Any]) -> None:
    """Console formatting (cdc_system.py:378-393)."""
    print("=" * 50)
    print("CDC HEALTH REPORT")
    print("=" * 50)
    print(f"Timestamp: {report['timestamp']}")
    print(f"Status: {report['health_status']}")
    print(f"Total changes: {report['total_changes']}")
    print(f"Pending: {report['pending_changes']}  Synced: {report['synced_changes']}")
    for op, s in report["statistics"].items():
        print(f"  {op}: total={s['total']} pending={s['pending']} synced={s['synced']}")
    print("=" * 50)


def get_replication_lag(log: DataFrame) -> dict[str, Any]:
    """Replication freshness from the change log alone — the metric the
    reference's health report lacks (it counts pending rows,
    cdc_system.py:359-376, but a count of 5 can mean 5 seconds or 5
    days of lag):

    - ``oldest_pending_age_s``: seconds from the OLDEST unsynced
      change's ``changed_at`` to the newest ``changed_at`` anywhere in
      the log — how far behind the replica's frontier is, measured in
      event time (clock-skew-free: both ends come from the log).
      ``0.0`` when nothing is pending.
    - ``last_sync_lag_s``: seconds between the most recent sync and the
      most recent capture — how stale the last replication pass is.
      ``None`` until something has synced.

    One aggregation pass (four conditional min/max), no collect beyond
    the single stats row.
    """
    from pyspark.sql import functions as F

    pending = ~F.col("synced").cast("boolean")
    r = log.agg(
        F.max("changed_at").alias("_newest"),
        F.min(F.when(pending, F.col("changed_at"))).alias("_oldest_pending"),
        F.max(F.when(~pending, F.col("sync_timestamp"))).alias("_last_sync"),
        F.count(F.when(pending, 1)).alias("_n_pending"),
    ).head()
    newest, oldest_pending, last_sync = (
        r["_newest"],
        r["_oldest_pending"],
        r["_last_sync"],
    )
    oldest_age = (
        (newest - oldest_pending).total_seconds()
        if newest is not None and oldest_pending is not None
        else 0.0
    )
    sync_lag = (
        (newest - last_sync).total_seconds()
        if newest is not None and last_sync is not None
        else None
    )
    return {
        "pending_changes": int(r["_n_pending"]),
        "oldest_pending_age_s": oldest_age,
        "last_sync_lag_s": sync_lag,
    }
