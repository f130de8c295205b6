"""Monitoring — health, lag and change statistics of a change log.

≅ ``CDCMonitor`` (reference: cdc_system.py:353-393). The reference runs
a ``GROUP BY`` over the whole audit table on every call
(cdc_system.py:248-268, 359-376). Here every answer comes from one
driver-side :class:`LogSummary`, built by :func:`summarize` from facts
that are already known: the committed sync watermarks
(``LogCapture.ledger``) and the capture facts of each capture call
(operation, row count, ``cdc_id`` bounds and ``changed_at``), split by
the last watermark into wholly synced and wholly pending calls
(``LogCapture.facts``, which also checks them against one listing of
the log and raises on a missing or resized file).

Only the files that those facts do not settle are read with Spark, in
one aggregate: the files of a call that straddles the watermark (a
drain with a batch smaller than a capture call), and listed files that
no call recorded (a crash or an error between the data write and the
manifest commit, or a log written without a manifest). A log whose
calls all lie on one side of the watermark is answered with no Spark
job.

The report dict shapes and the ``pending < threshold → healthy`` rule
match ``get_health_report`` (cdc_system.py:359-376; the reference's
threshold of 1000 at :373 is ``CDCConfig.health_pending_threshold``).
This follows *What's the Difference? Change Queries in Snowflake*
(SIGMOD 2023), which keeps change-tracking facts as metadata.
"""

from __future__ import annotations

import bisect
from dataclasses import dataclass, field
from datetime import datetime, timezone
from typing import Any

from pyspark.sql import functions as F

from cdc_system_spark.operators.capture import LogCapture, epoch_micros
from cdc_system_spark.operators.changelog import stat_aggs, synced_view


def _opt(fn, a: int | None, b: int | None) -> int | None:
    return b if a is None else a if b is None else fn(a, b)


@dataclass
class LogSummary:
    """What the monitor reports about a change log. Instants are UTC
    epoch microseconds, as in ``CaptureEntry.ts``."""

    #: operation -> [total, pending, synced]
    ops: dict[str, list[int]] = field(default_factory=dict)
    newest_us: int | None = None
    oldest_pending_us: int | None = None
    #: largest synced ``cdc_id``
    max_synced_id: int | None = None
    #: sync time of the first ledger entry that covers ``max_synced_id``
    last_sync_us: int | None = None

    def add(
        self,
        op: str,
        total: int,
        pending: int,
        synced: int,
        newest_us: int | None,
        oldest_pending_us: int | None,
        max_synced_id: int | None,
    ) -> None:
        counts = self.ops.setdefault(op, [0, 0, 0])
        counts[0] += total
        counts[1] += pending
        counts[2] += synced
        self.newest_us = _opt(max, self.newest_us, newest_us)
        self.oldest_pending_us = _opt(min, self.oldest_pending_us, oldest_pending_us)
        self.max_synced_id = _opt(max, self.max_synced_id, max_synced_id)


def summarize(capture: LogCapture) -> LogSummary:
    """The :class:`LogSummary` of ``capture``'s log (see the module
    docstring)."""
    ledger = capture.ledger()
    facts = capture.facts(ledger[-1][0] if ledger else -1)  # ids are never negative
    out = LogSummary()
    for e in facts.synced:
        out.add(e.op, e.rows, 0, e.rows, e.ts, None, e.hi)
    for e in facts.pending:
        out.add(e.op, e.rows, e.rows, 0, e.ts, e.ts, None)
    if facts.unsettled:
        ts = F.unix_micros("changed_at")
        synced = F.col("synced")
        rows = (
            synced_view(capture.read_files(facts.unsettled), ledger)
            .groupBy("operation")
            .agg(
                *stat_aggs(),
                F.max(ts).alias("newest"),
                F.min(F.when(~synced, ts)).alias("oldest_pending"),
                F.max(F.when(synced, F.col("cdc_id"))).alias("max_synced"),
            )
            .collect()
        )
        for r in rows:  # operation, count, pending, synced, then the three bounds
            out.add(*r)
    if out.max_synced_id is not None:
        i = bisect.bisect_left([w for w, _ in ledger], out.max_synced_id)
        out.last_sync_us = epoch_micros(ledger[i][1])
    return out


def get_change_statistics(summary: LogSummary) -> dict[str, dict[str, int]]:
    """Per-operation {total, pending, synced} dict (cdc_system.py:248-268)."""
    return {
        op: {"total": total, "pending": pending, "synced": synced}
        for op, (total, pending, synced) in summary.ops.items()
        if total
    }


def get_health_report(summary: LogSummary, pending_threshold: int) -> dict[str, Any]:
    stats = get_change_statistics(summary)
    pending = sum(s["pending"] for s in stats.values())
    return {
        "timestamp": datetime.now(timezone.utc).isoformat(),
        "total_changes": sum(s["total"] for s in stats.values()),
        "pending_changes": pending,
        "synced_changes": sum(s["synced"] for s in stats.values()),
        "statistics": stats,
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


def get_replication_lag(summary: LogSummary) -> dict[str, Any]:
    """Replication freshness — the metric the reference's health report
    lacks (it counts pending rows, cdc_system.py:359-376, but a count of
    5 can mean 5 seconds or 5 days of lag):

    - ``oldest_pending_age_s``: seconds from the OLDEST unsynced
      change's ``changed_at`` to the newest ``changed_at`` anywhere in
      the log — how far behind the replica's frontier is, measured in
      event time (clock-skew-free: both ends come from the log).
      ``0.0`` when nothing is pending.
    - ``last_sync_lag_s``: seconds between the most recent sync of a
      change (the sync time of the first ledger entry that covers the
      largest synced ``cdc_id``, which is the largest derived
      ``sync_timestamp``) and the most recent capture — how stale the
      last replication pass is. ``None`` until something has synced.
    """
    newest = summary.newest_us

    def seconds_since(us: int | None) -> float | None:
        return None if newest is None or us is None else (newest - us) / 1_000_000

    return {
        "pending_changes": sum(pending for _, pending, _ in summary.ops.values()),
        "oldest_pending_age_s": seconds_since(summary.oldest_pending_us) or 0.0,
        "last_sync_lag_s": seconds_since(summary.last_sync_us),
    }
