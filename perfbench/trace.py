"""Spans around the calls the benchmark makes into each layer.

Tracing wraps public functions and methods of ``cdc_system_spark`` from
here — the package itself is not edited. Each span gets its own Spark
job group (``SparkContext.setJobGroup``); when the span closes, the
jobs of that group and their tasks are read back through
``statusTracker()``. Job and task counts therefore repeat exactly from
run to run, unlike times.

Lazy functions (those that only build a plan, such as
``CDCSystem.get_pending_changes``) get spans that measure planning
only; the work they define runs, and is counted, in the span of
whichever call executes it. Such spans carry ``lazy=True``.

The benchmark is a single closed-loop client, so one stack of open
spans serves it.

Counts the benchmark takes itself inside spans (the rows into and out
of the merge's net-effect reduction) run in :meth:`Tracer.untimed`:
their time is taken off every open span and their jobs belong to no
span.
"""

from __future__ import annotations

import contextlib
import functools
import itertools
import time
from collections import Counter
from collections.abc import Callable
from dataclasses import dataclass
from typing import TYPE_CHECKING

if TYPE_CHECKING:
    from pyspark import SparkContext

_GROUP = "spark.jobGroup.id"
_DESC = "spark.job.description"
_UNTIMED = "perfbench-untimed"


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    lazy: bool
    unit: int | None  # round / request cycle the span belongs to
    t0: float = 0.0
    t1: float = 0.0
    untimed_s: float = 0.0  # benchmark-side work inside the span
    jobs: int = 0  # of this span's own job group
    tasks: int = 0
    children_s: float = 0.0
    children_jobs: int = 0
    children_tasks: int = 0

    @property
    def dur(self) -> float:
        return self.t1 - self.t0 - self.untimed_s

    @property
    def self_s(self) -> float:
        return self.dur - self.children_s

    @property
    def all_jobs(self) -> int:
        """Jobs of the span and every span nested in it."""
        return self.jobs + self.children_jobs

    @property
    def all_tasks(self) -> int:
        return self.tasks + self.children_tasks


class Tracer:
    """In-memory span recorder; spans are read out when the run ends."""

    def __init__(self, sc: SparkContext):
        self._sc = sc
        self._tracker = sc.statusTracker()
        self._ids = itertools.count()
        self._stack: list[Span] = []
        self.spans: list[Span] = []
        self.unit: int | None = None
        self.enabled = True
        #: values counted in :meth:`untimed`, summed since the last reset
        self.counts: Counter[str] = Counter()
        #: seconds spent in :meth:`untimed` since the last reset
        self.untimed_s = 0.0

    @contextlib.contextmanager
    def span(self, name: str, lazy: bool = False):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        sp = Span(next(self._ids), name, parent.id if parent else None, lazy, self.unit)
        self._stack.append(sp)
        group = f"perfbench-{sp.id}"
        prev = (self._sc.getLocalProperty(_GROUP), self._sc.getLocalProperty(_DESC))
        self._sc.setJobGroup(group, name)
        sp.t0 = time.perf_counter()
        try:
            yield sp
        finally:
            sp.t1 = time.perf_counter()
            self._sc.setLocalProperty(_GROUP, prev[0])
            self._sc.setLocalProperty(_DESC, prev[1])
            sp.jobs, sp.tasks = self._count(group)
            self._stack.remove(sp)
            if parent is not None:
                parent.children_s += sp.dur
                parent.children_jobs += sp.all_jobs
                parent.children_tasks += sp.all_tasks
            self.spans.append(sp)

    @contextlib.contextmanager
    def untimed(self):
        """Benchmark-side work inside open spans: its time is taken off
        each of them and its Spark jobs go to a group no span reads."""
        prev = (self._sc.getLocalProperty(_GROUP), self._sc.getLocalProperty(_DESC))
        self._sc.setJobGroup(_UNTIMED, "benchmark count")
        t0 = time.perf_counter()
        try:
            yield
        finally:
            dt = time.perf_counter() - t0
            self._sc.setLocalProperty(_GROUP, prev[0])
            self._sc.setLocalProperty(_DESC, prev[1])
            for sp in self._stack:
                sp.untimed_s += dt
            self.untimed_s += dt

    def _count(self, group: str) -> tuple[int, int]:
        jobs = self._tracker.getJobIdsForGroup(group)
        tasks = 0
        for jid in jobs:
            info = self._tracker.getJobInfo(jid)
            for sid in info.stageIds if info else ():
                st = self._tracker.getStageInfo(sid)
                tasks += st.numTasks if st else 0
        return len(jobs), tasks

    # -- wrapping ------------------------------------------------------------

    def wrap(self, owner, attr: str, name: str, lazy: bool = False):
        """Replace ``owner.attr`` by a traced wrapper; returns an undo."""
        orig = owner.__dict__[attr] if isinstance(owner, type) else getattr(owner, attr)

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            with self.span(name, lazy=lazy):
                return orig(*args, **kwargs)

        setattr(owner, attr, traced)
        return lambda: setattr(owner, attr, orig)

    def wrap_net_effect(self, merge):
        """Trace ``merge.net_effect_reduce`` (lazy: planning only) and
        count, untimed, the rows it takes in and the rows it leaves."""
        orig = merge.net_effect_reduce

        @functools.wraps(orig)
        def traced(changes, *args, **kwargs):
            with self.span("merge.net_effect_reduce", lazy=True):
                net = orig(changes, *args, **kwargs)
            if self.enabled:
                with self.untimed():
                    self.counts["merge.in_rows"] += changes.count()
                    self.counts["merge.net_rows"] += net.count()
            return net

        merge.net_effect_reduce = traced
        return lambda: setattr(merge, "net_effect_reduce", orig)


def per_unit(spans: list[Span], units: list[int], prefix: str, value: Callable[[Span], float]):
    """For each of ``units``, the sum of ``value`` over its outermost
    spans whose name starts with ``prefix`` (a span nested in another
    span of the same prefix is already inside its parent's value)."""
    by_id = {sp.id: sp for sp in spans}
    totals = dict.fromkeys(units, 0.0)
    for sp in spans:
        if sp.unit not in totals or not sp.name.startswith(prefix):
            continue
        parent = by_id.get(sp.parent)
        if parent is None or not parent.name.startswith(prefix):
            totals[sp.unit] += value(sp)
    return list(totals.values())


def layer_targets():
    """``(owner, attribute, span name, lazy)`` for every public call the
    traced run wraps, grouped by the repo module (layer) it belongs to."""
    from cdc_system_spark import api
    from cdc_system_spark.operators import capture, maintenance, scd

    LC = capture.LogCapture
    return [
        # capture (operators/capture.py)
        (LC, "capture_insert", "capture.insert", False),
        (LC, "capture_update", "capture.update", False),
        (LC, "capture_delete", "capture.delete", False),
        # changelog (CDCSystem poll, operators/changelog.py, maintenance)
        (api.CDCSystem, "get_pending_changes", "changelog.get_pending_changes", True),
        (api, "pending_changes", "changelog.pending_changes", True),
        (api, "mark_synced", "changelog.mark_synced", True),
        (maintenance, "read_pending_pruned", "changelog.read_pending_pruned", True),
        (LC, "refresh_zone_state", "changelog.zone_refresh", False),
        # replicator (api.py CDCReplicator)
        (api.CDCReplicator, "replicate_changes", "replicator.replicate_changes", False),
        # merge (operators/merge.py apply_changes, as api.py binds it);
        # eager for the net-effect reduction it checkpoints, lazy after
        (api, "apply_changes", "merge.apply_changes", False),
        # snapshot (api.py SnapshotTable)
        (api.SnapshotTable, "write", "snapshot.write", False),
        (api.SnapshotTable, "read", "snapshot.read", True),
        # monitor (monitor.py through CDCMonitor / CDCSystem)
        (api.CDCMonitor, "get_health_report", "monitor.health", False),
        (api.CDCMonitor, "get_replication_lag", "monitor.lag", False),
        (api.CDCSystem, "get_change_statistics", "monitor.stats", False),
        # scd (operators/scd.py)
        (scd, "scd2_from_log", "scd.scd2_from_log", True),
        (scd, "asof_lookup", "scd.asof_lookup", True),
    ]


def lazy_span_names() -> list[str]:
    lazy = {name for _, _, name, lazy in layer_targets() if lazy}
    return sorted(lazy | {"merge.net_effect_reduce"})


def install(tracer: Tracer) -> list:
    """Wrap every layer target, and the merge's net-effect reduction
    (called inside ``apply_changes``); returns the undo callables."""
    from cdc_system_spark.operators import merge

    undo = [tracer.wrap(owner, attr, name, lazy) for owner, attr, name, lazy in layer_targets()]
    return undo + [tracer.wrap_net_effect(merge)]
