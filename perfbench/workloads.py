"""The benchmark's workloads: seeded, single-client, closed loop.

One client drives the public API of ``cdc_system_spark`` against a
Spark ``local[<cpus>]`` session and waits for each call before it makes
the next one. Every workload runs in three phases:

1. set-up, repeated ``SETUPS`` times in fresh roots: load the source
   table, capture it as inserts and replicate it (the median is
   reported, plus the one-off session start). The first, cold, set-up
   also pays the JIT and code-generation warm-up of the session;
2. ``WARMUP_UNITS`` untimed units: the first ``capture_update`` and
   ``capture_delete``, small merge and read requests of the session
   run cold, and the JIT keeps compiling through the first units;
3. the timed phase: ``--seconds`` of work, as a fixed number of units
   (``timed_units``). The count does not follow the speed of the run:
   the tail percentile depends on the sample count (``stats.tail``),
   and every sync round adds a replica version to the disk use.

A *unit* is one sync round (``sync_batch``) or one cycle of the five
read requests (``log_reads``); each is one latency sample and one
rate sample (work over busy time; ``throughput_per_s`` is the
median rate, so one slow unit does not drag it). A cycle,
not a request, is the sample because the five request kinds differ
up to threefold in latency: a per-request median falls at the upper
edge of the three fast kinds and moved by a fifth between runs. Inputs of a unit are built and materialized
before its timer starts, so timings exclude the Python-side
``createDataFrame``. Outputs are checked against the
sequential-replay oracle in :mod:`perfbench.gen`, outside all timers.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time
from dataclasses import dataclass, field
from datetime import datetime, timezone
from operator import attrgetter

import numpy as np
import pyarrow as pa
import pyarrow.dataset as pads
import pyarrow.parquet as pq

from perfbench import gen, stats
from perfbench.trace import Tracer, install, lazy_span_names, per_unit

#: rows of the tracked ``orders`` table. Round costs are dominated by
#: fixed per-job overheads (a round on 150k or 20k rows measured no
#: slower than on 60k), and about 45 s of a run is session start,
#: set-ups and warm-up; the small table leaves room in a run of about
#: 60 s on a 4-core machine for more timed units.
SOURCE_ROWS = 20_000
#: set-ups per run; the median is reported
SETUPS = 2
#: seconds one unit takes on a 4-core machine; ``--seconds`` over it
#: is the number of timed units
UNIT_S = {"sync_batch": 5.0, "log_reads": 2.2}
#: untimed units before the timed phase, about 5 s of sync_batch and
#: 2 s of log_reads on a 4-core machine (the JVM's CPU time per sync
#: round still fell from 13 s to 8 s over the first four rounds of a
#: run as the JIT caught up; longer warm-ups did not fit the run
#: budget, and the medians of the timed phase pass over a slow first
#: unit)
WARMUP_UNITS = {"sync_batch": 1, "log_reads": 1}
#: one replicate call drains a whole round
BATCH_SIZE = 1_000_000
POLL_LIMIT = 100
ASOF_PROBES = 20

#: the capture calls of one round, per workload
SPECS = {
    # ~1k uniform-key changes per round: upserts of live keys, updates
    # of never-inserted keys, deletes
    "sync_batch": (
        gen.CallSpec(gen.INSERT, 300, live_share=1 / 3),
        gen.CallSpec(gen.UPDATE, 500, live_share=0.9),
        gen.CallSpec(gen.DELETE, 200),
    ),
    # the pending tail of the long log_reads log (first call ≥ POLL_LIMIT)
    "log_reads": (
        gen.CallSpec(gen.UPDATE, 300),
        gen.CallSpec(gen.INSERT, 100, live_share=0.0),
        gen.CallSpec(gen.DELETE, 100),
    ),
}
WORKLOADS = tuple(SPECS)


def schema():
    from pyspark.sql import types as T

    return T.StructType(
        [
            T.StructField("o_orderkey", T.LongType(), False),
            T.StructField("o_custkey", T.LongType(), True),
            T.StructField("o_orderstatus", T.StringType(), True),
            T.StructField("o_totalprice", T.DoubleType(), True),
            T.StructField("o_orderdate", T.TimestampType(), True),
            T.StructField("o_orderpriority", T.StringType(), True),
        ]
    )


def disk_bytes(path: str) -> tuple[int, int]:
    """``(bytes, parquet files)`` under ``path`` — a plain walk."""
    total = files = 0
    for d, _, names in os.walk(path):
        for n in names:
            total += os.path.getsize(os.path.join(d, n))
            files += n.endswith(".parquet")
    return total, files


def write_source(cols: dict[str, np.ndarray], path: str) -> None:
    """Write NumPy columns as one parquet file (pyarrow, no Spark job)."""
    table = pa.table(
        {
            c: pa.array(cols[c] * 1_000_000, pa.timestamp("us", tz="UTC"))
            if c == "o_orderdate"
            else pa.array(cols[c])
            for c in gen.COLUMNS
        }
    )
    os.makedirs(path, exist_ok=True)
    pq.write_table(table, os.path.join(path, "part-0.parquet"))


@dataclass
class Sample:
    """One timed unit."""

    latency_s: list[float]  # per sync round or per read cycle
    busy_s: float  # client time spent in calls
    work: int  # changes applied, or requests served
    capture_s: list[float] = field(default_factory=list)
    traced: bool = False
    layer: dict[str, float] = field(default_factory=dict)


class Bench:
    def __init__(self, workload: str, seed: int, seconds: float, trace: bool, work: str):
        if workload not in SPECS:
            raise ValueError(f"unknown workload {workload!r}")
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.work = work
        self.attempted = 0
        self.failed = 0
        self.notes: list[str] = []
        self.samples: list[Sample] = []
        self.read_s: dict[str, list[float]] = {}  # per request kind

    # -- bookkeeping ---------------------------------------------------------

    def check(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.notes.append(f"wrong result: {what}")

    def op(self, fn, *args):
        """Run one system call, counting it; re-raises nothing."""
        self.attempted += 1
        try:
            return fn(*args)
        except Exception as e:  # noqa: BLE001 — a failed op is a counted outcome
            self.failed += 1
            self.notes.append(f"failed: {getattr(fn, '__name__', fn)}: {e!r}"[:300])
            return None

    # -- session and inputs --------------------------------------------------

    def start_session(self) -> None:
        from cdc_system_spark import get_spark

        local = os.path.join(self.work, "spark-local")
        os.makedirs(local, exist_ok=True)
        t0 = time.perf_counter()
        self.spark = get_spark(
            app_name="perfbench",
            master=f"local[{len(os.sched_getaffinity(0))}]",
            extra_conf={
                "spark.ui.showConsoleProgress": "false",
                "spark.local.dir": local,
                "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={local}",
                "spark.driver.memory": "3g",
            },
        )
        self.session_s = time.perf_counter() - t0
        self.spark.sparkContext.setLogLevel("ERROR")
        self.tracer = Tracer(self.spark.sparkContext)
        self.tracer.enabled = False
        self._undo = install(self.tracer) if self.trace else []

    def stop(self) -> None:
        """Stop the session and wait for its JVM to exit (the JVM ends
        when the pipe to its stdin closes)."""
        from pyspark import SparkContext

        for undo in self._undo:
            undo()
        gateway = SparkContext._gateway
        self.spark.stop()
        if gateway is not None:
            gateway.shutdown()
            gateway.proc.stdin.close()
            gateway.proc.wait(timeout=60)

    def call_frames(self, calls: list[gen.Call]):
        """Materialized DataFrames for each call: ``(rows, old_rows)``."""

        def df(rows):
            data = [
                (k, c, s, p, datetime.fromtimestamp(d, timezone.utc), pr)
                for k, c, s, p, d, pr in rows
            ]
            return self.spark.createDataFrame(data, schema())

        return [(df(c.rows), df(c.old) if c.old is not None else None) for c in calls]

    # -- the system under test ----------------------------------------------

    def build(self, root: str):
        """A fresh CDC system, capture, replica and replicator in ``root``."""
        from cdc_system_spark import CDCConfig
        from cdc_system_spark.api import CDCMonitor, CDCReplicator, CDCSystem, SnapshotTable

        system = CDCSystem(self.spark, root, "orders", CDCConfig(batch_size=BATCH_SIZE))
        cap = system.setup_cdc(schema(), key=gen.KEY)
        target = SnapshotTable(self.spark, os.path.join(root, "replica"), schema())
        repl = CDCReplicator(system, target, key=gen.KEY)
        return system, cap, target, repl, CDCMonitor(system)

    def capture(self, cap, call: gen.Call, frames) -> None:
        new, old = frames
        if call.op == gen.INSERT:
            self.op(cap.capture_insert, new)
        elif call.op == gen.UPDATE:
            self.op(cap.capture_update, new, old)
        else:
            self.op(cap.capture_delete, new)

    def setup(self) -> None:
        """Session, source table, then ``SETUPS`` timed set-ups (load,
        initial capture, initial replicate) in fresh roots; the last
        one carries the run."""
        self.start_session()
        cols = gen.source_columns(self.seed, SOURCE_ROWS)
        src_path = os.path.join(self.work, "source")
        write_source(cols, src_path)
        self.setup_s: list[float] = []
        for i in range(SETUPS):
            root = os.path.join(self.work, f"cdc{i}")
            t0 = time.perf_counter()
            system, cap, target, repl, monitor = self.build(root)
            self.op(cap.capture_insert, self.spark.read.parquet(src_path))
            n = self.op(repl.replicate_changes)
            self.setup_s.append(time.perf_counter() - t0)
            self.check(n == SOURCE_ROWS, f"initial replicate applied {n}")
            if i < SETUPS - 1:
                shutil.rmtree(root, ignore_errors=True)
        self.root = root
        self.system, self.cap, self.target, self.repl, self.monitor = (
            system, cap, target, repl, monitor,
        )
        state = {r[0]: r for r in gen.rows_of(cols)}
        self.gen = gen.Generator(self.seed, state, SPECS[self.workload])
        if self.workload == "log_reads":
            self.capture_tail()

    # -- log_reads tail ------------------------------------------------------

    def capture_tail(self) -> None:
        """The small pending tail the read requests see, on top of the
        synced inserts of the set-up."""
        self.history = {gen.INSERT: SOURCE_ROWS, gen.UPDATE: 0, gen.DELETE: 0}
        calls = self.gen.next_round()
        for call, frames in zip(calls, self.call_frames(calls)):
            self.capture(self.cap, call, frames)
        self.tail = calls
        self.gen.commit(calls)
        # versions per key in the log: the insert, plus one per tail
        # insert/update
        self.versions = dict.fromkeys(range(SOURCE_ROWS), 1)
        for c in calls:
            if c.op != gen.DELETE:
                for r in c.rows:
                    self.versions[r[0]] = self.versions.get(r[0], 0) + 1
        upd = calls[0]
        self.expect_poll = sorted(upd.rows)[:POLL_LIMIT]
        rng = np.random.default_rng(self.seed + 11)
        # half the probes have a pending version, half only synced ones
        hot = [r[0] for r in upd.rows if r[0] in self.gen.state]
        touched = {r[0] for c in calls for r in c.rows}
        cold = [
            k
            for k in rng.choice(SOURCE_ROWS, 4 * ASOF_PROBES, replace=False).tolist()
            if k in self.gen.state and k not in touched
        ]
        self.probes = sorted(hot[: ASOF_PROBES // 2] + cold[: ASOF_PROBES // 2])

    # -- units ---------------------------------------------------------------

    def sync_round(self) -> Sample:
        calls = self.gen.next_round()
        frames = self.call_frames(calls)
        n_changes = gen.round_changes(calls)
        current = os.path.join(self.target.path, "_CURRENT")
        start_wall = time.time()
        t0 = time.perf_counter()
        cap_s = []
        for call, fr in zip(calls, frames):
            c0 = time.perf_counter()
            self.capture(self.cap, call, fr)
            cap_s.append(time.perf_counter() - c0)
        n = self.op(self.repl.replicate_changes)
        end = time.perf_counter()
        # the replica version that holds the round commits when
        # _CURRENT flips; the replicator keeps working after that
        commit = os.stat(current).st_mtime - start_wall
        sync_s = commit if 0 < commit <= end - t0 else end - t0
        self.check(n == n_changes, f"round applied {n} of {n_changes}")
        self.gen.commit(calls)
        return Sample([sync_s], end - t0, n_changes, cap_s)

    def read_cycle(self) -> Sample:
        """One of each read request, each materialized and checked."""
        probes_df = self.spark.createDataFrame(
            [(k, datetime.now(timezone.utc)) for k in self.probes],
            "record_id long, ts timestamp",
        )
        lat = []
        for kind, fn in (
            ("poll", self.req_poll),
            ("health", self.req_health),
            ("lag", self.req_lag),
            ("stats", self.req_stats),
            ("asof", lambda: self.req_asof(probes_df)),
        ):
            with self.tracer.span(f"request.{kind}"):
                t0 = time.perf_counter()
                out = self.op(fn)
                lat.append(time.perf_counter() - t0)
            self.read_s.setdefault(kind, []).append(lat[-1])
            self.check_read(kind, out)
        return Sample([sum(lat)], sum(lat), len(lat))

    def req_poll(self):
        from pyspark.sql import functions as F

        return (
            self.system.get_pending_changes(limit=POLL_LIMIT)
            .select("cdc_id", "operation", "record_id", F.col("new.o_totalprice").alias("p"))
            .collect()
        )

    def req_health(self):
        return self.monitor.get_health_report()

    def req_lag(self):
        return self.monitor.get_replication_lag()

    def req_stats(self):
        return self.system.get_change_statistics()

    def req_asof(self, probes_df):
        from pyspark.sql import functions as F

        from cdc_system_spark.operators import scd

        log = self.system.read_log().filter(F.col("record_id").isin(self.probes))
        hist = scd.scd2_from_log(log)
        return scd.asof_lookup(hist, probes_df).select(
            "record_id", "version", F.get_json_object("payload", "$.o_totalprice").alias("p")
        ).collect()

    def expected_stats(self) -> dict[str, dict[str, int]]:
        out = {}
        for op, synced in self.history.items():
            pending = sum(len(c.rows) for c in self.tail if c.op == op)
            if synced + pending:
                out[op] = {"total": synced + pending, "pending": pending, "synced": synced}
        return out

    def check_read(self, kind: str, out) -> None:
        if out is None:
            return
        exp = self.expected_stats()
        pending = sum(s["pending"] for s in exp.values())
        total = sum(s["total"] for s in exp.values())
        if kind == "poll":
            ids = [r["cdc_id"] for r in out]
            bases = {r["cdc_id"] - r["record_id"] for r in out}
            got = [(r["record_id"], r["operation"], r["p"]) for r in out]
            want = [(r[0], gen.UPDATE, r[3]) for r in self.expect_poll]
            self.check(got == want and ids == sorted(set(ids)) and len(bases) == 1, "pending poll")
        elif kind == "health":
            self.check(
                out["statistics"] == exp
                and (out["total_changes"], out["pending_changes"]) == (total, pending),
                "health report",
            )
        elif kind == "lag":
            self.check(
                out["pending_changes"] == pending and out["last_sync_lag_s"] is not None,
                "replication lag",
            )
        elif kind == "stats":
            self.check(out == exp, "change statistics")
        else:
            got = sorted((r["record_id"], r["version"], float(r["p"])) for r in out)
            want = [(k, self.versions[k], self.gen.state[k][3]) for k in self.probes]
            self.check(got == want, "as-of lookup")

    # -- replica check -------------------------------------------------------

    def check_replica(self) -> None:
        from pyspark.sql import functions as F

        t = (
            self.target.read()
            .withColumn("o_orderdate", F.unix_seconds("o_orderdate"))
            .toArrow()
            .to_pydict()
        )
        got = list(zip(*(t[c] for c in gen.COLUMNS)))
        want = self.gen.state
        ok = len(got) == len(want) and all(want.get(r[0]) == r for r in got)
        self.check(ok, f"replica ({len(got)} rows, oracle {len(want)})")

    # -- per-layer observations ----------------------------------------------

    def log_rows(self) -> int:
        return pads.dataset(self.cap.path, format="parquet").count_rows()

    def log_stats(self) -> dict[str, float]:
        """Change-log size and backlog, read with pyarrow outside timers."""
        nbytes, files = disk_bytes(self.cap.path)
        synced = pads.dataset(self.cap.path, format="parquet").to_table(columns=["synced"])
        n = synced.num_rows
        pending = n - int(np.count_nonzero(synced.column("synced").to_numpy(zero_copy_only=False)))
        return {
            "changelog.pending_rows": pending,
            "changelog.log_rows": n,
            "changelog.log_files": files,
            "changelog.log_mb": nbytes / 1e6,
        }

    # -- the run -------------------------------------------------------------

    def timed_units(self) -> int:
        return max(1, round(self.seconds / UNIT_S[self.workload]))

    def unit(self) -> Sample:
        return self.read_cycle() if self.workload == "log_reads" else self.sync_round()

    def run(self) -> None:
        t0 = time.perf_counter()
        self.setup()
        t1 = time.perf_counter()
        for _ in range(WARMUP_UNITS[self.workload]):
            self.unit()
        self.read_s.clear()
        t2 = time.perf_counter()
        replica_path = self.target.path
        # a traced run alternates untraced and traced units, so the
        # tracing overhead is measured inside the run
        for u in range(self.timed_units()):
            traced = self.trace and u % 2 == 1
            self.tracer.unit, self.tracer.enabled = u, traced
            self.tracer.counts.clear()
            self.tracer.untimed_s = 0.0
            if self.trace:
                disk0, rows0 = disk_bytes(replica_path)[0], self.log_rows()
            s = self.unit()
            self.tracer.enabled = False
            s.traced = traced
            if self.trace:
                s.busy_s -= self.tracer.untimed_s
                s.layer.update(self.log_stats(), **self.tracer.counts)
                s.layer["capture.rows"] = s.layer["changelog.log_rows"] - rows0
                s.layer["snapshot.mb_written"] = (disk_bytes(replica_path)[0] - disk0) / 1e6
            self.samples.append(s)
        t3 = time.perf_counter()
        self.disk_mb_end = disk_bytes(self.root)[0] / 1e6
        self.n_versions = len(self.target.list_versions())
        if self.workload != "log_reads":
            self.check_replica()
        self.phases = {
            "session_s": self.session_s,
            "setups_s": self.setup_s,
            "setup_phase_s": t1 - t0,
            "warmup_s": t2 - t1,
            "timed_s": t3 - t2,
            "check_s": time.perf_counter() - t3,
            "unit_s": [round(x.busy_s, 3) for x in self.samples],
            "op_s": [round(x, 3) for s in self.samples for x in s.latency_s],
        }

    # -- metrics -------------------------------------------------------------

    def end_to_end(self) -> dict[str, tuple[float, str]]:
        lat = [x for s in self.samples for x in s.latency_s]
        t, pct = stats.tail(lat)
        self.notes.append(f"op_tail_s is p{pct} of {len(lat)} samples")
        return {
            "setup_s": (self.session_s + stats.median(self.setup_s), "s"),
            "op_p50_s": (stats.median(lat), "s"),
            "op_tail_s": (t, "s"),
            "throughput_per_s": (stats.median([s.work / s.busy_s for s in self.samples]), "1/s"),
            "disk_mb_end": (self.disk_mb_end, "MB"),
        }

    def detail(self) -> dict[str, float]:
        """Per-kind latencies of the untraced run, for the summary line."""
        cap = [x for s in self.samples for x in s.capture_s]
        out = {
            "units": len(self.samples),
            "failed_frac": self.failed / max(self.attempted, 1),
            **self.phases,
        }
        if cap:
            t, pct = stats.tail(cap)
            out.update(capture_p50_s=stats.median(cap), capture_tail_s=t, capture_tail_pct=pct)
        if self.workload == "log_reads":
            out["read_p50_s_by_kind"] = {k: stats.median(v) for k, v in self.read_s.items()}
        return out

    def per_layer(self) -> dict[str, tuple[float, str]]:
        traced = [s for s in self.samples if s.traced]
        units = [u for u, s in enumerate(self.samples) if s.traced]

        def span_median(prefix, value):
            """Median over traced units of the per-unit span total."""
            totals = per_unit(self.tracer.spans, units, prefix, value)
            return statistics.median(totals) if totals else 0.0

        def obs(name):
            """Median over traced units of a value observed outside spans."""
            vals = [s.layer.get(name, 0.0) for s in traced]
            return statistics.median(vals) if vals else 0.0

        def one(_span):
            return 1

        dur, selft = attrgetter("dur"), attrgetter("self_s")
        jobs, tasks = attrgetter("all_jobs"), attrgetter("all_tasks")
        in_rows, net_rows = obs("merge.in_rows"), obs("merge.net_rows")
        m = {
            "session.start_s": (self.session_s, "s"),
            "capture.calls": (span_median("capture.", one), "count"),
            "capture.rows": (obs("capture.rows"), "count"),
            "capture.busy_s": (span_median("capture.", dur), "s"),
            "capture.jobs": (span_median("capture.", jobs), "count"),
            "capture.tasks": (span_median("capture.", tasks), "count"),
            "changelog.zone_refresh_s": (span_median("changelog.zone_refresh", dur), "s"),
            "changelog.poll_s": (span_median("request.poll", dur), "s"),
            "changelog.poll_jobs": (span_median("request.poll", jobs), "count"),
            "replicator.busy_s": (span_median("replicator.", dur), "s"),
            "replicator.self_s": (span_median("replicator.", selft), "s"),
            "replicator.jobs": (span_median("replicator.", jobs), "count"),
            "replicator.tasks": (span_median("replicator.", tasks), "count"),
            "merge.busy_s": (span_median("merge.", dur), "s"),
            "merge.jobs": (span_median("merge.", jobs), "count"),
            "merge.in_rows": (in_rows, "count"),
            "merge.net_rows": (net_rows, "count"),
            "merge.net_ratio": (net_rows / in_rows if in_rows else 0.0, "ratio"),
            "snapshot.write_s": (span_median("snapshot.write", dur), "s"),
            "snapshot.read_s": (span_median("snapshot.read", dur), "s"),
            "snapshot.mb_written": (obs("snapshot.mb_written"), "MB"),
            "snapshot.versions": (self.n_versions, "count"),
            "monitor.health_s": (span_median("request.health", dur), "s"),
            "monitor.lag_s": (span_median("request.lag", dur), "s"),
            "monitor.stats_s": (span_median("request.stats", dur), "s"),
            "monitor.jobs": (
                sum(span_median(f"request.{k}", jobs) for k in ("health", "lag", "stats")),
                "count",
            ),
            "scd.asof_s": (span_median("request.asof", dur), "s"),
            "scd.jobs": (span_median("request.asof", jobs), "count"),
        }
        for name in ("pending_rows", "log_rows", "log_files", "log_mb"):
            m[f"changelog.{name}"] = (obs(f"changelog.{name}"), "MB" if name == "log_mb" else "count")
        on = [s.busy_s for s in self.samples if s.traced]
        off = [s.busy_s for s in self.samples if not s.traced]
        m["trace.overhead_frac"] = (
            statistics.median(on) / statistics.median(off) - 1 if on and off else 0.0,
            "ratio",
        )
        self.notes.append("lazy spans (planning only): " + ", ".join(lazy_span_names()))
        return m
