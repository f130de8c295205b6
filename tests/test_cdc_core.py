"""Core CDC path tests — port of the reference's 9 test intents
(test_cdc_system.py, SURVEY §5.1) to the Spark engine."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from cdc_system_spark.api import CDCMonitor, CDCReplicator, CDCSystem, SnapshotTable
from cdc_system_spark.config import CDCConfig
from cdc_system_spark.operators.changelog import change_statistics, pending_changes

TEST_SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType(), False),
        T.StructField("name", T.StringType(), True),
        T.StructField("value", T.LongType(), True),
    ]
)


@pytest.fixture()
def system(spark, tmp_path):
    sys = CDCSystem(spark, str(tmp_path), "test_table")
    sys.setup_cdc(TEST_SCHEMA, key="id")
    return sys


def _rows(spark, rows):
    return spark.createDataFrame(rows, TEST_SCHEMA)


def test_cdc_setup(system, tmp_path):
    # ≅ test_cdc_setup (test_cdc_system.py:38-48): the audit log exists (empty)
    assert system.read_log().count() == 0
    assert system.capture.path.endswith("test_table_cdc")


def test_insert_capture(spark, system):
    # ≅ test_insert_capture (test_cdc_system.py:50-64)
    system.capture.capture_insert(_rows(spark, [(1, "test1", 100)]))
    changes = system.get_pending_changes().collect()
    assert len(changes) == 1
    assert changes[0]["operation"] == "INSERT"
    assert changes[0]["new"]["name"] == "test1"
    assert changes[0]["old_data"] is None


def test_update_capture(spark, system):
    # ≅ test_update_capture (test_cdc_system.py:66-84)
    system.capture.capture_insert(_rows(spark, [(1, "test1", 100)]))
    system.capture.capture_update(
        _rows(spark, [(1, "test1", 200)]), _rows(spark, [(1, "test1", 100)])
    )
    changes = system.get_pending_changes().collect()
    assert [c["operation"] for c in changes] == ["INSERT", "UPDATE"]
    upd = changes[1]
    assert upd["old"]["value"] == 100
    assert upd["new"]["value"] == 200


def test_delete_capture(spark, system):
    # ≅ test_delete_capture (test_cdc_system.py:86-103)
    system.capture.capture_insert(_rows(spark, [(1, "test1", 100)]))
    system.capture.capture_delete(_rows(spark, [(1, "test1", 100)]))
    changes = system.get_pending_changes().collect()
    assert changes[-1]["operation"] == "DELETE"
    assert changes[-1]["old"]["name"] == "test1"
    assert changes[-1]["new_data"] is None


def test_mark_as_synced(spark, system, tmp_path):
    # ≅ test_mark_as_synced (test_cdc_system.py:105-121)
    system.capture.capture_insert(_rows(spark, [(1, "a", 1), (2, "b", 2)]))
    target = SnapshotTable(spark, str(tmp_path / "target"), TEST_SCHEMA)
    rep = CDCReplicator(system, target)
    rep.replicate_changes()
    assert system.get_pending_changes().count() == 0


def test_replication(spark, system, tmp_path):
    # ≅ test_replication (test_cdc_system.py:123-170)
    system.capture.capture_insert(_rows(spark, [(1, "test1", 100)]))
    target = SnapshotTable(spark, str(tmp_path / "target"), TEST_SCHEMA)
    n = CDCReplicator(system, target).replicate_changes()
    assert n == 1
    out = target.read().collect()
    assert len(out) == 1 and out[0]["name"] == "test1"


def test_statistics(spark, system):
    # ≅ test_statistics (test_cdc_system.py:172-198): INSERT 2, UPDATE 1, DELETE 1
    system.capture.capture_insert(_rows(spark, [(1, "a", 1), (2, "b", 2)]))
    system.capture.capture_update(_rows(spark, [(1, "a", 9)]), _rows(spark, [(1, "a", 1)]))
    system.capture.capture_delete(_rows(spark, [(2, "b", 2)]))
    stats = system.get_change_statistics()
    assert stats["INSERT"]["total"] == 2
    assert stats["UPDATE"]["total"] == 1
    assert stats["DELETE"]["total"] == 1
    assert stats["INSERT"]["pending"] == 2


def test_health_report(spark, system):
    # ≅ TestCDCMonitor.test_health_report (test_cdc_system.py:201-240)
    system.capture.capture_insert(_rows(spark, [(1, "a", 1)]))
    report = CDCMonitor(system).get_health_report()
    assert report["health_status"] == "healthy"
    assert report["pending_changes"] > 0
    assert set(report["statistics"]) == {"INSERT"}


def test_full_cdc_workflow(spark, system, tmp_path):
    # ≅ test_full_cdc_workflow (test_cdc_system.py:244-318): inserts then an
    # update replicate correctly; demo invariant replica = inserts − deletes
    # (shipped source.db/target.db ground truth, SURVEY §5.2).
    system.capture.capture_insert(
        _rows(spark, [(i, f"user{i}", i * 10) for i in range(1, 11)])
    )
    system.capture.capture_update(
        _rows(spark, [(i, f"user{i}", 999) for i in range(1, 6)]),
        _rows(spark, [(i, f"user{i}", i * 10) for i in range(1, 6)]),
    )
    system.capture.capture_delete(_rows(spark, [(9, "user9", 90), (10, "user10", 100)]))

    target = SnapshotTable(spark, str(tmp_path / "replica"), TEST_SCHEMA)
    rep = CDCReplicator(system, target)
    total = 0
    while True:
        n = rep.replicate_changes(batch_size=6)
        if n == 0:
            break
        total += n
    assert total == 17
    result = {r["id"]: r for r in target.read().collect()}
    assert len(result) == 8  # 10 inserts − 2 deletes
    assert result[1]["value"] == 999  # update propagated
    assert 9 not in result and 10 not in result


def test_pending_changes_order_and_limit(spark, system):
    # reference hot query: WHERE synced=0 ORDER BY cdc_id LIMIT n
    system.capture.capture_insert(_rows(spark, [(i, f"u{i}", i) for i in range(1, 8)]))
    got = pending_changes(system.read_log(), limit=3).collect()
    assert len(got) == 3
    ids = [r["cdc_id"] for r in got]
    assert ids == sorted(ids)


def test_replicate_retries_transient_write_failure(spark, tmp_path):
    """CDC_MAX_RETRIES/CDC_RETRY_DELAY are real here (the reference
    declares them, config.py:35-36, but never reads them)."""
    from pyspark.sql import types as T

    from cdc_system_spark.api import CDCReplicator, CDCSystem, SnapshotTable
    from cdc_system_spark.config import CDCConfig

    schema = T.StructType(
        [T.StructField("id", T.LongType()), T.StructField("v", T.StringType())]
    )

    class FlakyTable(SnapshotTable):
        def __init__(self, *a, fail_times=2, **kw):
            super().__init__(*a, **kw)
            self.attempts = 0
            self.fail_times = fail_times

        def merge_changes(self, changes, key):
            self.attempts += 1
            if self.attempts <= self.fail_times:
                raise IOError("transient sink outage")
            super().merge_changes(changes, key)

    cfg = CDCConfig(max_retries=3, retry_delay_seconds=0)
    system = CDCSystem(spark, str(tmp_path / "cdc"), "t", cfg)
    cap = system.setup_cdc(schema, key="id")
    cap.capture_insert(spark.createDataFrame([(1, "a"), (2, "b")], schema))
    target = FlakyTable(spark, str(tmp_path / "replica"), schema)
    rep = CDCReplicator(system, target, key="id")
    assert rep.replicate_changes() == 2
    assert target.attempts == 3  # 2 failures + 1 success
    assert target.read().count() == 2
    assert system.get_pending_changes().count() == 0  # marked only after success

    # exhausted retries propagate the error and leave changes pending
    cap.capture_insert(spark.createDataFrame([(3, "c")], schema))
    target2 = FlakyTable(
        spark, str(tmp_path / "replica"), schema, fail_times=99
    )
    rep2 = CDCReplicator(system, target2, key="id")
    import pytest as _pytest

    with _pytest.raises(IOError):
        rep2.replicate_changes()
    assert target2.attempts == cfg.max_retries + 1
    assert system.get_pending_changes().count() == 1  # nothing lost


EVOLVED_SCHEMA = T.StructType(
    TEST_SCHEMA.fields + [T.StructField("email", T.StringType(), True)]
)


def test_schema_evolution_end_to_end(spark, system, tmp_path):
    """Additive evolution mid-stream: pre-evolution rows replicate, the
    schema gains a nullable column, post-evolution captures carry it,
    and one target serves both generations (old rows read as null)."""
    target = SnapshotTable(spark, str(tmp_path / "replica"), TEST_SCHEMA)
    repl = CDCReplicator(system, target, key="id")

    system.capture.capture_insert(_rows(spark, [(1, "old", 100), (2, "old2", 200)]))
    assert repl.replicate_changes() == 2
    (v_before,) = target.list_versions()

    # ALTER TABLE ADD COLUMN email
    system.evolve_schema(EVOLVED_SCHEMA)
    target.evolve(EVOLVED_SCHEMA)

    new_rows = spark.createDataFrame([(3, "new", 300, "a@b.c")], EVOLVED_SCHEMA)
    system.capture.capture_insert(new_rows)
    # an UPDATE backfills the new column on a pre-evolution row
    upd = spark.createDataFrame([(1, "old", 100, "x@y.z")], EVOLVED_SCHEMA)
    system.capture.capture_update(upd, target.read().filter("id = 1"))
    assert repl.replicate_changes() == 2

    got = {r["id"]: (r["name"], r["value"], r["email"]) for r in target.read().collect()}
    assert got == {
        1: ("old", 100, "x@y.z"),    # backfilled by the update
        2: ("old2", 200, None),      # pre-evolution row: padded null
        3: ("new", 300, "a@b.c"),    # post-evolution insert
    }
    # time travel to the pre-evolution version reads in the evolved schema
    before = target.read_version(v_before)
    assert before.columns == EVOLVED_SCHEMA.names
    assert {r["id"]: r["email"] for r in before.collect()} == {1: None, 2: None}
    # old log entries decode under the evolved schema (null email)
    decoded = {
        r["record_id"]: r["new"]["email"]
        for r in system.get_pending_changes(limit=1000).collect()
    }
    assert decoded == {}  # everything synced


def test_snapshot_read_starts_no_spark_job(spark, tmp_path):
    """The replica is read with its declared schema: no schema-inference job."""
    target = SnapshotTable(spark, str(tmp_path / "replica"), TEST_SCHEMA)
    target.write(_rows(spark, [(1, "a", 1), (2, "b", 2)]))
    sc = spark.sparkContext
    sc.setJobGroup("snapshot-read", "SnapshotTable.read")
    try:
        df = target.read()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert list(sc.statusTracker().getJobIdsForGroup("snapshot-read")) == []
    assert df.columns == TEST_SCHEMA.names
    assert sorted(r["id"] for r in df.collect()) == [1, 2]


def test_health_threshold_comes_from_config(spark, tmp_path):
    system = CDCSystem(spark, str(tmp_path), "t", CDCConfig(health_pending_threshold=2))
    system.setup_cdc(TEST_SCHEMA, key="id")
    monitor = CDCMonitor(system)
    system.capture.capture_insert(_rows(spark, [(1, "a", 1)]))
    assert monitor.get_health_report()["health_status"] == "healthy"
    system.capture.capture_insert(_rows(spark, [(2, "b", 2)]))
    report = monitor.get_health_report()
    assert report["pending_changes"] == 2
    assert report["health_status"] == "warning"


def test_schema_evolution_rejects_unsafe_changes(spark, system):
    with pytest.raises(ValueError, match="drop"):
        system.evolve_schema(T.StructType(TEST_SCHEMA.fields[:2]))
    with pytest.raises(ValueError, match="change"):
        changed = T.StructType(
            [
                T.StructField("id", T.LongType(), False),
                T.StructField("name", T.LongType(), True),   # type change
                T.StructField("value", T.LongType(), True),
            ]
        )
        system.evolve_schema(changed)
    with pytest.raises(ValueError, match="nullable"):
        system.evolve_schema(
            T.StructType(
                TEST_SCHEMA.fields + [T.StructField("req", T.StringType(), False)]
            )
        )


def test_time_travel_and_change_feed(spark, system, tmp_path):
    """SnapshotTable versions are committed in order; read_version time
    travels, and changes_between yields the audit change set that
    transforms one version into the next (Delta CDF analogue)."""
    target = SnapshotTable(spark, str(tmp_path / "replica"), TEST_SCHEMA)
    repl = CDCReplicator(system, target, key="id")

    system.capture.capture_insert(_rows(spark, [(1, "a", 10), (2, "b", 20)]))
    repl.replicate_changes()
    system.capture.capture_update(
        _rows(spark, [(1, "a2", 11)]), target.read().filter("id = 1")
    )
    system.capture.capture_delete(_rows(spark, [(2, "b", 20)]))
    system.capture.capture_insert(_rows(spark, [(3, "c", 30)]))
    repl.replicate_changes()

    v1, v2 = target.list_versions()
    assert {r["id"] for r in target.read_version(v1).collect()} == {1, 2}
    assert {r["id"] for r in target.read_version(v2).collect()} == {1, 3}

    feed = {
        r["record_id"]: r["operation"]
        for r in target.changes_between(v1, v2, key="id").collect()
    }
    assert feed == {1: "UPDATE", 2: "DELETE", 3: "INSERT"}

    with pytest.raises(ValueError, match="unknown version"):
        target.read_version("v_nope")
    with pytest.raises(ValueError, match="newer"):
        target.changes_between(v2, v1, key="id")


def test_scd2_replicator_maintains_history(spark, system, tmp_path):
    """The history-sink replicator: two replicate rounds over captured
    changes produce the same SCD2 history as one batch recompute from
    the full log; re-replication with nothing pending is a no-op."""
    from cdc_system_spark.api import SCD2_SCHEMA, SCD2Replicator
    from cdc_system_spark.operators.scd import scd2_from_log

    hist = SnapshotTable(spark, str(tmp_path / "hist"), SCD2_SCHEMA)
    repl = SCD2Replicator(system, hist)

    system.capture.capture_insert(_rows(spark, [(1, "a", 10), (2, "b", 20)]))
    assert repl.replicate_changes() == 2
    system.capture.capture_update(
        _rows(spark, [(1, "a2", 11)]), _rows(spark, [(1, "a", 10)])
    )
    system.capture.capture_delete(_rows(spark, [(2, "b", 20)]))
    assert repl.replicate_changes() == 2
    assert repl.replicate_changes() == 0  # nothing pending

    expected = scd2_from_log(system.read_log())
    key = lambda df: {
        (r["record_id"], r["version"]): (r["valid_to"] is None, r["is_current"])
        for r in df.collect()
    }
    got = key(hist.read())
    assert got == key(expected)
    # key 1: v1 closed, v2 current; key 2: v1 closed by the delete
    assert got[(1, 1)] == (False, False)
    assert got[(1, 2)] == (True, True)
    assert got[(2, 1)] == (False, False)


def test_replication_lag_metrics(spark, system, tmp_path):
    # freshness in EVENT time, not row counts: empty log -> zeros;
    # pending-only -> age grows with capture spread, sync lag unknown;
    # after replication -> nothing pending, sync lag ~0
    import time

    from cdc_system_spark.api import SnapshotTable

    mon = CDCMonitor(system)
    lag0 = mon.get_replication_lag()
    assert lag0 == {
        "pending_changes": 0,
        "oldest_pending_age_s": 0.0,
        "last_sync_lag_s": None,
    }
    system.capture.capture_insert(_rows(spark, [(1, "a", 1)]))
    time.sleep(1.1)
    system.capture.capture_insert(_rows(spark, [(2, "b", 2)]))
    lag1 = mon.get_replication_lag()
    assert lag1["pending_changes"] == 2
    assert lag1["oldest_pending_age_s"] >= 1.0  # capture spread in event time
    assert lag1["last_sync_lag_s"] is None      # nothing ever synced
    target = SnapshotTable(
        spark, str(tmp_path / "lag_replica"), _rows(spark, [(1, "a", 1)]).schema
    )
    CDCReplicator(system, target, key="id").replicate_changes()
    lag2 = mon.get_replication_lag()
    assert lag2["pending_changes"] == 0
    assert lag2["oldest_pending_age_s"] == 0.0
    assert lag2["last_sync_lag_s"] is not None


def _log_files(cap):
    """(name, size, mtime_ns) of every data file of the log."""
    out = set()
    for n in os.listdir(cap.path):
        if n.endswith(".parquet"):
            st = os.stat(os.path.join(cap.path, n))
            out.add((n, st.st_size, st.st_mtime_ns))
    return out


def test_production_poll_is_pruned_by_committed_watermark(spark, system, tmp_path):
    # the replicator's micro-batch poll is `cdc_id > wm` for the
    # committed sync watermark: after a full drain the poll is empty, a
    # fresh capture shows only the tail, rows stay identical to the
    # plain unpruned poll, and the range reaches the parquet scan
    from cdc_system_spark.operators.maintenance import read_pending_pruned

    cap = system.capture
    cap.capture_insert(_rows(spark, [(i, f"u{i}", i) for i in range(1, 9)]))
    assert cap.ledger() == []
    target = SnapshotTable(spark, str(tmp_path / "replica"), TEST_SCHEMA)
    rep = CDCReplicator(system, target)
    files = _log_files(cap)
    assert rep.replicate_changes(batch_size=100) == 8
    # replication touched no file of the log: it committed one entry,
    # the drained prefix's largest cdc_id, to the ledger
    assert _log_files(cap) == files
    (wm, t1), = cap.ledger()
    assert wm == system.read_log().agg(F.max("cdc_id")).first()[0]
    assert system.get_pending_changes().count() == 0

    # a fresh capture shows only the tail
    cap.capture_insert(_rows(spark, [(21, "u21", 21), (22, "u22", 22)]))
    pruned = system.get_pending_changes()
    plain = pending_changes(
        system.read_log(), row_schema=system.registry.schema("test_table")
    )
    key = lambda d: [(r["cdc_id"], r["record_id"]) for r in d.collect()]
    assert key(pruned) == key(plain)
    assert [r[1] for r in key(pruned)] == [21, 22]
    assert all(c > wm for c, _ in key(pruned))
    # the watermark reaches the parquet scan as a pushed cdc_id filter,
    # so files and row groups of the synced prefix are skipped
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan
    assert "cdc_id" in plan.split("PushedFilters")[1][:200]
    # the on-demand zone state over the derived flag prunes to the same rows
    state, geo_lo, geo_hi, nz = cap.refresh_zone_state()
    assert state.agg(F.sum("n_rows")).first()[0] == 10
    zoned = read_pending_pruned(system.read_log(), state, geo_lo, geo_hi, nz)
    assert key(zoned) == key(plain)

    # drain again: rows flowed through the pruned poll, and each change
    # carries the time of the first commit that covered it
    assert rep.replicate_changes(batch_size=100) == 2
    assert {r["id"] for r in target.read().collect()} == set(
        list(range(1, 9)) + [21, 22]
    )
    (_, t1b), (wm2, t2) = cap.ledger()
    assert t1b == t1 and wm2 > wm and t2 >= t1
    got = {
        r["record_id"]: (r["synced"], r["sync_timestamp"])
        for r in system.read_log().collect()
    }
    strip = lambda t: t.astimezone().replace(tzinfo=None)  # as collect() returns
    assert got == {
        **{i: (True, strip(t1)) for i in range(1, 9)},
        21: (True, strip(t2)),
        22: (True, strip(t2)),
    }


def test_pruned_poll_invariant_under_random_op_sequences(spark, system, tmp_path):
    # property: after ANY interleaving of captures (insert/update/
    # delete) and partial replications, the pruned production poll
    # returns exactly the plain poll's rows — the zone state is
    # maintained by capture (superset-before-append) and refreshed by
    # replicate, so no sequence may leave it under-covering. Fixed
    # seed, bounded ops (suite budget); drives the REAL api path.
    import random

    rng = random.Random(20260816)
    target = SnapshotTable(spark, str(tmp_path / "replica"), TEST_SCHEMA)
    rep = CDCReplicator(system, target)
    live = {}
    next_id = 1
    for step in range(7):
        op = rng.choice(["insert", "insert", "update", "delete", "replicate"])
        if op == "insert":
            rows = [(next_id + i, f"u{next_id + i}", (next_id + i) * 3)
                    for i in range(rng.randint(1, 4))]
            next_id += len(rows)
            system.capture.capture_insert(_rows(spark, rows))
            live.update({r[0]: r for r in rows})
        elif op == "update" and live:
            k = rng.choice(sorted(live))
            old = live[k]
            new = (k, old[1], old[2] + 1000)
            system.capture.capture_update(_rows(spark, [new]), _rows(spark, [old]))
            live[k] = new
        elif op == "delete" and live:
            k = rng.choice(sorted(live))
            system.capture.capture_delete(_rows(spark, [live.pop(k)]))
        elif op == "replicate":
            rep.replicate_changes(batch_size=rng.randint(1, 5))
        pruned = system.get_pending_changes()
        plain = pending_changes(
            system.read_log(),
            row_schema=system.registry.schema("test_table"),
        )
        key = lambda d: [(r["cdc_id"], r["operation"], r["record_id"])
                         for r in d.collect()]
        assert key(pruned) == key(plain), f"step {step} ({op})"
    # drain fully: the replica must equal the surviving net state
    while rep.replicate_changes(batch_size=100):
        pass
    assert {r["id"]: r["value"] for r in target.read().collect()} == {
        k: v[2] for k, v in live.items()
    }
    assert system.get_pending_changes().count() == 0


def test_second_instance_sees_fresh_zone_state(spark, tmp_path):
    # r10 advisor: a reader instance whose zone cache was bootstrapped
    # BEFORE another instance appended must not prune with the stale
    # state (zones missing for the new rows) — the cache is keyed by
    # the zones file's mtime, so the writer's os.replace invalidates it
    writer = CDCSystem(spark, str(tmp_path), "test_table")
    writer.setup_cdc(TEST_SCHEMA, key="id")
    reader = CDCSystem(spark, str(tmp_path), "test_table")
    reader.setup_cdc(TEST_SCHEMA, key="id")

    writer.capture.capture_insert(_rows(spark, [(1, "a", 10)]))
    # bootstrap the reader's cache from the current state
    assert reader.get_pending_changes().count() == 1
    # another instance appends; the reader's cached state is now stale
    writer.capture.capture_insert(_rows(spark, [(2, "b", 20), (3, "c", 30)]))
    pruned = reader.get_pending_changes()
    plain = pending_changes(
        reader.read_log(), row_schema=reader.registry.schema("test_table")
    )
    key = lambda d: [(r["cdc_id"], r["record_id"]) for r in d.collect()]
    assert key(pruned) == key(plain)
    assert [r[1] for r in key(pruned)] == [1, 2, 3]


def test_restart_in_same_second_allocates_above_the_watermark(
    spark, tmp_path, monkeypatch
):
    # a restarted capture (a fresh LogCapture over the same log) within
    # the same second must allocate ids above every id in the log — at
    # or below the committed watermark its changes would read as synced
    from types import SimpleNamespace

    from cdc_system_spark.operators import capture as capture_mod

    monkeypatch.setattr(
        capture_mod, "time", SimpleNamespace(time=lambda: 1_700_000_000.0)
    )
    first = CDCSystem(spark, str(tmp_path), "test_table")
    first.setup_cdc(TEST_SCHEMA, key="id")
    first.capture.capture_insert(_rows(spark, [(5, "a", 1), (7, "b", 2)]))
    first.capture.capture_insert(_rows(spark, [(6, "c", 3)]))
    target = SnapshotTable(spark, str(tmp_path / "replica"), TEST_SCHEMA)
    assert CDCReplicator(first, target).replicate_changes() == 3
    before = max(r["cdc_id"] for r in first.read_log().collect())

    restarted = CDCSystem(spark, str(tmp_path), "test_table")
    restarted.setup_cdc(TEST_SCHEMA, key="id")
    restarted.capture.capture_update(
        _rows(spark, [(5, "a2", 10)]), _rows(spark, [(5, "a", 1)])
    )
    restarted.capture.capture_insert(_rows(spark, [(1, "d", 4)]))
    pending = restarted.get_pending_changes().collect()
    assert [(r["operation"], r["record_id"]) for r in pending] == [
        ("UPDATE", 5),
        ("INSERT", 1),
    ]
    assert min(r["cdc_id"] for r in pending) > before
    ids = [r["cdc_id"] for r in restarted.read_log().collect()]
    assert len(ids) == len(set(ids)) == 5
    assert CDCReplicator(restarted, target).replicate_changes() == 2
    assert {r["id"]: r["value"] for r in target.read().collect()} == {
        1: 4, 5: 10, 6: 3, 7: 2,
    }


@pytest.mark.parametrize("bad_key", [-1, 1_000_000_000])
def test_capture_rejects_keys_outside_the_id_range(spark, system, bad_key):
    # cdc_id = epoch * 1e9 + key: a key outside [0, 1e9) would collide
    # with, or sort before, another call's ids — the write fails and
    # commits no file
    cap = system.capture
    cap.capture_insert(_rows(spark, [(1, "a", 1)]))
    files = _log_files(cap)
    with pytest.raises(Exception, match="outside"):
        cap.capture_insert(_rows(spark, [(2, "b", 2), (bad_key, "x", 0)]))
    assert _log_files(cap) == files
    assert [r["record_id"] for r in system.get_pending_changes().collect()] == [1]


def test_health_report_raises_on_a_corrupt_log(spark, system):
    # an unreadable log must fail loudly, never read as "0 pending"
    cap = system.capture
    cap.capture_insert(_rows(spark, [(i, f"u{i}", i) for i in range(1, 9)]))
    for name, size, _ in _log_files(cap):
        os.truncate(os.path.join(cap.path, name), size // 2)
    with pytest.raises(Exception):
        CDCMonitor(system).get_health_report()


def _capture(spark, cap, op, rows, live):
    """One capture call; ``live`` (key -> image) is the tracked table,
    which gives UPDATE its old images."""
    from perfbench.gen import replay

    df = _rows(spark, rows)
    if op == "INSERT":
        cap.capture_insert(df)
    elif op == "UPDATE":
        cap.capture_update(df, _rows(spark, [live[r[0]] for r in rows if r[0] in live]))
    else:
        cap.capture_delete(df)
    replay(live, [(op, r[0], r) for r in rows])


def _oracle(calls):
    """The benchmark's sequential-replay oracle over ``(op, rows)`` calls."""
    from perfbench.gen import replay

    return replay({}, [(op, r[0], r) for op, rows in calls for r in rows])


def _replica(target):
    return {r["id"]: tuple(r) for r in target.read().collect()}


def test_crash_before_the_watermark_commit_redelivers_the_batch(
    spark, system, tmp_path
):
    # fault injection: replicate_changes dies after the replica version
    # lands and before the ledger commit. The re-run re-delivers the
    # same batch into the idempotent merge; the replica converges to the
    # sequential replay, and every change is committed exactly once
    calls = [
        ("INSERT", [(i, f"u{i}", i) for i in range(1, 9)]),
        ("UPDATE", [(2, "u2", 200), (7, "u7", 700), (50, "gone", 5)]),
        ("DELETE", [(3, "u3", 3), (8, "u8", 8)]),
        ("INSERT", [(3, "again", 33)]),
    ]
    cap, live = system.capture, {}
    for op, rows in calls:
        _capture(spark, cap, op, rows, live)
    target = SnapshotTable(spark, str(tmp_path / "replica"), TEST_SCHEMA)
    rep = CDCReplicator(system, target)

    crashed = []

    def crash(wm):
        crashed.append(wm)
        raise RuntimeError("crash before the watermark commit")

    cap.commit_watermark = crash
    with pytest.raises(RuntimeError, match="crash"):
        rep.replicate_changes(batch_size=5)
    del cap.commit_watermark
    assert len(target.list_versions()) == 1  # the replica version landed
    assert cap.ledger() == []
    assert system.get_pending_changes().count() == 14  # nothing marked

    applied = []
    while n := rep.replicate_changes(batch_size=5):
        applied.append(n)
    assert applied == [5, 5, 4]
    wms = [wm for wm, _ in cap.ledger()]
    assert wms[0] == crashed[0]  # the crashed batch, re-delivered
    assert wms == sorted(set(wms))
    assert wms[-1] == max(r["cdc_id"] for r in system.read_log().collect())
    assert _replica(target) == _oracle(calls)


def test_capture_during_replication_is_neither_lost_nor_applied_twice(
    spark, system, tmp_path
):
    # fault injection: captures land while a round is between its poll
    # and its watermark commit. Their ids are above the polled batch, so
    # the commit leaves them pending and the next round applies them
    cap, live = system.capture, {}
    before = [
        ("INSERT", [(i, f"u{i}", i) for i in range(1, 6)]),
        ("UPDATE", [(1, "u1", 100)]),
    ]
    during = [
        ("UPDATE", [(2, "u2", 200), (1, "u1", 111)]),
        ("DELETE", [(5, "u5", 5)]),
        ("INSERT", [(9, "u9", 9), (4, "u4b", 44)]),
    ]
    for op, rows in before:
        _capture(spark, cap, op, rows, live)

    class CapturingTable(SnapshotTable):
        in_flight = list(during)
        in_delta: list = []

        def write(self, df, meta=None):
            while self.in_flight:
                _capture(spark, cap, *self.in_flight.pop(0), live)
            super().write(df, meta)

        def merge_changes(self, changes, key):
            while self.in_delta:
                _capture(spark, cap, *self.in_delta.pop(0), live)
            super().merge_changes(changes, key)

    target = CapturingTable(spark, str(tmp_path / "replica"), TEST_SCHEMA)
    rep = CDCReplicator(system, target)
    assert rep.replicate_changes() == 6
    assert _replica(target) == _oracle(before)
    assert system.get_pending_changes().count() == 5
    assert rep.replicate_changes() == 5
    assert rep.replicate_changes() == 0
    assert _replica(target) == _oracle(before + during)

    # captures that land inside a delta commit: the capture refreshes
    # the cached poll, yet the delta holds exactly the polled changes
    bulk = ("INSERT", [(k, f"u{k}", k) for k in range(100, 300)])
    _capture(spark, cap, *bulk, live)
    assert rep.replicate_changes(batch_size=1000) == 200
    assert target._chain().deltas == ()  # compacted: a 200-row base
    polled = ("DELETE", [(9, "u9", 9)])
    later = [("UPDATE", [(4, "u4c", 4)]), ("INSERT", [(9, "u9b", 99)])]
    _capture(spark, cap, *polled, live)
    target.in_delta = list(later)
    assert rep.replicate_changes() == 1
    assert system.get_pending_changes().count() == 2
    assert rep.replicate_changes() == 2
    assert rep.replicate_changes() == 0
    assert _replica(target) == _oracle(before + during + [bulk, polled] + later)
    import pyarrow.parquet as pq

    deltas = target._chain().deltas
    in_deltas = sorted(
        i for d in deltas for i in pq.read_table(os.path.join(target.path, d)).column("cdc_id").to_pylist()
    )
    log_ids = sorted(r["cdc_id"] for r in system.read_log().collect())
    assert len(deltas) == 2 and in_deltas == log_ids[-3:]


# -- the monitor's capture manifest -------------------------------------------


def _monitor_answers(system):
    """Change statistics, health report (without its timestamp) and lag."""
    health = CDCMonitor(system).get_health_report()
    del health["timestamp"]
    return system.get_change_statistics(), health, CDCMonitor(system).get_replication_lag()


def _scanned_answers(system):
    """The same three answers from aggregates over the whole derived log:
    the rollup the health report ran before the manifest, and the
    four-way lag aggregate."""
    from cdc_system_spark.operators.changelog import change_statistics_rollup

    log = system.read_log()
    rows = change_statistics_rollup(log).collect()
    stats = {
        r["operation"]: {"total": r["count"], "pending": r["pending"], "synced": r["synced"]}
        for r in rows
        if r["operation"] is not None
    }
    total = sum(s["total"] for s in stats.values())
    pending = sum(s["pending"] for s in stats.values())
    health = {
        "total_changes": total,
        "pending_changes": pending,
        "synced_changes": total - pending,
        "statistics": stats,
        "health_status": "healthy"
        if pending < system.config.health_pending_threshold
        else "warning",
    }
    is_pending = ~F.col("synced")
    r = log.agg(
        F.max("changed_at").alias("newest"),
        F.min(F.when(is_pending, F.col("changed_at"))).alias("oldest_pending"),
        F.max(F.when(~is_pending, F.col("sync_timestamp"))).alias("last_sync"),
    ).first()
    since = lambda t: (
        (r["newest"] - t).total_seconds() if r["newest"] is not None and t is not None else None
    )
    lag = {
        "pending_changes": pending,
        "oldest_pending_age_s": since(r["oldest_pending"]) or 0.0,
        "last_sync_lag_s": since(r["last_sync"]),
    }
    return stats, health, lag


def _jobs_of(spark, group, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return out, list(sc.statusTracker().getJobIdsForGroup(group))


def test_monitor_answers_from_the_manifest_with_no_spark_job(spark, system, tmp_path):
    cap = system.capture
    cap.capture_insert(_rows(spark, [(i, f"u{i}", i) for i in range(1, 7)]))
    cap.capture_update(_rows(spark, [(2, "u2", 20)]), _rows(spark, [(2, "u2", 2)]))
    target = SnapshotTable(spark, str(tmp_path / "replica"), TEST_SCHEMA)
    assert CDCReplicator(system, target).replicate_changes() == 7
    cap.capture_delete(_rows(spark, [(3, "u3", 3), (4, "u4", 4)]))
    cap.capture_insert(_rows(spark, [(9, "u9", 9)]))

    # one line per capture call, naming the files the call added
    entries = cap.manifest()
    assert [(e.op, e.rows) for e in entries] == [
        ("INSERT", 6), ("UPDATE", 1), ("DELETE", 2), ("INSERT", 1),
    ]
    named = {n for e in entries for n in e.files}
    assert named == set(cap.data_files()) == {n for n, _, _ in _log_files(cap)}

    answers, jobs = _jobs_of(spark, "monitor-manifest", lambda: _monitor_answers(system))
    assert jobs == []
    assert answers == _scanned_answers(system)
    assert answers[0] == {
        "INSERT": {"total": 7, "pending": 1, "synced": 6},
        "UPDATE": {"total": 1, "pending": 0, "synced": 1},
        "DELETE": {"total": 2, "pending": 2, "synced": 0},
    }


def test_monitor_counts_a_data_file_that_no_manifest_line_names(spark, system, caplog):
    # a failed manifest commit (as a crash between the data write and
    # the commit) leaves an orphan file; the directory listing decides
    # membership, so the poll sees its rows and the monitor counts them
    # too. The capture itself landed, so it does not raise: a caller
    # that retried it would capture the change twice
    cap = system.capture
    cap.capture_insert(_rows(spark, [(1, "a", 1), (2, "b", 2)]))

    def crash(entry):
        raise OSError("no space left before the manifest commit")

    cap._commit_entry = crash
    with caplog.at_level("WARNING", logger="cdc_system_spark.operators.capture"):
        cap.capture_update(_rows(spark, [(1, "a", 10)]), _rows(spark, [(1, "a", 1)]))
    del cap._commit_entry
    assert "manifest line was not committed" in caplog.text
    assert len(cap.manifest()) == 1
    assert system.get_pending_changes().count() == 3

    answers = _monitor_answers(system)
    assert answers == _scanned_answers(system)
    assert answers[0]["UPDATE"] == {"total": 1, "pending": 1, "synced": 0}


def test_monitor_answers_are_the_same_without_the_manifest(spark, system, tmp_path):
    cap = system.capture
    cap.capture_insert(_rows(spark, [(i, f"u{i}", i) for i in range(1, 5)]))
    target = SnapshotTable(spark, str(tmp_path / "replica"), TEST_SCHEMA)
    assert CDCReplicator(system, target).replicate_changes() == 4
    cap.capture_delete(_rows(spark, [(1, "u1", 1)]))
    with_manifest = _monitor_answers(system)
    os.remove(cap.manifest_path)
    assert _monitor_answers(system) == with_manifest == _scanned_answers(system)


def test_watermark_straddling_a_capture_call_gives_exact_counts_and_lag(
    spark, system, tmp_path
):
    cap = system.capture
    cap.capture_insert(_rows(spark, [(i, f"u{i}", i) for i in range(1, 11)]))
    target = SnapshotTable(spark, str(tmp_path / "replica"), TEST_SCHEMA)
    assert CDCReplicator(system, target).replicate_changes(batch_size=3) == 3
    (entry,) = cap.manifest()
    (wm, _), = cap.ledger()
    assert entry.lo <= wm < entry.hi
    answers = _monitor_answers(system)
    assert answers == _scanned_answers(system)
    assert answers[0] == {"INSERT": {"total": 10, "pending": 7, "synced": 3}}
    assert answers[2]["last_sync_lag_s"] is not None


def test_torn_manifest_line_is_ignored_and_truncated_by_the_next_capture(spark, system):
    cap = system.capture
    cap.capture_insert(_rows(spark, [(1, "a", 1)]))
    # a crash in the middle of the next commit
    with open(cap.manifest_path, "ab") as f:
        f.write(b'{"op":"INSERT","rows":')
    assert len(cap.manifest()) == 1
    assert _monitor_answers(system) == _scanned_answers(system)

    cap.capture_insert(_rows(spark, [(2, "b", 2)]))
    with open(cap.manifest_path, "rb") as f:
        data = f.read()
    assert data.endswith(b"\n") and data.count(b"\n") == 2
    assert [e.rows for e in cap.manifest()] == [1, 1]
    answers, jobs = _jobs_of(spark, "monitor-torn", lambda: _monitor_answers(system))
    assert jobs == []
    assert answers[0] == {"INSERT": {"total": 2, "pending": 2, "synced": 0}}


def test_torn_ledger_line_is_ignored_and_truncated_by_the_next_watermark(
    spark, system, tmp_path
):
    cap = system.capture
    cap.capture_insert(_rows(spark, [(1, "a", 1), (2, "b", 2)]))
    target = SnapshotTable(spark, str(tmp_path / "replica"), TEST_SCHEMA)
    rep = CDCReplicator(system, target)
    assert rep.replicate_changes() == 2
    cap.capture_insert(_rows(spark, [(3, "c", 3)]))
    # a crash in the middle of the next watermark commit
    ((wm, _),) = cap.ledger()
    with open(cap.ledger_path, "a") as f:
        f.write(f"{wm + 10**12}\t2026-")
    assert [w for w, _ in cap.ledger()] == [wm]
    assert [r["record_id"] for r in system.get_pending_changes().collect()] == [3]
    answers = _monitor_answers(system)
    assert answers == _scanned_answers(system)
    assert (answers[1]["pending_changes"], answers[1]["synced_changes"]) == (1, 2)

    assert rep.replicate_changes() == 1
    with open(cap.ledger_path, "rb") as f:
        data = f.read()
    assert data.endswith(b"\n") and data.count(b"\n") == 2
    assert len(cap.ledger()) == 2 and cap.ledger()[0][0] == wm
    assert system.get_pending_changes().count() == 0
    assert _replica(target) == {i: (i, n, i) for i, n in [(1, "a"), (2, "b"), (3, "c")]}


def test_manifest_answers_invariant_under_random_op_sequences(spark, system, tmp_path):
    # property: after any interleaving of captures and partial
    # replications, the manifest-based statistics, health and lag equal
    # the aggregates over the whole derived log. Fixed seed, bounded ops
    import random

    from tests.hyp_budget import examples

    rng = random.Random(20261018)
    target = SnapshotTable(spark, str(tmp_path / "replica"), TEST_SCHEMA)
    rep = CDCReplicator(system, target)
    live = {}
    next_id = 1
    for step in range(examples(6, 12)):
        op = rng.choice(["insert", "insert", "update", "delete", "replicate"])
        if op == "insert":
            rows = [(next_id + i, f"u{next_id + i}", next_id + i) for i in range(rng.randint(1, 4))]
            next_id += len(rows)
            system.capture.capture_insert(_rows(spark, rows))
            live.update({r[0]: r for r in rows})
        elif op == "update" and live:
            k = rng.choice(sorted(live))
            old, new = live[k], (k, live[k][1], live[k][2] + 1000)
            system.capture.capture_update(_rows(spark, [new]), _rows(spark, [old]))
            live[k] = new
        elif op == "delete" and live:
            k = rng.choice(sorted(live))
            system.capture.capture_delete(_rows(spark, [live.pop(k)]))
        elif op == "replicate":
            rep.replicate_changes(batch_size=rng.randint(1, 5))
        assert _monitor_answers(system) == _scanned_answers(system), f"step {step} ({op})"


def test_poll_plan_has_no_case_tree_at_a_long_ledger(spark, system):
    # pending rows have no sync time, so the poll derives only `synced`:
    # its plan holds no per-entry CASE tree, whatever the ledger length
    from datetime import datetime, timedelta, timezone

    cap = system.capture
    cap.capture_insert(_rows(spark, [(1, "a", 1), (2, "b", 2)]))
    synced_hi = max(r["cdc_id"] for r in system.read_log().collect())
    cap.capture_insert(_rows(spark, [(3, "c", 3)]))
    t0 = datetime(2026, 1, 1, tzinfo=timezone.utc)
    wms = list(range(1999)) + [synced_hi]
    with open(cap.ledger_path, "w") as f:
        f.writelines(f"{w}\t{(t0 + timedelta(seconds=i)).isoformat()}\n" for i, w in enumerate(wms))
    assert len(cap.ledger()) == 2000

    poll = system.get_pending_changes()
    assert [r["record_id"] for r in poll.collect()] == [3]
    assert "CASE WHEN" not in poll._jdf.queryExecution().optimizedPlan().toString()


# -- the merge-on-read replica -------------------------------------------------


def test_delta_chain_reads_the_replay_oracle_at_every_version(spark, system, tmp_path):
    # property: random capture calls split over rounds; each round commits
    # one version, and every version reads as the sequential replay of
    # the calls up to it. The one-row base is soon outweighed by its
    # deltas, so the chain compacts along the way. Fixed seed
    import random

    from tests.hyp_budget import examples

    rng = random.Random(20261019)
    cap, live = system.capture, {}
    target = SnapshotTable(spark, str(tmp_path / "replica"), TEST_SCHEMA)
    rep = CDCReplicator(system, target)
    calls = [("INSERT", [(1, "u1", 1)])]
    _capture(spark, cap, *calls[0], live)
    rep.replicate_changes()
    versions = [_oracle(calls)]
    for r in range(examples(4, 8)):
        for _ in range(rng.randint(1, 3)):
            op = rng.choice(["INSERT", "UPDATE", "DELETE"])
            keys = rng.sample(range(1, 12), rng.randint(1, 3))
            call = (op, [(k, f"r{r}k{k}", rng.randint(0, 99)) for k in keys])
            _capture(spark, cap, *call, live)
            calls.append(call)
        rep.replicate_changes()
        versions.append(_oracle(calls))
        assert _replica(target) == versions[-1], f"round {r}"
    names = target.list_versions()
    assert len(names) == len(versions)
    assert sum(n.startswith("v") for n in names) >= 2  # a compaction
    assert any(n.startswith("d") for n in names)
    for name, want in zip(names, versions):
        assert {r["id"]: tuple(r) for r in target.read_version(name).collect()} == want, name


def test_deltas_from_before_and_after_an_evolution_read_in_the_evolved_schema(
    spark, system, tmp_path
):
    # a delta written before evolve reads with nulls in the new struct
    # field; reading the chain starts no Spark job
    target = SnapshotTable(spark, str(tmp_path / "replica"), TEST_SCHEMA)
    repl = CDCReplicator(system, target, key="id")
    system.capture.capture_insert(_rows(spark, [(i, f"u{i}", i) for i in range(1, 301)]))
    assert repl.replicate_changes(batch_size=1000) == 300
    system.capture.capture_update(_rows(spark, [(1, "u1b", 10)]), _rows(spark, [(1, "u1", 1)]))
    system.capture.capture_insert(_rows(spark, [(400, "pre", 4)]))
    assert repl.replicate_changes() == 2

    system.evolve_schema(EVOLVED_SCHEMA)
    target.evolve(EVOLVED_SCHEMA)
    evolved = lambda rows: spark.createDataFrame(rows, EVOLVED_SCHEMA)
    system.capture.capture_update(evolved([(2, "u2", 2, "x@y.z")]), target.read().filter("id = 2"))
    system.capture.capture_insert(evolved([(401, "post", 5, "a@b.c")]))
    system.capture.capture_delete(evolved([(3, "u3", 3, None)]))
    assert repl.replicate_changes() == 3

    base, pre, post = target.list_versions()
    assert pre.startswith("d") and post.startswith("d")
    (got, pre_df), jobs = _jobs_of(
        spark, "chain-read", lambda: (target.read(), target.read_version(pre))
    )
    assert jobs == []
    assert got.columns == pre_df.columns == EVOLVED_SCHEMA.names
    got = {r["id"]: tuple(r) for r in got.collect()}
    assert len(got) == 301
    assert got[1] == (1, "u1b", 10, None)  # pre-evolution delta
    assert got[400] == (400, "pre", 4, None)
    assert got[2] == (2, "u2", 2, "x@y.z")  # post-evolution delta
    assert got[401] == (401, "post", 5, "a@b.c")
    assert got[4] == (4, "u4", 4, None) and 3 not in got
    before = {r["id"]: tuple(r) for r in pre_df.collect()}
    assert before[1] == (1, "u1b", 10, None) and before[3] == (3, "u3", 3, None)
    assert 401 not in before and len(before) == 301


def test_torn_version_line_is_ignored_and_truncated_by_the_next_commit(
    spark, system, tmp_path
):
    # a crash in the middle of a _VERSIONS append leaves a torn last line:
    # time travel lists every committed version once, each one reads, and
    # the next commit cuts the fragment away
    cap, live = system.capture, {}
    target = SnapshotTable(spark, str(tmp_path / "replica"), TEST_SCHEMA)
    rep = CDCReplicator(system, target)
    calls = [
        ("INSERT", [(i, f"u{i}", i) for i in range(1, 301)]),
        ("UPDATE", [(1, "u1b", 10)]),
        ("DELETE", [(2, "u2", 2)]),
    ]
    versions = []
    for n, call in enumerate(calls, 1):
        _capture(spark, cap, *call, live)
        rep.replicate_changes(batch_size=1000)
        versions.append(_oracle(calls[:n]))
        if n == 2:
            base, delta = target.list_versions()
            with open(os.path.join(target.path, "_VERSIONS"), "a") as f:
                f.write(f"{base}\tid\t{delta}\td")
    names = target.list_versions()
    assert len(names) == len(set(names)) == 3
    assert names[-1] == target._chain().name
    for name, want in zip(names, versions):
        assert {r["id"]: tuple(r) for r in target.read_version(name).collect()} == want, name
    with open(os.path.join(target.path, "_VERSIONS"), "rb") as f:
        data = f.read()
    assert data.endswith(b"\n") and data.count(b"\n") == 3


def test_crash_before_the_delta_commit_leaves_an_orphan_that_reads_ignore(spark, tmp_path):
    # fault injection: the delta directory is written, then the commit
    # (the _CURRENT flip) dies. The orphan is never read, nothing is
    # marked synced, and a re-run converges to the sequential replay
    system = CDCSystem(spark, str(tmp_path), "crash_table", CDCConfig(max_retries=0))
    cap = system.setup_cdc(TEST_SCHEMA, key="id")
    first = [("INSERT", [(i, f"u{i}", i) for i in range(1, 41)])]
    rest = [
        ("UPDATE", [(2, "u2", 200), (50, "gone", 5)]),
        ("DELETE", [(3, "u3", 3)]),
        ("INSERT", [(3, "again", 33)]),
    ]
    live = {}
    _capture(spark, cap, *first[0], live)
    target = SnapshotTable(spark, str(tmp_path / "replica"), TEST_SCHEMA)
    rep = CDCReplicator(system, target)
    assert rep.replicate_changes() == 40
    for call in rest:
        _capture(spark, cap, *call, live)
    dirs = set(os.listdir(target.path))
    with open(os.path.join(target.path, "_CURRENT")) as f:
        current = f.read()

    def crash(*a, **kw):
        raise RuntimeError("crash before the commit")

    target._commit = crash
    with pytest.raises(RuntimeError, match="crash"):
        rep.replicate_changes()
    del target._commit
    (orphan,) = set(os.listdir(target.path)) - dirs
    assert orphan.startswith("d")
    with open(os.path.join(target.path, "_CURRENT")) as f:
        assert f.read() == current
    assert _replica(target) == _oracle(first)
    assert system.get_pending_changes().count() == 4

    assert rep.replicate_changes() == 4
    assert rep.replicate_changes() == 0
    assert _replica(target) == _oracle(first + rest)
    assert orphan not in target._chain().deltas
    assert orphan not in target.list_versions()


def test_compaction_folds_base_deltas_and_batch_in_one_merge(spark, system, tmp_path):
    # a compacting commit is one fold of the base with its deltas and the
    # batch: a single net-effect merge (one join) in the written plan,
    # not the batch merged over the already-folded chain
    cap, live, calls = system.capture, {}, []
    target = SnapshotTable(spark, str(tmp_path / "replica"), TEST_SCHEMA)
    rep = CDCReplicator(system, target)
    for call in [
        ("INSERT", [(1, "u1", 1)]),
        ("INSERT", [(k, f"u{k}", k) for k in range(2, 40)]),
    ]:
        _capture(spark, cap, *call, live)
        calls.append(call)
        rep.replicate_changes()
    assert len(target._chain().deltas) == 1  # the deltas outweigh the base

    written = []
    write = target.write
    target.write = lambda df, meta=None: (written.append(df), write(df, meta))
    for call in [("UPDATE", [(1, "u1b", 10), (5, "u5b", 50)]), ("DELETE", [(7, "u7", 7)])]:
        _capture(spark, cap, *call, live)
        calls.append(call)
    rep.replicate_changes()
    (df,) = written
    assert target._chain().deltas == ()
    assert df._jdf.queryExecution().optimizedPlan().toString().count("Join LeftOuter") == 1
    assert _replica(target) == _oracle(calls)


def test_compaction_matches_image_fields_by_name(spark, system, tmp_path):
    # the replica declares its columns in another order than the capture
    # schema: a compacting commit unions the stored deltas with the batch
    # and must line up their row images by field name, not position
    schema = T.StructType([TEST_SCHEMA[c] for c in ("value", "id", "name")])
    target = SnapshotTable(spark, str(tmp_path / "replica"), schema)
    cap, live, calls, rep = system.capture, {}, [], CDCReplicator(system, target)
    for call in [
        ("INSERT", [(1, "u1", 1)]),
        ("INSERT", [(k, f"u{k}", k) for k in range(2, 40)]),
        ("UPDATE", [(1, "u1b", 10), (5, "u5b", 50)]),
    ]:
        _capture(spark, cap, *call, live)
        calls.append(call)
        rep.replicate_changes()
    assert target._chain().deltas == ()  # the last round compacted
    got = {r["id"]: (r["id"], r["name"], r["value"]) for r in target.read().collect()}
    assert got == _oracle(calls)


# -- storage format ------------------------------------------------------------


def _codecs(*paths):
    """The compression codecs in the footers of the parquet files
    ``paths``; a directory stands for its data files. A file of no rows
    has none."""
    import pyarrow.parquet as pq

    files = [
        f
        for p in paths
        for f in ([p] if os.path.isfile(p) else [
            os.path.join(p, n) for n in os.listdir(p) if n.endswith(".parquet")
        ])
    ]
    out = set()
    for f in files:
        meta = pq.read_metadata(f)
        out |= {
            meta.row_group(g).column(c).compression
            for g in range(meta.num_row_groups)
            for c in range(meta.num_columns)
        }
    return out


def _format_run(spark, root, monkeypatch, old_first):
    """Captures, a batch round and a streaming drain; with ``old_first``
    the first captures and the first replica snapshot are written the
    way earlier versions wrote (Spark's defaults: snappy, v1 pages)."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from cdc_system_spark import model
    from cdc_system_spark.operators.capture import _footer_facts
    from cdc_system_spark.streaming.replicator import StreamingReplicator

    system = CDCSystem(spark, root, "fmt")
    cap, live = system.setup_cdc(TEST_SCHEMA, key="id"), {}
    target = SnapshotTable(spark, os.path.join(root, "replica"), TEST_SCHEMA)
    rep = CDCReplicator(system, target)
    with monkeypatch.context() as m:
        if old_first:
            m.setattr(
                model, "CDC_PARQUET_OPTIONS", {"compression": "snappy", "parquet.writer.version": "v1"}
            )
        _capture(spark, cap, "INSERT", [(k, f"u{k}", k) for k in range(1, 9)], live)
        _capture(spark, cap, "UPDATE", [(2, "u2b", 20)], live)
        assert rep.replicate_changes() == 9
        old_files = set(cap.data_files())
    _capture(spark, cap, "DELETE", [(3, "u3", 3)], live)
    _capture(spark, cap, "INSERT", [(9, "u9", 9), (10, "u10", 10)], live)
    assert rep.replicate_changes(batch_size=1) == 1  # a delta on the old base
    _capture(spark, cap, "UPDATE", [(4, "u4b", 40)], live)

    answers = _monitor_answers(system)
    assert answers == _scanned_answers(system)
    for name in cap.data_files():
        ids = pq.read_table(os.path.join(cap.path, name), columns=["cdc_id"]).column(0)
        want = (len(ids), pc.min(ids).as_py(), pc.max(ids).as_py())
        assert _footer_facts(os.path.join(cap.path, name)) == want
    poll = [
        (r["operation"], r["record_id"], r["old_data"], r["new_data"])
        for r in system.get_pending_changes().collect()
    ]
    log = sorted(
        (r["operation"], r["record_id"], r["old_data"] or "", r["new_data"] or "", r["synced"])
        for r in system.read_log().collect()
    )
    in_log = lambda names: [os.path.join(cap.path, n) for n in names]
    assert _codecs(*in_log(set(cap.data_files()) - old_files)) == {"ZSTD"}
    assert _codecs(os.path.join(target.path, target._chain().deltas[0])) == {"ZSTD"}
    old_codec = {"SNAPPY"} if old_first else {"ZSTD"}
    assert _codecs(*in_log(old_files)) == old_codec
    assert _codecs(os.path.join(target.path, target._chain().base)) == old_codec

    streamed = SnapshotTable(spark, os.path.join(root, "streamed"), TEST_SCHEMA)
    StreamingReplicator(
        spark, cap.path, streamed, TEST_SCHEMA, key="id", checkpoint_path=os.path.join(root, "ckpt")
    ).run_available_now()
    assert _replica(streamed) == live
    stats, health, lag = answers
    return stats, health, lag["pending_changes"], poll, log


def test_a_log_and_replica_of_mixed_formats_read_as_one_format(spark, tmp_path, monkeypatch):
    # files written by earlier versions (snappy, v1 pages) sit next to
    # zstd files in the log and the replica chain: every reader gives the
    # answers of a log written in the current format alone
    mixed = _format_run(spark, str(tmp_path / "mixed"), monkeypatch, old_first=True)
    single = _format_run(spark, str(tmp_path / "single"), monkeypatch, old_first=False)
    assert mixed == single
    assert mixed[1]["pending_changes"] == len(mixed[3]) == 3


def _compaction_run(spark, root, monkeypatch, options):
    """Replication rounds on a 300-row base written with the CDC parquet
    ``options``: three small batches, then one as large as the base and
    one more small one. Returns the kinds of the committed versions
    (``v`` a snapshot, ``d`` a delta) and the replica."""
    from cdc_system_spark import model

    system = CDCSystem(spark, root, "rounds")
    cap, live, calls = system.setup_cdc(TEST_SCHEMA, key="id"), {}, []
    target = SnapshotTable(spark, os.path.join(root, "replica"), TEST_SCHEMA)
    rep = CDCReplicator(system, target)
    rounds = [
        [("INSERT", [(k, f"u{k}", k) for k in range(1, 301)])],
        [("UPDATE", [(1, "u1b", 10), (2, "u2b", 20)])],
        [("INSERT", [(301, "u301", 301)]), ("DELETE", [(3, "u3", 3)])],
        [("UPDATE", [(4, "u4b", 40)])],
        [("UPDATE", [(k, f"u{k}c", -k) for k in range(5, 305)])],
        [("DELETE", [(6, "u6c", -6), (7, "u7c", -7)])],
    ]
    with monkeypatch.context() as m:
        m.setattr(model, "CDC_PARQUET_OPTIONS", options)
        for r, round_calls in enumerate(rounds):
            for call in round_calls:
                _capture(spark, cap, *call, live)
                calls.append(call)
            rep.replicate_changes(batch_size=1000)
            assert _replica(target) == _oracle(calls), f"round {r}"
    return [name[0] for name in target.list_versions()], _replica(target)


def test_compaction_commits_the_same_versions_in_any_storage_format(
    spark, tmp_path, monkeypatch
):
    # the compaction rule counts rows: the same rounds compact at the
    # same commits whether the replica is written with v1 or v2 pages,
    # whose small deltas are mostly footer bytes
    v1 = _compaction_run(spark, str(tmp_path / "v1"), monkeypatch, {"compression": "zstd"})
    v2 = _compaction_run(
        spark, str(tmp_path / "v2"), monkeypatch, {"compression": "zstd", "parquet.writer.version": "v2"}
    )
    assert v1 == v2
    # the deltas reach the base's 300 rows only with the large batch
    assert v1[0] == ["v", "d", "d", "d", "d", "v"]


def _encodings(path, column):
    """The parquet encodings of ``column`` (a dotted path) in the data
    files of the directory ``path``, or in the file ``path``."""
    import pyarrow.parquet as pq

    files = [path] if os.path.isfile(path) else [
        os.path.join(path, n) for n in os.listdir(path) if n.endswith(".parquet")
    ]
    out = set()
    for f in files:
        meta = pq.read_metadata(f)
        for g in range(meta.num_row_groups):
            for c in range(meta.num_columns):
                chunk = meta.row_group(g).column(c)
                if chunk.path_in_schema == column:
                    out |= set(chunk.encodings)
    return out


def test_cdc_storage_delta_encodes_sorted_ids(spark, system, tmp_path):
    # v2 data pages: the log's cdc_id and record_id, a delta's ids and a
    # snapshot's key are stored DELTA_BINARY_PACKED, not PLAIN int64
    cap = system.capture
    target = SnapshotTable(spark, str(tmp_path / "replica"), TEST_SCHEMA)
    rep = CDCReplicator(system, target)
    cap.capture_insert(_rows(spark, [(k, f"u{k}", k) for k in range(1, 51)]))
    rep.replicate_changes()
    cap.capture_update(_rows(spark, [(1, "u1b", 10), (2, "u2b", 20)]), target.read().filter("id <= 2"))
    rep.replicate_changes()
    chain = target._chain()
    (delta,) = chain.deltas
    (entry, _) = cap.manifest()
    logged = [os.path.join(cap.path, n) for n in entry.files]
    for path, column in [
        *[(f, c) for f in logged for c in ("cdc_id", "record_id")],
        (os.path.join(target.path, delta), "cdc_id"),
        (os.path.join(target.path, delta), "record_id"),
        (os.path.join(target.path, chain.base), "id"),
    ]:
        assert "DELTA_BINARY_PACKED" in _encodings(path, column), (path, column)
