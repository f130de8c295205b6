"""The change log's typed row images: the stored layout, logs that mix
it with the JSON text of earlier versions, empty frames, and a sync loop
that evaluates no Python on Arrow-built input."""

from __future__ import annotations

import json
import os
import re
import shutil
from datetime import datetime, timedelta, timezone

import pyarrow as pa
import pyarrow.parquet as pq

from cdc_system_spark.api import CDCMonitor, CDCReplicator, CDCSystem, SnapshotTable
from cdc_system_spark.model import AUDIT_COLUMNS, AUDIT_SCHEMA
from cdc_system_spark.operators.capture import KEY_SPAN
from cdc_system_spark.operators.scd import scd2_from_log
from tests.test_cdc_core import TEST_SCHEMA, _capture, _oracle, _replica, _rows

ARROW_TYPES = {"id": pa.int64(), "name": pa.string(), "value": pa.int64()}


def _system(spark, root):
    system = CDCSystem(spark, root, "images")
    system.setup_cdc(TEST_SCHEMA, key="id")
    return system


def _json(image: dict | None) -> str | None:
    """A row image as the JSON text capture stored before images were
    typed (Spark's ``to_json``: no spaces, NULL fields left out)."""
    if image is None:
        return None
    return json.dumps({k: v for k, v in image.items() if v is not None}, separators=(",", ":"))


def _json_era_calls(spark, path, calls, live):
    """Append ``calls`` to the log directory ``path`` in the layout of
    earlier versions, one file per call: audit-schema rows whose images
    are JSON text. ``live`` gives an UPDATE its old images, as in
    ``_capture``."""
    from perfbench.gen import replay

    t0 = datetime(2026, 1, 1, tzinfo=timezone.utc)
    for i, (op, rows) in enumerate(calls):
        out = []
        for r in rows:
            new = dict(zip(TEST_SCHEMA.names, r))
            old = None
            if op == "UPDATE" and r[0] in live:
                old = dict(zip(TEST_SCHEMA.names, live[r[0]]))
            if op == "DELETE":
                old, new = new, None
            cdc_id = (1000 + i) * KEY_SPAN + r[0]
            at = t0 + timedelta(seconds=i)
            out.append((cdc_id, op, r[0], _json(old), _json(new), at, False, None))
        spark.createDataFrame(out, AUDIT_SCHEMA).write.mode("append").parquet(path)
        replay(live, [(op, r[0], r) for r in rows])


def _copy_as_json_era(src, dst):
    """Copy the data files of the log ``src`` to ``dst`` in the layout of
    earlier versions: the same rows in the same files, typed images
    written as JSON text. Files already in that layout are copied as
    they are."""
    os.makedirs(dst)
    for name in os.listdir(src):
        if not name.endswith(".parquet"):
            continue
        t = pq.read_table(os.path.join(src, name))
        if "old_data" in t.column_names:
            shutil.copyfile(os.path.join(src, name), os.path.join(dst, name))
            continue

        def text(c):
            images = t.column(c).to_pylist() if c in t.column_names else [None] * t.num_rows
            return pa.array([_json(x) for x in images], pa.string())

        utc = pa.timestamp("us", tz="UTC")
        t = pa.table(
            {
                "cdc_id": t.column("cdc_id"),
                "operation": t.column("operation"),
                "record_id": t.column("record_id"),
                "old_data": text("old"),
                "new_data": text("new"),
                "changed_at": t.column("changed_at").cast(utc),
                "synced": t.column("synced"),
                "sync_timestamp": t.column("sync_timestamp").cast(utc),
            }
        )
        pq.write_table(t, os.path.join(dst, name))


def test_log_files_store_the_typed_images_of_their_operation(spark, tmp_path):
    system = _system(spark, str(tmp_path))
    cap = system.capture
    cap.capture_insert(_rows(spark, [(1, "a", 1), (2, None, 2)]))
    cap.capture_update(_rows(spark, [(1, "a", 10)]), _rows(spark, [(1, "a", 1)]))
    cap.capture_delete(_rows(spark, [(2, None, 2)]))
    # capture casts to the registered schema: a missing column is NULL,
    # an extra one is dropped, an int column is stored as the declared long
    cap.capture_insert(spark.createDataFrame([(5, 7, "x")], "id long, value int, extra string"))

    images = {"INSERT": {"new"}, "UPDATE": {"old", "new"}, "DELETE": {"old"}}
    for e in cap.manifest():
        for name in e.files:
            path = os.path.join(cap.path, name)
            meta = pq.read_metadata(path)
            leaves = {meta.schema.column(i).path for i in range(meta.num_columns)}
            assert {leaf.split(".")[0] for leaf in leaves if "." in leaf} == images[e.op], name
            assert "synced" in leaves and not leaves & {"old_data", "new_data"}
            schema = pq.read_schema(path)
            for image in images[e.op]:
                assert {f.name: f.type for f in schema.field(image).type} == ARROW_TYPES

    got = {
        (r["operation"], r["record_id"]): (r["old"], r["new"], r["old_data"], r["new_data"])
        for r in system.read_log().collect()
    }
    assert got[("INSERT", 5)] == (None, (5, None, 7), None, '{"id":5,"value":7}')
    assert got[("UPDATE", 1)] == (
        (1, "a", 1), (1, "a", 10), '{"id":1,"name":"a","value":1}', '{"id":1,"name":"a","value":10}'
    )
    assert got[("DELETE", 2)] == ((2, None, 2), None, '{"id":2,"value":2}', None)


def test_a_log_of_json_and_typed_images_reads_as_the_same_log_in_json(spark, tmp_path):
    # earlier versions' rows sit in the log next to typed captures; every
    # reader answers as it does on the same rows stored as JSON text
    json_calls = [
        ("INSERT", [(1, "a", 1), (2, "b", 2), (3, None, 3)]),
        ("UPDATE", [(1, "a2", 10), (9, "none", 9)]),
    ]
    typed_calls = [
        ("UPDATE", [(2, "b2", 20), (3, "c", None)]),
        ("DELETE", [(1, "a2", 10)]),
        ("INSERT", [(4, "d", 4), (1, "again", 11)]),
    ]
    mixed = _system(spark, str(tmp_path / "mixed"))
    live = {}
    _json_era_calls(spark, mixed.capture.path, json_calls, live)
    for call in typed_calls:
        _capture(spark, mixed.capture, *call, live)
    in_json = _system(spark, str(tmp_path / "json"))
    _copy_as_json_era(mixed.capture.path, in_json.capture.path)

    def answers(system):
        health = CDCMonitor(system).get_health_report()
        del health["timestamp"]
        return (
            [tuple(r) for r in system.get_pending_changes(limit=4).collect()],
            health,
            system.get_change_statistics(),
        )

    def log(system):
        return [tuple(r) for r in system.read_log().orderBy("cdc_id").collect()]

    def history(system):
        hist = scd2_from_log(system.read_log())
        return [tuple(r) for r in hist.orderBy("record_id", "version").collect()]

    cap = mixed.capture
    layouts = {
        "old_data" in pq.read_schema(os.path.join(cap.path, n)).names for n in cap.data_files()
    }
    assert layouts == {True, False}  # JSON text and typed images
    # the same rows, and for each the same JSON text, byte for byte
    assert log(mixed) == log(in_json)
    assert history(mixed) == history(in_json)
    assert answers(mixed) == answers(in_json)

    # a round that ends inside a capture call, so the monitor reads files
    targets = [SnapshotTable(spark, str(tmp_path / n / "replica"), TEST_SCHEMA) for n in ("m", "j")]
    reps = [CDCReplicator(s, t) for s, t in zip((mixed, in_json), targets)]
    assert [r.replicate_changes(batch_size=5) for r in reps] == [5, 5]
    assert answers(mixed) == answers(in_json)
    assert _replica(targets[0]) == _replica(targets[1])
    assert [r.replicate_changes() for r in reps] == [5, 5]
    assert _replica(targets[0]) == _replica(targets[1]) == _oracle(json_calls + typed_calls)
    assert answers(mixed) == answers(in_json)


def test_an_empty_log_and_replica_have_no_partition_to_scan(spark, tmp_path):
    # no Python-backed scan of an empty list: the first commit's write
    # reads the empty replica, and a poll before any capture the log
    system = _system(spark, str(tmp_path))
    target = SnapshotTable(spark, str(tmp_path / "replica"), TEST_SCHEMA)
    log, replica = system.capture.read_log(), target.read()
    assert log.columns == AUDIT_COLUMNS + ["old", "new"]
    assert replica.schema == TEST_SCHEMA
    for df in (log, replica, system.get_pending_changes()):
        assert df.rdd.getNumPartitions() == 0
        assert df.count() == 0


def _python_plans(spark, fn):
    """Run ``fn``; return the executed plans of the SQL executions it
    started that evaluate Python or scan a Python-backed RDD."""

    def executions():
        spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
        store = spark._jsparkSession.sharedState().statusStore().executionsList()
        return {
            store.apply(i).executionId(): store.apply(i).physicalPlanDescription()
            for i in range(store.size())
        }

    before = executions()
    fn()
    started = [plan for e, plan in executions().items() if e not in before]
    assert started, "no SQL execution ran"
    return [plan for plan in started if re.search("Python|InPandas", plan)]


def test_the_sync_loop_runs_no_python_on_arrow_built_input(spark, tmp_path):
    # input built from Arrow is a local relation: capture, replication,
    # the poll and health must not add Python to any plan they run
    system = _system(spark, str(tmp_path))
    cap = system.capture
    target = SnapshotTable(spark, str(tmp_path / "replica"), TEST_SCHEMA)
    rep = CDCReplicator(system, target)

    def arrow(rows):
        table = pa.Table.from_pylist([dict(zip(TEST_SCHEMA.names, r)) for r in rows])
        return spark.createDataFrame(table, TEST_SCHEMA)

    def loop():
        cap.capture_insert(arrow([(k, f"u{k}", k) for k in range(1, 21)]))
        assert rep.replicate_changes() == 20
        cap.capture_update(arrow([(1, "u1b", 10), (2, "u2b", 20)]), target.read().filter("id <= 2"))
        cap.capture_delete(arrow([(3, "u3", 3)]))
        cap.capture_insert(arrow([(30, "u30", 30)]))
        assert rep.replicate_changes(batch_size=2) == 2  # a delta, inside a call
        assert system.get_pending_changes(limit=10).select("new.value").count() == 2
        assert CDCMonitor(system).get_health_report()["pending_changes"] == 2

    assert _python_plans(spark, loop) == []
    # the check sees a Python-backed scan: input built from a Python list
    assert _python_plans(spark, lambda: cap.capture_insert(_rows(spark, [(40, "u40", 40)])))


def test_compact_log_keeps_both_images_of_a_typed_log(spark, tmp_path):
    # an INSERT file has no old column and a DELETE file no new one:
    # the rewrite reads the union of the files' schemas
    from cdc_system_spark.operators.maintenance import compact_log

    cap = _system(spark, str(tmp_path)).capture
    cap.capture_insert(_rows(spark, [(1, "a", 1), (2, "b", 2)]))
    cap.capture_delete(_rows(spark, [(2, "b", 2)]))
    out = str(tmp_path / "compacted")
    assert compact_log(spark, cap.path, out)["rows"] == 3
    rows = spark.read.parquet(out).collect()
    got = {(r["operation"], r["record_id"]): (r["old"], r["new"]) for r in rows}
    assert got == {
        ("INSERT", 1): (None, (1, "a", 1)),
        ("INSERT", 2): (None, (2, "b", 2)),
        ("DELETE", 2): ((2, "b", 2), None),
    }
