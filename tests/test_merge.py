"""Sequential-replay equivalence (SURVEY §5.3#3, §7.3#1).

The one place a set-oriented engine can silently diverge from the
reference: random op sequences per key are replayed row-at-a-time
against a dict oracle that mimics the reference's dispatch loop
(cdc_system.py:297-310: upsert / update-if-exists / delete), and the
net-effect merge must produce the identical final table — including the
INSERT→DELETE (net: absent) and DELETE→INSERT (net: present) and
trailing-UPDATE-after-same-batch-INSERT edge cases.
"""

from __future__ import annotations

import json
import random

from pyspark.sql import functions as F
from pyspark.sql import types as T

from cdc_system_spark.model import AUDIT_SCHEMA
from cdc_system_spark.operators.merge import apply_changes, net_effect_reduce

ROW_SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType(), False),
        T.StructField("name", T.StringType(), True),
        T.StructField("value", T.LongType(), True),
    ]
)


def _sequential_oracle(initial: dict[int, tuple], changes: list[dict]) -> dict[int, tuple]:
    """Row-at-a-time replay, mimicking cdc_system.py:297-350 exactly."""
    state = dict(initial)
    for ch in sorted(changes, key=lambda c: c["cdc_id"]):
        k = ch["record_id"]
        if ch["operation"] == "INSERT":
            state[k] = ch["new"]  # INSERT OR REPLACE (cdc_system.py:323)
        elif ch["operation"] == "UPDATE":
            if k in state:  # UPDATE ... WHERE id=? no-ops on miss
                state[k] = ch["new"]
        elif ch["operation"] == "DELETE":
            state.pop(k, None)
    return state


def _mk_changes(rng: random.Random, n_changes: int, key_space: int) -> list[dict]:
    out = []
    for cdc_id in range(1, n_changes + 1):
        k = rng.randrange(1, key_space + 1)
        op = rng.choice(["INSERT", "UPDATE", "DELETE"])
        row = (k, f"n{cdc_id}", rng.randrange(1000))
        out.append({"cdc_id": cdc_id, "record_id": k, "operation": op, "new": row})
    return out


def test_sequential_replay_equivalence(spark):
    rng = random.Random(42)
    for trial in range(3):
        key_space = 12
        initial = {k: (k, f"init{k}", k * 10) for k in range(1, key_space + 1) if rng.random() < 0.5}
        changes = _mk_changes(rng, n_changes=60, key_space=key_space)

        expected = _sequential_oracle(initial, changes)

        target = spark.createDataFrame(list(initial.values()) or [], ROW_SCHEMA)
        audit_rows = [
            (
                c["cdc_id"],
                c["operation"],
                c["record_id"],
                None,
                json.dumps({"id": c["new"][0], "name": c["new"][1], "value": c["new"][2]})
                if c["operation"] != "DELETE"
                else None,
                None,
                False,
                None,
            )
            for c in changes
        ]
        log = spark.createDataFrame(audit_rows, AUDIT_SCHEMA).withColumn(
            "new", F.from_json("new_data", ROW_SCHEMA)
        )
        result = apply_changes(target, log, key="id", change_key="record_id")
        got = {r["id"]: (r["id"], r["name"], r["value"]) for r in result.collect()}
        assert got == expected, f"trial {trial}: {got} != {expected}"


def test_net_effect_cases(spark):
    # hand-picked hard cases
    cases = [
        # (ops in order, key initially present, expect_present, expect_from)
        (["INSERT", "DELETE"], False, False, None),
        (["DELETE", "INSERT"], True, True, 1),  # image of the INSERT (idx 1)
        (["INSERT", "UPDATE"], False, True, 1),  # UPDATE after same-batch INSERT lands
        (["UPDATE"], False, False, None),  # UPDATE on missing key no-ops
        (["UPDATE"], True, True, 0),
        (["UPDATE", "DELETE", "UPDATE"], True, False, None),  # trailing UPDATE after DELETE no-ops
    ]
    for ops, present, expect_present, expect_idx in cases:
        initial = {7: (7, "init", 0)} if present else {}
        changes = [
            {
                "cdc_id": i + 1,
                "record_id": 7,
                "operation": op,
                "new": (7, f"img{i}", i),
            }
            for i, op in enumerate(ops)
        ]
        expected = _sequential_oracle(initial, changes)
        target = spark.createDataFrame(list(initial.values()) or [], ROW_SCHEMA)
        audit_rows = [
            (
                c["cdc_id"],
                c["operation"],
                c["record_id"],
                None,
                json.dumps({"id": 7, "name": c["new"][1], "value": c["new"][2]})
                if c["operation"] != "DELETE"
                else None,
                None,
                False,
                None,
            )
            for c in changes
        ]
        log = spark.createDataFrame(audit_rows, AUDIT_SCHEMA).withColumn(
            "new", F.from_json("new_data", ROW_SCHEMA)
        )
        got = {
            r["id"]: (r["id"], r["name"], r["value"])
            for r in apply_changes(target, log, key="id", change_key="record_id").collect()
        }
        assert got == expected, f"{ops} present={present}: {got} != {expected}"


def test_net_effect_reduce_shape(spark):
    rows = [
        (1, "INSERT", 5, None, '{"id":5,"name":"a","value":1}', None, False, None),
        (2, "UPDATE", 5, None, '{"id":5,"name":"b","value":2}', None, False, None),
        (3, "DELETE", 6, None, None, None, False, None),
    ]
    log = spark.createDataFrame(rows, AUDIT_SCHEMA).withColumn(
        "new", F.from_json("new_data", ROW_SCHEMA)
    )
    net = {r["record_id"]: r for r in net_effect_reduce(log).collect()}
    assert net[5]["effect"] == "UPSERT" and net[5]["new"]["name"] == "b"
    assert net[6]["effect"] == "DELETE"


def test_apply_changes_scans_the_target_once_and_never_shuffles_it(spark, tmp_path):
    """With automatic broadcast joins off, the merge still broadcasts the
    net batch: the target is scanned once, with no sort-merge join and no
    hash-partitioning exchange, so a large target is never shuffled."""
    initial = {k: (k, f"init{k}", k * 10) for k in range(1, 41)}
    path = str(tmp_path / "target")
    spark.createDataFrame(list(initial.values()), ROW_SCHEMA).write.parquet(path)
    changes = [
        {"cdc_id": i + 1, "record_id": k, "operation": op, "new": (k, f"n{i}", i)}
        for i, (k, op) in enumerate(
            [(50, "INSERT"), (3, "UPDATE"), (4, "DELETE"), (99, "UPDATE"), (5, "INSERT"), (50, "UPDATE")]
        )
    ]
    audit_rows = [
        (
            c["cdc_id"],
            c["operation"],
            c["record_id"],
            None,
            json.dumps(dict(zip(("id", "name", "value"), c["new"])))
            if c["operation"] != "DELETE"
            else None,
            None,
            False,
            None,
        )
        for c in changes
    ]
    log = spark.createDataFrame(audit_rows, AUDIT_SCHEMA).withColumn(
        "new", F.from_json("new_data", ROW_SCHEMA)
    )
    conf = "spark.sql.autoBroadcastJoinThreshold"
    prev = spark.conf.get(conf)
    spark.conf.set(conf, "-1")
    try:
        result = apply_changes(spark.read.parquet(path), log, key="id", change_key="record_id")
        got = {r["id"]: (r["id"], r["name"], r["value"]) for r in result.collect()}
        plan = result._jdf.queryExecution().executedPlan()
        if plan.nodeName() == "AdaptiveSparkPlan":
            plan = plan.executedPlan()  # the final plan, as it ran
        plan = plan.toString()
    finally:
        spark.conf.set(conf, prev)
    assert got == _sequential_oracle(initial, changes)
    assert plan.count("FileScan parquet") == 1, plan
    assert "SortMergeJoin" not in plan, plan
    assert "hashpartitioning" not in plan, plan
