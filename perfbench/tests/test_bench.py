"""Unit tests of the benchmark itself: pure Python, no Spark session.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import math
import os

import pytest

from perfbench import gen, stats, workloads

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


# -- tail-percentile rule ------------------------------------------------------


@pytest.mark.parametrize("n", [1, 2, 5, 10, 11, 20, 21])
def test_tail_falls_back_to_median_below_21_samples(n):
    xs = [float(i) for i in range(n)]
    assert stats.tail(xs) == (stats.median(xs), 50)


@pytest.mark.parametrize("n", [22, 25, 40, 100, 1000])
def test_tail_leaves_exactly_ten_samples_beyond(n):
    xs = [float((i * 7919) % n) for i in range(n)]  # distinct, shuffled
    value, pct = stats.tail(xs)
    assert sum(x > value for x in xs) == stats.TAIL_BEYOND
    assert value > stats.median(xs)
    assert pct == math.floor(100 * (n - 10) / n)


def test_tail_of_100_samples_is_p90():
    assert stats.tail([float(i) for i in range(1, 101)]) == (90.0, 90)


def test_tail_and_median_reject_empty():
    with pytest.raises(ValueError):
        stats.tail([])
    with pytest.raises(ValueError):
        stats.median([])


# -- oracle replay -------------------------------------------------------------


def test_replay_insert_is_insert_or_replace():
    s = gen.replay({}, [(gen.INSERT, 1, "a"), (gen.INSERT, 1, "b")])
    assert s == {1: "b"}


def test_replay_update_only_hits_existing_keys():
    s = gen.replay({1: "a"}, [(gen.UPDATE, 1, "b"), (gen.UPDATE, 2, "x")])
    assert s == {1: "b"}


def test_replay_delete_then_reinsert_and_stale_update():
    s = gen.replay(
        {1: "a", 2: "b"},
        [
            (gen.DELETE, 1, None),
            (gen.UPDATE, 1, "lost"),  # key is gone: no-op
            (gen.DELETE, 3, None),  # missing key: no-op
            (gen.INSERT, 1, "c"),
            (gen.UPDATE, 2, "d"),
            (gen.DELETE, 2, None),
        ],
    )
    assert s == {1: "c"}


def test_replay_rejects_unknown_operation():
    with pytest.raises(ValueError):
        gen.replay({}, [("MERGE", 1, "a")])


def test_golden_demo_leaves_eight_rows():
    # the reference demo's stream: 10 inserts, 5 updates, 2 deletes
    ins = [(gen.INSERT, k, (k, "user", k)) for k in range(1, 11)]
    upd = [(gen.UPDATE, k, (k, "updated", k)) for k in range(1, 6)]
    dele = [(gen.DELETE, k, None) for k in (9, 10)]
    s = gen.replay({}, ins + upd + dele)
    assert len(s) == 8
    assert sorted(s) == list(range(1, 9))
    assert all(s[k][1] == "updated" for k in range(1, 6))
    assert all(s[k][1] == "user" for k in range(6, 9))


# -- seeded generator ----------------------------------------------------------


def small_state(n: int = 2_000) -> dict:
    return {r[0]: r for r in gen.rows_of(gen.source_columns(5, n))}


def rounds(spec, seed: int, n: int = 4):
    g = gen.Generator(seed, small_state(), spec)
    out = []
    for _ in range(n):
        calls = g.next_round()
        out.append(calls)
        g.commit(calls)
    return g, out


@pytest.mark.parametrize("name", list(workloads.SPECS))
def test_same_seed_same_stream(name):
    spec = workloads.SPECS[name]
    assert rounds(spec, 3)[1] == rounds(spec, 3)[1]
    assert rounds(spec, 3)[1] != rounds(spec, 4)[1]


@pytest.mark.parametrize("name", list(workloads.SPECS))
def test_round_shape_and_unique_keys_per_call(name):
    spec = workloads.SPECS[name]
    _, rs = rounds(spec, 1)
    for calls in rs:
        assert [(c.op, len(c.rows)) for c in calls] == [(cs.op, cs.rows) for cs in spec]
        for c in calls:
            keys = [r[0] for r in c.rows]
            assert len(set(keys)) == len(keys)
            assert all(0 <= k < 1_000_000_000 for k in keys)


def test_every_workload_has_a_warm_up_and_a_unit_time():
    assert set(workloads.WARMUP_UNITS) == set(workloads.SPECS) == set(workloads.UNIT_S)
    assert all(n >= 1 for n in workloads.WARMUP_UNITS.values())


@pytest.mark.parametrize("name,seconds,units", [("sync_batch", 10, 2), ("log_reads", 10, 5), ("sync_batch", 1, 1)])
def test_timed_units_follow_seconds_not_speed(name, seconds, units):
    assert workloads.Bench(name, 1, seconds, False, "unused").timed_units() == units


def test_commit_matches_replay_and_live_index():
    g, rs = rounds(workloads.SPECS["sync_batch"], 2, n=6)
    want = small_state()
    for calls in rs:
        for c in calls:
            gen.replay(want, c.changes())
    assert g.state == want
    assert sorted(g._live) == sorted(want)


def test_uniform_round_mixes_upserts_missing_updates_and_deletes():
    state = small_state()
    g = gen.Generator(9, state, workloads.SPECS["sync_batch"])
    ins, upd, dele = g.next_round()
    assert sum(r[0] in state for r in ins.rows) == 100  # upserts of live keys
    assert sum(r[0] not in state for r in upd.rows) == 50  # missing keys
    assert all(r[0] in state for r in dele.rows)
    # old images exist exactly for the updated keys that are live
    assert {r[0] for r in upd.old} == {r[0] for r in upd.rows if r[0] in state}


def test_source_columns_are_seeded():
    a, b = gen.source_columns(1, 50), gen.source_columns(1, 50)
    assert gen.rows_of(a) == gen.rows_of(b)
    assert gen.rows_of(a) != gen.rows_of(gen.source_columns(2, 50))
    assert list(a["o_orderkey"]) == list(range(50))


# -- metric names and output schema -------------------------------------------


def test_benchmark_json_follows_the_contract():
    spec = load_spec()
    assert set(spec) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    assert [w["name"] for w in spec["workloads"]] == list(workloads.WORKLOADS)
    names = [m["name"] for k in ("workloads", "end_to_end", "per_layer") for m in spec[k]]
    assert len(names) == len(set(names))
    for name in names:
        assert stats.NAME_RE.match(name), name
    for m in spec["end_to_end"] + spec["per_layer"]:
        assert stats.UNIT_RE.match(m["unit"]), m
        assert m["better"] in ("lower", "higher")
    for m in spec["end_to_end"]:
        assert set(m) == {"name", "unit", "better", "bound"}
        assert 0 < m["bound"] <= 0.25
    setup = next(m for m in spec["end_to_end"] if m["name"] == "setup_s")
    assert (setup["unit"], setup["better"]) == ("s", "lower")
    assert setup["bound"] == max(m["bound"] for m in spec["end_to_end"])


@pytest.mark.parametrize("bad", ["", "_x", "a b", "a/b", "x" * 65, "é"])
def test_name_grammar_rejects(bad):
    assert not stats.NAME_RE.match(bad)


@pytest.mark.parametrize("good", ["setup_s", "merge.net_ratio", "a-b.c_d", "9lives"])
def test_name_grammar_accepts(good):
    assert stats.NAME_RE.match(good)


def test_result_line_round_trips():
    line = stats.result_line(True, 12, 0, {"op_p50_s": (1.25, "s"), "disk_mb_end": (3, "MB")})
    obj = json.loads(line)
    assert list(obj) == ["correct", "attempted", "failed", "metrics"]
    assert obj["metrics"]["op_p50_s"] == {"value": 1.25, "unit": "s"}
    stats.check_result(obj, expected=["op_p50_s", "disk_mb_end"])
    with pytest.raises(ValueError):
        stats.check_result(obj, expected=["op_p50_s"])


@pytest.mark.parametrize(
    "mutate",
    [
        lambda o: o.pop("failed"),
        lambda o: o.update(extra=1),
        lambda o: o.update(attempted=0),
        lambda o: o.update(attempted=True),
        lambda o: o.update(failed=1.5),
        lambda o: o.update(correct="yes"),
        lambda o: o["metrics"].update({"bad name": {"value": 1.0, "unit": "s"}}),
        lambda o: o["metrics"].update({"x": {"value": float("nan"), "unit": "s"}}),
        lambda o: o["metrics"].update({"x": {"value": 1.0, "unit": "s", "n": 3}}),
        lambda o: o["metrics"].update({"x": {"value": 1.0, "unit": "seconds per op!"}}),
    ],
)
def test_check_result_rejects(mutate):
    obj = json.loads(stats.result_line(True, 1, 0, {"a": (1.0, "s")}))
    mutate(obj)
    with pytest.raises(ValueError):
        stats.check_result(obj)


def test_disk_bytes_counts_bytes_and_parquet_files(tmp_path):
    (tmp_path / "v1").mkdir()
    (tmp_path / "v1" / "part-0.parquet").write_bytes(b"x" * 10)
    (tmp_path / "_CURRENT").write_text("v1")
    assert workloads.disk_bytes(str(tmp_path)) == (12, 1)


# -- spans ---------------------------------------------------------------------


class FakeTracker:
    def __init__(self, jobs_by_group):
        self.jobs_by_group = jobs_by_group

    def getJobIdsForGroup(self, group):
        return self.jobs_by_group.get(group, [])

    def getJobInfo(self, jid):
        return type("JobInfo", (), {"stageIds": [jid]})()

    def getStageInfo(self, sid):
        return type("StageInfo", (), {"numTasks": 4})()


class FakeContext:
    """The SparkContext surface the tracer uses: local properties and a
    status tracker that reports jobs per job group."""

    def __init__(self, jobs_by_group):
        self.props = {"spark.jobGroup.id": "outer-group"}
        self.tracker = FakeTracker(jobs_by_group)
        self.groups_seen = []

    def getLocalProperty(self, key):
        return self.props.get(key)

    def setLocalProperty(self, key, value):
        if value is None:
            self.props.pop(key, None)
        else:
            self.props[key] = value

    def setJobGroup(self, group, desc):
        self.groups_seen.append(group)
        self.props["spark.jobGroup.id"] = group
        self.props["spark.job.description"] = desc

    def statusTracker(self):
        return self.tracker


def test_spans_nest_count_jobs_and_restore_the_job_group():
    from perfbench.trace import Tracer

    # span ids are handed out in open order: outer=0, inner=1
    sc = FakeContext({"perfbench-0": [1], "perfbench-1": [2, 3]})
    tr = Tracer(sc)
    tr.unit = 7
    with tr.span("replicator.x"):
        with tr.span("merge.y", lazy=True):
            assert sc.props["spark.jobGroup.id"] == "perfbench-1"
        assert sc.props["spark.jobGroup.id"] == "perfbench-0"
    assert sc.props == {"spark.jobGroup.id": "outer-group"}
    inner, outer = tr.spans
    assert (inner.name, inner.parent, inner.lazy, inner.unit) == ("merge.y", outer.id, True, 7)
    assert (inner.jobs, inner.tasks) == (2, 8)
    assert (outer.jobs, outer.all_jobs, outer.all_tasks) == (1, 3, 12)
    assert outer.self_s == pytest.approx(outer.dur - inner.dur)


def test_disabled_tracer_records_nothing():
    from perfbench.trace import Tracer

    sc = FakeContext({})
    tr = Tracer(sc)
    tr.enabled = False
    with tr.span("capture.insert") as sp:
        assert sp is None
    assert tr.spans == [] and sc.groups_seen == []


def test_per_unit_sums_outermost_spans_of_a_prefix():
    from perfbench.trace import Span, per_unit

    def span(i, name, parent, unit, dur):
        return Span(i, name, parent, False, unit, t0=0.0, t1=dur)

    spans = [
        span(0, "changelog.poll", None, 0, 1.0),
        span(1, "changelog.read", 0, 0, 0.5),  # nested in the same layer
        span(2, "changelog.poll", None, 1, 2.0),
        span(3, "changelog.poll", None, 2, 9.0),  # unit not asked for
        span(4, "merge.apply", 2, 1, 0.25),
    ]
    assert per_unit(spans, [0, 1], "changelog.", lambda s: s.dur) == [1.0, 2.0]
    assert per_unit(spans, [0, 1], "merge.", lambda s: 1) == [0.0, 1.0]


def test_untimed_work_is_taken_off_open_spans_and_their_jobs():
    import time

    from perfbench.trace import Tracer

    sc = FakeContext({"perfbench-0": [1], "perfbench-untimed": [7, 8]})
    tr = Tracer(sc)
    with tr.span("replicator.x"):
        with tr.untimed():
            assert sc.props["spark.jobGroup.id"] == "perfbench-untimed"
            tr.counts["merge.in_rows"] += 5
            time.sleep(0.05)
        assert sc.props["spark.jobGroup.id"] == "perfbench-0"
    (sp,) = tr.spans
    assert sp.untimed_s >= 0.05 and tr.untimed_s == sp.untimed_s
    assert sp.dur == pytest.approx(sp.t1 - sp.t0 - sp.untimed_s)
    assert (sp.jobs, tr.counts["merge.in_rows"]) == (1, 5)
