"""Streaming tests (SURVEY §5.3#4): availableNow drain equals the batch
result; restart from checkpoint re-delivers nothing; watermarked
windowed aggregation over a file stream matches the batch aggregation."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from cdc_system_spark.api import CDCSystem, SnapshotTable
from cdc_system_spark.streaming.aggregations import windowed_counts
from cdc_system_spark.streaming.replicator import StreamingReplicator

ROW_SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType(), False),
        T.StructField("name", T.StringType(), True),
        T.StructField("value", T.LongType(), True),
    ]
)


def _rows(spark, rows):
    return spark.createDataFrame(rows, ROW_SCHEMA)


@pytest.fixture()
def system(spark, tmp_path):
    sys = CDCSystem(spark, str(tmp_path), "stream_table")
    sys.setup_cdc(ROW_SCHEMA, key="id")
    return sys


def test_available_now_drain_equals_batch(spark, system, tmp_path):
    system.capture.capture_insert(_rows(spark, [(i, f"u{i}", i) for i in range(1, 6)]))
    system.capture.capture_update(
        _rows(spark, [(1, "u1", 999)]), _rows(spark, [(1, "u1", 1)])
    )
    system.capture.capture_delete(_rows(spark, [(5, "u5", 5)]))

    target = SnapshotTable(spark, str(tmp_path / "t"), ROW_SCHEMA)
    rep = StreamingReplicator(
        spark,
        system.capture.path,
        target,
        ROW_SCHEMA,
        key="id",
        checkpoint_path=str(tmp_path / "ckpt"),
    )
    rep.run_available_now()

    result = {r["id"]: r for r in target.read().collect()}
    assert len(result) == 4  # 5 inserts − 1 delete
    assert result[1]["value"] == 999


def test_streaming_incremental_ingest_keeps_corpus_deduped(spark, tmp_path):
    # Streaming x curation: document batches arrive as a file stream;
    # each micro-batch is admitted through incremental_ingest, so the
    # maintained corpus never accumulates content duplicates — the
    # streaming form of corpus maintenance (incremental_ingest's unit
    # semantics are covered in test_curation).
    from cdc_system_spark.operators.curation import incremental_ingest

    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType(), False),
            T.StructField("text", T.StringType(), True),
        ]
    )
    in_dir = tmp_path / "incoming"
    in_dir.mkdir()
    corpus_tbl = SnapshotTable(spark, str(tmp_path / "corpus"), schema)
    corpus_tbl.write(spark.createDataFrame([(1, "alpha"), (2, "beta")], schema))

    def apply_batch(batch, batch_id):
        if batch.isEmpty():
            return
        merged = incremental_ingest(corpus_tbl.read(), batch)
        corpus_tbl.write(merged)

    # two micro-batch files: new content, a corpus dupe, an in-batch dupe
    spark.createDataFrame([(10, "gamma"), (11, "alpha")], schema).write.mode(
        "append"
    ).parquet(str(in_dir))
    spark.createDataFrame([(12, "gamma"), (13, "delta")], schema).write.mode(
        "append"
    ).parquet(str(in_dir))

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(in_dir))
    )
    q = (
        stream.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    rows = {r["doc_id"]: r["text"] for r in corpus_tbl.read().collect()}
    # content-exact: every text exactly once, dupes dropped whichever
    # order the two files were micro-batched in
    assert sorted(rows.values()) == ["alpha", "beta", "delta", "gamma"]
    assert {1, 2, 13} <= set(rows)        # originals + the only delta
    assert 11 not in rows                  # alpha dupe never admitted


DOC_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("text", T.StringType(), True),
    ]
)


def _doc_rows(spark, rows):
    return spark.createDataFrame(rows, DOC_SCHEMA)


def test_streaming_corpus_ingestor_capture_to_corpus(spark, tmp_path):
    # The CDC-native ingest path: change capture -> change stream ->
    # foreachBatch -> incremental corpus maintenance. INSERTs are
    # content-deduped, UPDATEs replace by id, DELETEs remove, and a
    # checkpointed restart drains only the new files.
    from cdc_system_spark.streaming import StreamingCorpusIngestor

    sys_ = CDCSystem(spark, str(tmp_path), "docs")
    cap = sys_.setup_cdc(DOC_SCHEMA, key="doc_id")
    corpus = SnapshotTable(spark, str(tmp_path / "corpus"), DOC_SCHEMA)
    corpus.write(_doc_rows(spark, [(1, "alpha"), (2, "beta")]))

    cap.capture_insert(_doc_rows(spark, [(10, "gamma"), (11, "alpha")]))
    cap.capture_update(
        _doc_rows(spark, [(1, "alpha revised")]), _doc_rows(spark, [(1, "alpha")])
    )
    cap.capture_delete(_doc_rows(spark, [(2, "beta")]))

    ing = StreamingCorpusIngestor(
        spark,
        cap.path,
        corpus,
        DOC_SCHEMA,
        checkpoint_path=str(tmp_path / "ickpt"),
    )
    ing.run_available_now()
    rows = {r["doc_id"]: r["text"] for r in corpus.read().collect()}
    assert rows == {1: "alpha revised", 10: "gamma"}  # 11 = content dupe, 2 deleted

    # checkpointed restart: only the post-drain captures are applied
    cap.capture_insert(_doc_rows(spark, [(20, "delta"), (21, "gamma")]))
    ing2 = StreamingCorpusIngestor(
        spark,
        cap.path,
        corpus,
        DOC_SCHEMA,
        checkpoint_path=str(tmp_path / "ickpt"),
    )
    ing2.run_available_now()
    rows = {r["doc_id"]: r["text"] for r in corpus.read().collect()}
    assert rows == {1: "alpha revised", 10: "gamma", 20: "delta"}  # 21 = dupe


def test_streaming_corpus_ingestor_replay_is_exactly_once(spark, tmp_path):
    # foreachBatch re-runs a failed batch under the same id; the corpus
    # batch marker (committed atomically with the snapshot flip) must
    # make the replay a no-op. This matters because content-hash
    # admission alone is NOT replay-stable: the batch below replaces
    # doc 1's text "alpha" while also carrying a dupe insert of
    # "alpha" — on a naive replay the dupe would be admitted since
    # "alpha" is no longer in the corpus.
    from cdc_system_spark.streaming import StreamingCorpusIngestor

    sys_ = CDCSystem(spark, str(tmp_path), "docs")
    cap = sys_.setup_cdc(DOC_SCHEMA, key="doc_id")
    corpus = SnapshotTable(spark, str(tmp_path / "corpus"), DOC_SCHEMA)
    corpus.write(_doc_rows(spark, [(1, "alpha")]))

    cap.capture_insert(_doc_rows(spark, [(11, "alpha")]))
    cap.capture_update(
        _doc_rows(spark, [(1, "alpha revised")]), _doc_rows(spark, [(1, "alpha")])
    )

    ing = StreamingCorpusIngestor(
        spark,
        cap.path,
        corpus,
        DOC_SCHEMA,
        checkpoint_path=str(tmp_path / "ickpt"),
    )
    batch = cap.read_log()
    ing.apply_batch(batch, 0)
    after_first = {r["doc_id"]: r["text"] for r in corpus.read().collect()}
    assert after_first == {1: "alpha revised"}
    ing.apply_batch(batch, 0)  # crash-replay of the same batch id
    after_replay = {r["doc_id"]: r["text"] for r in corpus.read().collect()}
    assert after_replay == after_first
    ing.apply_batch(batch, 1)  # a genuinely new batch still applies
    assert 11 in {r["doc_id"] for r in corpus.read().collect()}


def test_metrics_interval_gates_report_emission(spark, system, tmp_path):
    # CDC_METRICS_INTERVAL (reference config.py:39-40) drives the
    # streaming monitor cadence: first batch reports, then at most one
    # report per interval. Fake clock makes the gate deterministic.
    from cdc_system_spark.config import CDCConfig

    reports: list[dict] = []
    clock = {"now": 0.0}
    target = SnapshotTable(spark, str(tmp_path / "t"), ROW_SCHEMA)
    rep = StreamingReplicator(
        spark,
        system.capture.path,
        target,
        ROW_SCHEMA,
        key="id",
        checkpoint_path=str(tmp_path / "ckpt"),
        config=CDCConfig(metrics_interval_seconds=60),
        on_report=reports.append,
        clock=lambda: clock["now"],
    )
    system.capture.capture_insert(_rows(spark, [(1, "a", 1)]))
    log = spark.read.parquet(system.capture.path)

    rep._apply_batch(log, 0)          # t=0: first batch always reports
    assert len(reports) == 1 and reports[0]["last_batch_id"] == 0
    clock["now"] = 30.0
    rep._apply_batch(log, 1)          # t=30 < 60: suppressed
    assert len(reports) == 1
    clock["now"] = 61.0
    rep._apply_batch(log, 2)          # t=61 >= 60: reports again
    assert len(reports) == 2 and reports[1]["last_batch_id"] == 2
    assert reports[1]["batches_applied"] == 3
    assert reports[1]["metrics_interval_seconds"] == 60


def test_continuous_sync_interval_comes_from_config(spark, system, tmp_path, monkeypatch):
    # CDC_SYNC_INTERVAL (reference config.py:34) is the default trigger
    # interval of the continuous sync; an explicit interval overrides it.
    # The patched trigger records its argument and stops before start()
    from pyspark.sql.streaming import DataStreamWriter

    from cdc_system_spark.config import CDCConfig

    class Stop(Exception):
        pass

    triggers = []

    def trigger(self, **kwargs):
        triggers.append(kwargs)
        raise Stop

    monkeypatch.setattr(DataStreamWriter, "trigger", trigger)
    system.capture.capture_insert(_rows(spark, [(1, "a", 1)]))
    rep = StreamingReplicator(
        spark,
        system.capture.path,
        SnapshotTable(spark, str(tmp_path / "t"), ROW_SCHEMA),
        ROW_SCHEMA,
        checkpoint_path=str(tmp_path / "ckpt"),
        config=CDCConfig(sync_interval_seconds=2),
    )
    for interval in (None, "30 seconds"):
        with pytest.raises(Stop):
            rep.start_continuous(interval)
    assert triggers == [{"processingTime": "2 seconds"}, {"processingTime": "30 seconds"}]


def test_checkpoint_idempotent_restart(spark, system, tmp_path):
    system.capture.capture_insert(_rows(spark, [(1, "a", 1), (2, "b", 2)]))
    target = SnapshotTable(spark, str(tmp_path / "t"), ROW_SCHEMA)
    kwargs = dict(key="id", checkpoint_path=str(tmp_path / "ckpt"))
    rep = StreamingReplicator(spark, system.capture.path, target, ROW_SCHEMA, **kwargs)
    rep.run_available_now()
    assert target.read().count() == 2

    # restart with same checkpoint, no new data → no re-delivery
    rep2 = StreamingReplicator(spark, system.capture.path, target, ROW_SCHEMA, **kwargs)
    rep2.run_available_now()
    assert target.read().count() == 2

    # new capture → only the delta is applied on the next drain
    system.capture.capture_insert(_rows(spark, [(3, "c", 3)]))
    rep3 = StreamingReplicator(spark, system.capture.path, target, ROW_SCHEMA, **kwargs)
    rep3.run_available_now()
    assert {r["id"] for r in target.read().collect()} == {1, 2, 3}


def test_stream_shares_the_log_with_batch_replication(spark, system, tmp_path):
    # batch replication commits a watermark instead of rewriting the
    # log, so a file-source drain over the same log, run between batch
    # rounds, sees each captured change exactly once
    from cdc_system_spark.api import CDCReplicator

    seen = []

    class Recording(StreamingReplicator):
        def _apply_batch(self, batch, batch_id):
            seen.extend(r["cdc_id"] for r in batch.select("cdc_id").collect())
            super()._apply_batch(batch, batch_id)

    batch_target = SnapshotTable(spark, str(tmp_path / "batch"), ROW_SCHEMA)
    stream_target = SnapshotTable(spark, str(tmp_path / "stream"), ROW_SCHEMA)
    rep = CDCReplicator(system, batch_target, key="id")

    def drain():
        Recording(
            spark, system.capture.path, stream_target, ROW_SCHEMA,
            key="id", checkpoint_path=str(tmp_path / "ckpt"),
        ).run_available_now()

    system.capture.capture_insert(_rows(spark, [(1, "a", 1), (2, "b", 2)]))
    assert rep.replicate_changes() == 2
    drain()
    system.capture.capture_update(_rows(spark, [(1, "a", 10)]), _rows(spark, [(1, "a", 1)]))
    system.capture.capture_insert(_rows(spark, [(3, "c", 3)]))
    assert rep.replicate_changes() == 2
    drain()
    assert sorted(seen) == sorted(r["cdc_id"] for r in system.read_log().collect())
    rows = lambda t: sorted(tuple(r) for r in t.read().collect())
    assert rows(stream_target) == rows(batch_target) == [(1, "a", 10), (2, "b", 2), (3, "c", 3)]


def test_stream_drain_commits_the_sync_watermark(spark, system, tmp_path):
    # the streaming replicator commits each micro-batch's largest cdc_id,
    # dead-lettered rows included, so the monitor sees nothing pending
    from cdc_system_spark.api import CDCMonitor
    from cdc_system_spark.model import AUDIT_SCHEMA

    system.capture.capture_insert(_rows(spark, [(1, "a", 1), (2, "b", 2), (3, "c", 3)]))
    top = max(r["cdc_id"] for r in system.read_log().collect())
    bad = spark.createDataFrame(
        [(top + 1, "INSERT", 99, None, "{not-json", None, False, None)], AUDIT_SCHEMA
    )
    bad.write.mode("append").parquet(system.capture.path)
    target = SnapshotTable(spark, str(tmp_path / "t"), ROW_SCHEMA)
    StreamingReplicator(
        spark, system.capture.path, target, ROW_SCHEMA,
        key="id", checkpoint_path=str(tmp_path / "ckpt"), dead_letter_path=str(tmp_path / "dead"),
    ).run_available_now()
    assert {r["id"] for r in target.read().collect()} == {1, 2, 3}
    assert system.capture.ledger()[-1][0] == top + 1
    report = CDCMonitor(system).get_health_report()
    assert (report["pending_changes"], report["synced_changes"]) == (0, 4)
    assert system.get_pending_changes().count() == 0


def test_dead_letter_quarantine(spark, system, tmp_path):
    # valid insert + an insert whose new_data is not decodable JSON
    system.capture.capture_insert(_rows(spark, [(1, "ok", 1)]))
    from cdc_system_spark.model import AUDIT_SCHEMA

    bad = spark.createDataFrame(
        [(999_000_000_000, "INSERT", 99, None, "{not-json", None, False, None)],
        AUDIT_SCHEMA,
    )
    bad.write.mode("append").parquet(system.capture.path)

    target = SnapshotTable(spark, str(tmp_path / "t"), ROW_SCHEMA)
    dl = str(tmp_path / "dead")
    rep = StreamingReplicator(
        spark,
        system.capture.path,
        target,
        ROW_SCHEMA,
        key="id",
        checkpoint_path=str(tmp_path / "ckpt"),
        dead_letter_path=dl,
    )
    rep.run_available_now()
    assert {r["id"] for r in target.read().collect()} == {1}
    quarantined = spark.read.parquet(dl)
    assert quarantined.count() == 1
    assert quarantined.head()["record_id"] == 99


def test_streaming_windowed_counts_match_batch(spark, tmp_path):
    # file-stream the driver's events table through the watermarked agg
    src = "/root/testdata/sf0.001/events.parquet"
    from cdc_system_spark.sources.catalog import load_table

    batch_events = load_table(spark, "/root/testdata/sf0.001", "events")
    batch_events.write.parquet(str(tmp_path / "events_stream"))

    stream = (
        spark.readStream.schema(batch_events.schema)
        .parquet(str(tmp_path / "events_stream"))
    )
    agg = windowed_counts(stream, window="1 day", watermark="1 hour")
    q = (
        agg.writeStream.format("memory")
        .queryName("win_counts")
        .outputMode("complete")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.awaitTermination()
    got = {
        (str(r["w_start"]), r["event_type"]): r["n"]
        for r in spark.sql("SELECT * FROM win_counts").collect()
    }
    expected = {
        (str(r["w_start"]), r["event_type"]): r["n"]
        for r in batch_events.groupBy(
            F.window("ts", "1 day").alias("w"), "event_type"
        )
        .agg(F.count("*").alias("n"))
        .select(F.col("w.start").alias("w_start"), "event_type", "n")
        .collect()
    }
    assert got == expected


def test_stateful_net_effect_accumulator(spark, system, tmp_path):
    from cdc_system_spark.streaming.source import read_change_stream
    from cdc_system_spark.streaming.stateful import net_effect_state

    system.capture.capture_insert(_rows(spark, [(1, "a", 1), (2, "b", 2)]))
    system.capture.capture_update(
        _rows(spark, [(1, "a", 10)]), _rows(spark, [(1, "a", 1)])
    )
    system.capture.capture_delete(_rows(spark, [(2, "b", 2)]))

    def drain(qname):
        stream = read_change_stream(spark, system.capture.path)
        out = net_effect_state(stream)
        rows = []  # foreachBatch sink: supports checkpoint recovery
        q = (
            out.writeStream.foreachBatch(
                lambda df, _bid: rows.extend(df.collect())
            )
            .outputMode("update")
            .trigger(availableNow=True)
            .option("checkpointLocation", str(tmp_path / "state_ckpt"))
            .start()
        )
        q.awaitTermination()
        # keep the latest emission per key (update mode can emit per batch)
        latest = {}
        for r in sorted(rows, key=lambda r: r["last_cdc_id"]):
            latest[r["record_id"]] = r
        return latest

    got = drain("net1")
    assert got[1]["n_changes"] == 2 and got[1]["exists"] is True
    assert got[2]["n_changes"] == 2 and got[2]["exists"] is False  # deleted

    # state survives restart from the same checkpoint: counts accumulate
    system.capture.capture_insert(_rows(spark, [(2, "b2", 20)]))
    got2 = drain("net2")
    assert got2[2]["n_changes"] == 3 and got2[2]["exists"] is True


def test_stream_stream_join_matches_batch_range_join(spark, tmp_path):
    from cdc_system_spark.operators.temporal import bucketed_range_join
    from cdc_system_spark.sources.catalog import load_table
    from cdc_system_spark.streaming.aggregations import clicks_before_purchase

    batch_events = load_table(spark, "/root/testdata/sf0.001", "events")
    batch_events.write.parquet(str(tmp_path / "ev"))
    stream = spark.readStream.schema(batch_events.schema).parquet(str(tmp_path / "ev"))

    rows = []
    q = (
        clicks_before_purchase(stream, window="1 hour")
        .writeStream.foreachBatch(lambda df, _b: rows.extend(df.collect()))
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ck"))
        .start()
    )
    q.awaitTermination()
    got = sorted((r["event_id"], str(r["c_ts"])) for r in rows)

    purchases = batch_events.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", F.col("ts").alias("p_ts")
    )
    clicks = batch_events.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("c_ts"),
        F.col("value").alias("c_value"),
    )
    expect = sorted(
        (r["event_id"], str(r["c_ts"]))
        for r in bucketed_range_join(
            purchases, clicks, by_left="user_id", by_right="c_user",
            left_time="p_ts", right_time="c_ts", window_seconds=3600,
        ).collect()
    )
    assert got == expect and len(got) > 0


def test_stream_static_enrichment_matches_batch_join(spark, tmp_path):
    from cdc_system_spark.sources.catalog import load_table
    from cdc_system_spark.streaming.aggregations import enrich_with_dim

    events = load_table(spark, "/root/testdata/sf0.001", "events")
    events.write.parquet(str(tmp_path / "ev"))
    # user dim covering only even user_ids: odd ids must survive with nulls
    dim = (
        events.select("user_id").distinct()
        .filter(F.col("user_id") % 2 == 0)
        .withColumn("tier", F.when(F.col("user_id") % 4 == 0, "gold").otherwise("basic"))
    )
    stream = spark.readStream.schema(events.schema).parquet(str(tmp_path / "ev"))
    out = enrich_with_dim(stream, dim, "user_id").select("event_id", "user_id", "tier")
    q = (
        out.writeStream.format("memory")
        .queryName("enriched")
        .outputMode("append")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt_enrich"))
        .start()
    )
    q.awaitTermination()
    got = {
        r["event_id"]: r["tier"]
        for r in spark.sql("SELECT * FROM enriched").collect()
    }
    expected = {
        r["event_id"]: r["tier"]
        for r in events.join(dim, "user_id", "left")
        .select("event_id", "tier")
        .collect()
    }
    assert got == expected
    assert any(v is None for v in got.values())      # unmatched kept
    assert any(v == "gold" for v in got.values())


def test_streaming_scd2_history_matches_batch(spark, tmp_path):
    """Streaming x SCD2: change batches arrive as a file stream and a
    foreachBatch maintainer merges each into a SnapshotTable-backed
    history via scd2_apply; the final history must equal the batch
    scd2_from_log over the full log (replay equivalence, streamed)."""
    import datetime as dt

    from cdc_system_spark.operators.scd import scd2_apply, scd2_from_log

    log_schema = T.StructType(
        [
            T.StructField("cdc_id", T.LongType(), False),
            T.StructField("operation", T.StringType(), True),
            T.StructField("record_id", T.LongType(), True),
            T.StructField("new_data", T.StringType(), True),
            T.StructField("changed_at", T.TimestampType(), True),
        ]
    )
    hist_schema = T.StructType(
        [
            T.StructField("record_id", T.LongType(), True),
            T.StructField("version", T.IntegerType(), True),
            T.StructField("payload", T.StringType(), True),
            T.StructField("valid_from", T.TimestampType(), True),
            T.StructField("valid_to", T.TimestampType(), True),
            T.StructField("is_current", T.BooleanType(), True),
        ]
    )
    ts = lambda m: dt.datetime(2024, 1, 1, 0, m)
    b1 = [(1, "INSERT", 1, '{"v":1}', ts(1)), (2, "INSERT", 2, '{"v":2}', ts(2))]
    b2 = [(3, "UPDATE", 1, '{"v":3}', ts(3)), (4, "DELETE", 2, None, ts(4))]
    b3 = [(5, "INSERT", 2, '{"v":5}', ts(5)), (6, "UPDATE", 2, '{"v":6}', ts(6))]

    in_dir = tmp_path / "changes"
    in_dir.mkdir()
    hist_tbl = SnapshotTable(spark, str(tmp_path / "hist"), hist_schema)

    def apply_batch(batch, batch_id):
        if batch.isEmpty():
            return
        hist_tbl.write(scd2_apply(hist_tbl.read(), batch))

    # one FILE per logical batch: scd2_apply's contract is that each
    # batch is newer than the history, so batch boundaries must follow
    # cdc order (a multi-file write would split one batch across
    # arbitrarily-ordered micro-batches)
    for b in (b1, b2, b3):
        spark.createDataFrame(b, log_schema).coalesce(1).write.mode(
            "append"
        ).parquet(str(in_dir))

    stream = (
        spark.readStream.schema(log_schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(in_dir))
    )
    q = (
        stream.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", str(tmp_path / "ckpt_scd"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    expected = scd2_from_log(spark.createDataFrame(b1 + b2 + b3, log_schema))
    key = lambda df: {
        (r["record_id"], r["version"]): (r["valid_from"], r["valid_to"], r["is_current"])
        for r in df.collect()
    }
    assert key(hist_tbl.read()) == key(expected)


def test_streaming_corpus_ingestor_fuzzy_admission(spark, tmp_path):
    # neardup_threshold: an INSERT that lightly edits an existing
    # corpus doc (different id) is rejected; a genuine UPDATE to its
    # OWN id still replaces (same-id near-dup pairs must pass); a
    # fresh unrelated doc is admitted.
    from cdc_system_spark.streaming import StreamingCorpusIngestor

    base = " ".join(f"token{i} word{i} item{i}" for i in range(40))
    fresh = "entirely novel content with no overlap whatsoever " * 4
    sys_ = CDCSystem(spark, str(tmp_path), "docs")
    cap = sys_.setup_cdc(DOC_SCHEMA, key="doc_id")
    corpus = SnapshotTable(spark, str(tmp_path / "corpus"), DOC_SCHEMA)
    corpus.write(_doc_rows(spark, [(1, base)]))

    edited_copy = base.replace("token7", "CHANGED")
    own_update = base.replace("token3", "REVISED")
    cap.capture_insert(_doc_rows(spark, [(10, edited_copy), (11, fresh)]))
    cap.capture_update(
        _doc_rows(spark, [(1, own_update)]), _doc_rows(spark, [(1, base)])
    )

    ing = StreamingCorpusIngestor(
        spark,
        cap.path,
        corpus,
        DOC_SCHEMA,
        checkpoint_path=str(tmp_path / "ickpt"),
        neardup_threshold=0.5,
    )
    ing.run_available_now()
    rows = {r["doc_id"]: r["text"] for r in corpus.read().collect()}
    assert rows == {1: own_update, 11: fresh}  # 10 rejected as near-dup


def test_streaming_corpus_ingestor_admission_gate(spark, tmp_path):
    # admission_filter: a blocklist content gate composed at admission.
    # A blocked INSERT never reaches the corpus; a blocked UPDATE does
    # not replace its clean corpus row; clean docs admit normally.
    # DELETEs are ungated.
    from cdc_system_spark.operators.text import blocklist_filter
    from cdc_system_spark.streaming import StreamingCorpusIngestor

    def gate(df):
        keep = blocklist_filter(df, ["forbidden"]).filter("keep").select("doc_id")
        return df.join(keep, "doc_id", "left_semi")

    sys_ = CDCSystem(spark, str(tmp_path), "docs")
    cap = sys_.setup_cdc(DOC_SCHEMA, key="doc_id")
    corpus = SnapshotTable(spark, str(tmp_path / "corpus"), DOC_SCHEMA)
    corpus.write(_doc_rows(spark, [(1, "clean original"), (2, "doomed row")]))

    cap.capture_insert(
        _doc_rows(spark, [(10, "totally forbidden content"), (11, "fine text")])
    )
    cap.capture_update(
        _doc_rows(spark, [(1, "now forbidden edit")]),
        _doc_rows(spark, [(1, "clean original")]),
    )
    cap.capture_delete(_doc_rows(spark, [(2, "doomed row")]))

    ing = StreamingCorpusIngestor(
        spark,
        cap.path,
        corpus,
        DOC_SCHEMA,
        checkpoint_path=str(tmp_path / "gkpt"),
        admission_filter=gate,
    )
    ing.run_available_now()
    rows = {r["doc_id"]: r["text"] for r in corpus.read().collect()}
    # 10 gated out, 11 admitted, 1 keeps its PRE-update text, 2 deleted
    assert rows == {1: "clean original", 11: "fine text"}


def test_gate_presets_compose(spark, tmp_path):
    from cdc_system_spark.streaming.ingest import blocklist_gate, charset_gate

    sys_ = CDCSystem(spark, str(tmp_path), "docs")
    cap = sys_.setup_cdc(DOC_SCHEMA, key="doc_id")
    corpus = SnapshotTable(spark, str(tmp_path / "corpus"), DOC_SCHEMA)
    corpus.write(_doc_rows(spark, []))

    bl = blocklist_gate(["spam"])
    cs = charset_gate(max_digit=0.3)
    cap.capture_insert(
        _doc_rows(
            spark,
            [(1, "clean words here"), (2, "spam laden text"),
             (3, "1 2 3 4 5 6 7 8 9 0")],
        )
    )
    from cdc_system_spark.streaming import StreamingCorpusIngestor

    ing = StreamingCorpusIngestor(
        spark,
        cap.path,
        corpus,
        DOC_SCHEMA,
        checkpoint_path=str(tmp_path / "pkpt"),
        admission_filter=lambda df: cs(bl(df)),   # presets compose
    )
    ing.run_available_now()
    assert {r["doc_id"] for r in corpus.read().collect()} == {1}


def test_quality_and_oov_gates_compose_and_restart_idempotent(spark, tmp_path):
    # the two remaining filter families as admission presets: Gopher
    # repetition (quality_gate) and OOV-vs-vocab (oov_gate), composed
    # like blocklist/charset. Restarting from the same checkpoint with
    # no new captures re-delivers nothing (gate decisions are
    # deterministic, so a replayed batch would also be a no-op).
    import pytest as _pytest

    from cdc_system_spark.streaming import StreamingCorpusIngestor
    from cdc_system_spark.streaming.ingest import oov_gate, quality_gate

    sys_ = CDCSystem(spark, str(tmp_path), "docs")
    cap = sys_.setup_cdc(DOC_SCHEMA, key="doc_id")
    corpus = SnapshotTable(spark, str(tmp_path / "corpus"), DOC_SCHEMA)
    corpus.write(_doc_rows(spark, []))

    # max_top_2gram_frac raised for 5-token fixtures: every
    # bigram is 1/4 of the doc at this length
    qg = quality_gate(max_dup_word_frac=0.5, max_top_2gram_frac=0.3)
    og = oov_gate(
        ["the", "quick", "brown", "fox", "jumps", "clean", "words", "here"],
        max_oov_rate=0.4,
    )
    cap.capture_insert(
        _doc_rows(
            spark,
            [
                (1, "the quick brown fox jumps"),       # passes both
                (2, "spam spam spam spam spam spam"),   # repetition trip
                (3, "zzz qqq vvv kkk mmm"),             # all OOV
                (4, "clean words here fox ok"),         # 1/5 OOV -> passes
            ],
        )
    )
    ing = StreamingCorpusIngestor(
        spark,
        cap.path,
        corpus,
        DOC_SCHEMA,
        checkpoint_path=str(tmp_path / "qkpt"),
        admission_filter=lambda df: og(qg(df)),
    )
    ing.run_available_now()
    assert {r["doc_id"] for r in corpus.read().collect()} == {1, 4}

    # restart from the same checkpoint: nothing re-delivers
    ing2 = StreamingCorpusIngestor(
        spark,
        cap.path,
        corpus,
        DOC_SCHEMA,
        checkpoint_path=str(tmp_path / "qkpt"),
        admission_filter=lambda df: og(qg(df)),
    )
    ing2.run_available_now()
    assert {r["doc_id"] for r in corpus.read().collect()} == {1, 4}

    with _pytest.raises(ValueError, match="vocab_terms"):
        oov_gate([])


def test_ingestor_maintained_hll_state(spark, tmp_path):
    # stats_path: a persisted HLL state of content EVER ADMITTED,
    # merged per batch, never rebuilt from the corpus; monotone under
    # DELETE; forced double-merge is a no-op (bucket-max idempotence)
    from cdc_system_spark.streaming import StreamingCorpusIngestor

    sys_ = CDCSystem(spark, str(tmp_path), "docs")
    cap = sys_.setup_cdc(DOC_SCHEMA, key="doc_id")
    corpus = SnapshotTable(spark, str(tmp_path / "corpus"), DOC_SCHEMA)
    corpus.write(_doc_rows(spark, []))
    ing = StreamingCorpusIngestor(
        spark,
        cap.path,
        corpus,
        DOC_SCHEMA,
        checkpoint_path=str(tmp_path / "skpt"),
        stats_path=str(tmp_path / "stats"),
    )
    assert ing.distinct_content_estimate() == 0.0
    cap.capture_insert(
        _doc_rows(spark, [(i, f"unique text {i}") for i in range(30)])
    )
    ing.run_available_now()
    est1 = ing.distinct_content_estimate()
    assert 15 <= est1 <= 60  # 30 distinct, raw-estimator small-range bias ok
    # DELETEs do not shrink the ever-admitted sketch
    cap.capture_delete(_doc_rows(spark, [(0, "unique text 0")]))
    ing2 = StreamingCorpusIngestor(
        spark, cap.path, corpus, DOC_SCHEMA,
        checkpoint_path=str(tmp_path / "skpt"),
        stats_path=str(tmp_path / "stats"),
    )
    ing2.run_available_now()
    assert ing2.distinct_content_estimate() == est1
    # forced replay of the same admitted batch: estimate unchanged
    ing2._update_stats(_doc_rows(spark, [(5, "unique text 5")]))
    assert ing2.distinct_content_estimate() == est1
    import pytest as _pytest

    nostats = StreamingCorpusIngestor(
        spark, cap.path, corpus, DOC_SCHEMA,
        checkpoint_path=str(tmp_path / "skpt2"),
    )
    with _pytest.raises(ValueError, match="stats_path"):
        nostats.distinct_content_estimate()


def test_streaming_windowed_hll_by_group_matches_batch(spark, tmp_path):
    # grouped HLL twin (the r8 verdict's asymmetry: KMV had scalar +
    # grouped streaming forms, HLL only scalar): per-(event_type, day)
    # streamed (bucket, max_rank) states == batch hll_state_by over
    # the same rows BIT-FOR-BIT across a multi-file drain — a plain
    # watermarked windowed groupBy, so the state bound (<=64 rows per
    # group x window) is Spark's own aggregation state
    from cdc_system_spark.operators.sketch import hll_state_by
    from cdc_system_spark.sources.catalog import load_table
    from cdc_system_spark.streaming.aggregations import windowed_hll_state_by

    batch_events = load_table(spark, "/root/testdata/sf0.001", "events")
    batch_events.write.parquet(str(tmp_path / "ev"))
    q = (
        windowed_hll_state_by(
            spark.readStream.schema(batch_events.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(tmp_path / "ev")),
            ["event_type"],
            "user_id",
            window="1 day",
            watermark="1 hour",
        )
        .writeStream.format("memory")
        .queryName("win_hll_by")
        .outputMode("complete")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "hkpt"))
        .start()
    )
    q.awaitTermination()
    streamed = sorted(
        (r["event_type"], r["w_start"], r["bucket"], r["max_rank"])
        for r in spark.sql("SELECT * FROM win_hll_by").collect()
    )
    expected = sorted(
        (r["event_type"], r["w_day"], r["bucket"], r["max_rank"])
        for r in hll_state_by(
            batch_events.select(
                "event_type",
                F.date_trunc("day", F.col("ts").cast("timestamp")).alias(
                    "w_day"
                ),
                F.col("user_id").cast("string").alias("u"),
            ),
            ["event_type", "w_day"],
            "u",
        ).collect()
    )
    assert len({k for k, _, _, _ in streamed}) >= 2  # multiple groups live
    assert streamed == expected
    with pytest.raises(ValueError, match="group_cols"):
        windowed_hll_state_by(batch_events, ["no_such_col"], "user_id")
    # the scalar wrapper (group_cols=[]) — evaluated as a BATCH frame
    # (the construction is stream-agnostic; withWatermark is a no-op
    # in batch): per-day states == hll_state_by per day, covering the
    # delegation without a second streaming query
    from cdc_system_spark.streaming.aggregations import windowed_hll_state

    scalar = sorted(
        (r["w_start"], r["bucket"], r["max_rank"])
        for r in windowed_hll_state(
            batch_events, "user_id", window="1 day", watermark="1 hour"
        ).collect()
    )
    per_day = sorted(
        (r["w_day"], r["bucket"], r["max_rank"])
        for r in hll_state_by(
            batch_events.select(
                F.date_trunc("day", F.col("ts").cast("timestamp")).alias(
                    "w_day"
                ),
                F.col("user_id").cast("string").alias("u"),
            ),
            ["w_day"],
            "u",
        ).collect()
    )
    assert scalar == per_day


def test_ingestor_maintained_zone_state(spark, tmp_path):
    # zone_stats_path: per-batch zone states (replay overwrites its own
    # subpath — additive counts forbid read-merge-rewrite), reader
    # merges; merged state == one-shot zone_state over everything
    # admitted, and the skip estimate reads layout quality corpus-free
    from cdc_system_spark.operators.maintenance import zone_state
    from cdc_system_spark.streaming import StreamingCorpusIngestor

    sys_ = CDCSystem(spark, str(tmp_path), "docs")
    cap = sys_.setup_cdc(DOC_SCHEMA, key="doc_id")
    corpus = SnapshotTable(spark, str(tmp_path / "corpus"), DOC_SCHEMA)
    corpus.write(_doc_rows(spark, []))
    mk_ing = lambda: StreamingCorpusIngestor(
        spark, cap.path, corpus, DOC_SCHEMA,
        checkpoint_path=str(tmp_path / "zkpt"),
        zone_stats_path=str(tmp_path / "zstats"),
        zone_hi=1023, zone_num_zones=8,
    )
    # batch 1: short texts on low ids; batch 2: long texts on high ids
    # (id-ordered layout DOES cluster length -> skippable)
    b1 = [(i, "x" * 10) for i in range(100)]
    b2 = [(i, "y" * 200) for i in range(600, 700)]
    cap.capture_insert(_doc_rows(spark, b1))
    ing = mk_ing()
    ing.run_available_now()
    cap.capture_insert(_doc_rows(spark, b2))
    mk_ing().run_available_now()
    merged = {r["zone"]: tuple(r) for r in mk_ing().corpus_zone_state().collect()}
    whole = zone_state(
        _doc_rows(spark, b1 + b2).select(
            "doc_id", F.length("text").alias("_len")
        ),
        "doc_id", "_len", 0, 1023, num_zones=8,
    )
    assert merged == {r["zone"]: tuple(r) for r in whole.collect()}
    # replayed batch overwrites its own subpath — state unchanged
    ing._update_zone(_doc_rows(spark, b1), 0)
    assert merged == {
        r["zone"]: tuple(r) for r in mk_ing().corpus_zone_state().collect()
    }
    # the layout clusters length: a short-text predicate skips the
    # long-text zones entirely
    assert mk_ing().zone_skip_estimate(0.0, 50.0) >= 0.4
    # and the PRUNED read path serves that predicate row-identically
    # to the plain corpus filter (surviving zones -> pushed id ranges).
    # NB the corpus is exact-deduped, so it holds fewer rows than the
    # zone state counts — the state summarizes ADMITTED rows, a safe
    # superset for pruning
    pruned = {r["doc_id"] for r in mk_ing().read_pruned(0.0, 50.0).collect()}
    plain = {
        r["doc_id"]
        for r in corpus.read().filter(F.length("text") <= 50).collect()
    }
    assert pruned == plain and len(pruned) >= 1
    # compaction folds all but the NEWEST batch subpath (the replay
    # target) into one base state; the merged state is unchanged
    import os

    folded, remaining = ing.compact_zone_stats()
    assert (folded, remaining) == (1, 2)
    assert merged == {
        r["zone"]: tuple(r) for r in mk_ing().corpus_zone_state().collect()
    }
    # a crashed mid-write temp (no manifest yet) is discarded on the
    # next compact run — sources were still intact at that point
    os.makedirs(tmp_path / "zstats" / "tmp_base", exist_ok=True)
    b3 = [(i, "z" * 50) for i in range(300, 350)]
    cap.capture_insert(_doc_rows(spark, b3))
    mk_ing().run_available_now()
    folded2, _ = ing.compact_zone_stats()  # folds prior batch + base
    assert folded2 == 2
    whole3 = zone_state(
        _doc_rows(spark, b1 + b2 + b3).select(
            "doc_id", F.length("text").alias("_len")
        ),
        "doc_id", "_len", 0, 1023, num_zones=8,
    )
    assert {r["zone"]: tuple(r) for r in mk_ing().corpus_zone_state().collect()} == {
        r["zone"]: tuple(r) for r in whole3.collect()
    }
    # crash mid-_finish — folded sources already removed, tmp (the only
    # surviving copy) still holds the manifest: recovery must COMPLETE
    # the fold. Pre-r8 the manifest was deleted BEFORE the rename, so a
    # crash in that window left a manifest-less tmp that the next run
    # discarded as "crashed mid-write" — permanently losing the folded
    # history (the r7 advisor's medium finding).
    import glob
    import shutil

    from cdc_system_spark.operators.maintenance import zone_merge

    b4 = [(i, "w" * 120) for i in range(400, 450)]
    cap.capture_insert(_doc_rows(spark, b4))
    mk_ing().run_available_now()
    zroot = str(tmp_path / "zstats")
    subs = sorted(glob.glob(os.path.join(zroot, "b*")))
    numbered = [d for d in subs if not d.endswith("bbase")]
    numbered.sort(key=lambda d: int(os.path.basename(d)[1:]))
    fold = numbered[:-1] + [os.path.join(zroot, "bbase")]
    zone_merge(*[spark.read.parquet(d) for d in fold]).localCheckpoint(
        eager=True
    ).write.mode("overwrite").parquet(os.path.join(zroot, "tmp_base"))
    with open(os.path.join(zroot, "tmp_base", "_FOLDED"), "w") as f:
        f.write("\n".join(fold))
    for d in fold:  # the crash point: sources gone, tmp not yet renamed
        shutil.rmtree(d)
    folded3, _ = mk_ing().compact_zone_stats()
    assert folded3 == len(fold)
    whole4 = zone_state(
        _doc_rows(spark, b1 + b2 + b3 + b4).select(
            "doc_id", F.length("text").alias("_len")
        ),
        "doc_id", "_len", 0, 1023, num_zones=8,
    )
    assert {r["zone"]: tuple(r) for r in mk_ing().corpus_zone_state().collect()} == {
        r["zone"]: tuple(r) for r in whole4.collect()
    }
    # crash after the rename, before the in-base manifest cleanup: the
    # stale _FOLDED is invisible to readers and swept by the next call
    stale = os.path.join(zroot, "bbase", "_FOLDED")
    open(stale, "w").write("")
    assert {r["zone"]: tuple(r) for r in mk_ing().corpus_zone_state().collect()} == {
        r["zone"]: tuple(r) for r in whole4.collect()
    }
    mk_ing().compact_zone_stats()
    assert not os.path.exists(stale)
    import pytest as _pytest

    nozone = StreamingCorpusIngestor(
        spark, cap.path, corpus, DOC_SCHEMA,
        checkpoint_path=str(tmp_path / "zkpt2"),
    )
    with _pytest.raises(ValueError, match="zone_stats_path"):
        nozone.corpus_zone_state()


def test_streaming_windowed_kmv_matches_batch_state(spark, tmp_path):
    # distinct users per day via bounded-state KMV
    # (applyInPandasWithState bottom-64 per window): the max-seq
    # streamed state per window must equal the batch kmv_state over
    # that window's rows BIT-FOR-BIT, even when the drain is split
    # across micro-batches (incremental fold == one-shot bottom-k).
    # Watermark exceeds the data span so no window finalizes mid-drain
    # — part-file listing order is not deterministic, and an order that
    # finalizes a window before its last file legitimately LOSES the
    # stragglers (the watermark contract; exercised deterministically
    # in the finalize test below)
    from cdc_system_spark.operators.sketch import kmv_state
    from cdc_system_spark.sources.catalog import load_table
    from cdc_system_spark.streaming.aggregations import windowed_kmv_state

    batch_events = load_table(spark, "/root/testdata/sf0.001", "events")
    batch_events.write.parquet(str(tmp_path / "ev"))
    stream = (
        spark.readStream.schema(batch_events.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(tmp_path / "ev"))
    )
    q = (
        windowed_kmv_state(stream, "user_id", window="1 day", watermark="60 days")
        .writeStream.format("memory")
        .queryName("win_kmv")
        .outputMode("update")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "kkpt"))
        .start()
    )
    q.awaitTermination()
    # consumer contract: the max-seq emission per window is the state
    last = spark.sql(
        """SELECT w_start, h FROM (
               SELECT *, MAX(emit_seq) OVER (PARTITION BY w_start) AS mx
               FROM win_kmv) WHERE emit_seq = mx"""
    )
    days = [r["w_start"] for r in last.select("w_start").distinct().collect()]
    assert len(days) >= 2
    for day in days:
        streamed = sorted(
            r["h"] for r in last.filter(F.col("w_start") == day).collect()
        )
        day_rows = batch_events.filter(
            F.date_trunc("day", F.col("ts").cast("timestamp")) == day
        ).select(F.col("user_id").cast("string").alias("u"))
        batch = sorted(r["h"] for r in kmv_state(day_rows, "u").collect())
        assert streamed == batch, day


def test_interval_ms_compound_and_errors():
    # Spark's window()/withWatermark accept compound intervals and
    # 'week'; _interval_ms must parse everything it forwards to them
    # (pre-r8 it crashed on compound forms — r7 advisor finding)
    import pytest as _pytest

    from cdc_system_spark.streaming.aggregations import _interval_ms

    assert _interval_ms("1 hour") == 3_600_000
    assert _interval_ms("1 hour 30 minutes") == 5_400_000
    assert _interval_ms("2 weeks") == 14 * 86_400_000
    assert _interval_ms("1 day 2 hours 3 seconds") == 93_603_000
    assert _interval_ms("500 milliseconds") == 500
    assert _interval_ms("  3 HOURS ") == 10_800_000
    # r8 advisor: microseconds are Spark-valid too (whole-ms totals);
    # a sub-ms remainder and repeated units get their own clear errors
    assert _interval_ms("100000 microseconds") == 100
    assert _interval_ms("1 second 2000 microseconds") == 1_002
    for bad in ("", "hour", "1", "1 fortnight", "-1 hour", "1 hour 30",
                "1 hour 2 hours"):
        with _pytest.raises(ValueError, match="unsupported interval"):
            _interval_ms(bad)
    with _pytest.raises(ValueError, match="sub-millisecond"):
        _interval_ms("100 microseconds")


def test_streaming_windowed_kmv_offset_timezone(spark, tmp_path):
    # session.timeZone also accepts offset forms pytz/ZoneInfo cannot
    # resolve ('GMT+08:00'); Spark's Arrow serializer localizes every
    # timestamp column crossing into pandas through that lookup, so a
    # stateful query under such a zone dies mid-task with a bare
    # UnknownTimeZoneError (pre-r8 our own state fn ALSO re-derived
    # epoch via ZoneInfo(session_tz) — r7 advisor finding; the epoch
    # math is now JVM-side via a unix_millis key, and the engine-wide
    # Arrow limit is converted into a clear plan-build error naming
    # the IANA equivalent)
    from zoneinfo import ZoneInfo

    import pytest as _pytest

    from cdc_system_spark.streaming.aggregations import (
        _require_arrow_resolvable_tz,
        windowed_kmv_state,
    )

    with _pytest.raises(Exception):
        ZoneInfo("GMT+08:00")  # the exact failure mode being guarded

    # the guard's grammar: IANA and bare pyarrow offsets pass,
    # GMT/UTC-prefixed offset forms fail with an actionable hint
    for ok in ("UTC", "America/New_York", "Etc/GMT-8", "+08:00", "-05:30"):
        _require_arrow_resolvable_tz(ok)
    with _pytest.raises(ValueError, match="Etc/GMT-8"):
        _require_arrow_resolvable_tz("GMT+08:00")
    with _pytest.raises(ValueError, match="Etc/GMT\\+2"):
        _require_arrow_resolvable_tz("UTC-2")
    with _pytest.raises(ValueError, match="IANA"):
        _require_arrow_resolvable_tz("GMT+05:30")  # no Etc equivalent

    schema = "ts timestamp, user_id long"
    spark.createDataFrame(
        [(__import__("datetime").datetime(2024, 1, 1), 1)], schema
    ).write.parquet(str(tmp_path / "ev"))
    prev_tz = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "GMT+08:00")
    try:
        stream = spark.readStream.schema(schema).parquet(str(tmp_path / "ev"))
        with _pytest.raises(ValueError, match="Etc/GMT-8"):
            windowed_kmv_state(stream, "user_id", window="1 day")
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev_tz)
    # and under a resolvable zone the plan builds (smoke, not started)
    windowed_kmv_state(
        spark.readStream.schema(schema).parquet(str(tmp_path / "ev")),
        "user_id",
        window="1 day",
    )


def test_streaming_windowed_kmv_finalize_and_drop_stragglers(spark, tmp_path):
    # deterministic eviction semantics across checkpointed restarts:
    # (1) day-1 folds while open; (2) a later batch with no day-1 data
    # and watermark past day-1's end emits the FINAL day-1 state and
    # evicts it; (3) day-1 stragglers after finalization are DROPPED,
    # never resurrected as a partial state shadowing the final one
    from cdc_system_spark.operators.sketch import kmv_state
    from cdc_system_spark.streaming.aggregations import windowed_kmv_state

    schema = "ts timestamp, user_id long"
    mk = lambda rows: spark.createDataFrame(
        [(__import__("datetime").datetime(2024, 1, d, h), u) for d, h, u in rows],
        schema,
    )
    src = tmp_path / "src"
    src.mkdir()

    def run(tag):
        # foreachBatch sink: the memory sink cannot recover from a
        # checkpoint, and this test's whole point is restart semantics
        out_dir = str(tmp_path / f"out_{tag}")
        stream = spark.readStream.schema(mk([]).schema).parquet(str(src))
        q = (
            windowed_kmv_state(stream, "user_id", window="1 day", watermark="1 hour")
            .writeStream.foreachBatch(
                lambda df, _bid: df.write.mode("append").parquet(out_dir)
            )
            .outputMode("update")
            .trigger(availableNow=True)
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .start()
        )
        q.awaitTermination()
        try:
            return spark.read.parquet(out_dir)
        except Exception:
            return mk([]).sparkSession.createDataFrame(
                [], "w_start timestamp, h long, emit_seq long, final boolean"
            )

    day1 = [(1, h % 23 + 1, u) for h, u in enumerate(range(100, 140))]
    mk(day1).coalesce(1).write.mode("append").parquet(str(src))
    out1 = run("p1")
    assert out1.filter("final").count() == 0
    # phase 2: day-2 23:00 data pushes the watermark past day-1's end
    mk([(2, 23, u) for u in range(200, 210)]).coalesce(1).write.mode(
        "append"
    ).parquet(str(src))
    out2 = run("p2")
    finals = out2.filter("final").select("w_start").distinct().collect()
    assert [r["w_start"].day for r in finals] == [1]
    batch_day1 = kmv_state(
        mk(day1).select(F.col("user_id").cast("string").alias("u")), "u"
    )
    assert sorted(r["h"] for r in out2.filter("final").collect()) == sorted(
        r["h"] for r in batch_day1.collect()
    )
    # phase 3: day-1 stragglers arrive after finalization — dropped
    mk([(1, 12, u) for u in range(300, 320)]).coalesce(1).write.mode(
        "append"
    ).parquet(str(src))
    out3 = run("p3")
    assert out3.filter("w_start = '2024-01-01'").count() == 0


def test_kmv_stats_maintained_and_overlap(spark, tmp_path):
    # the set-algebra stats artifact: per-batch KMV merge over admitted
    # content hashes equals the state built from everything admitted;
    # two corpora's states answer content overlap without reading
    # either corpus
    from cdc_system_spark.operators.sketch import kmv_state
    from cdc_system_spark.streaming import (
        StreamingCorpusIngestor,
        corpus_content_overlap,
    )

    def run(tag, texts_by_batch):
        base = tmp_path / tag
        sys_ = CDCSystem(spark, str(base), "docs")
        cap = sys_.setup_cdc(DOC_SCHEMA, key="doc_id")
        corpus = SnapshotTable(spark, str(base / "corpus"), DOC_SCHEMA)
        corpus.write(_doc_rows(spark, []))
        ing = StreamingCorpusIngestor(
            spark,
            cap.path,
            corpus,
            DOC_SCHEMA,
            checkpoint_path=str(base / "ckpt"),
            kmv_stats_path=str(base / "kmv"),
        )
        mx = -1
        for bid, rows in enumerate(texts_by_batch):
            cap.capture_insert(_doc_rows(spark, rows))
            log = cap.read_log().filter(F.col("cdc_id") > mx)
            ing.apply_batch(log, bid)
            mx = cap.read_log().agg(F.max("cdc_id")).collect()[0][0]
        return ing, str(base / "kmv")

    shared = [(i, f"shared doc number {i}") for i in range(10)]
    a_only = [(100 + i, f"corpus A exclusive {i}") for i in range(10)]
    b_only = [(200 + i, f"corpus B exclusive {i}") for i in range(30)]
    ing_a, kmv_a = run("a", [shared, a_only])
    ing_b, kmv_b = run("b", [shared[:5], b_only])

    # maintained state == one-shot state over everything admitted
    admitted_a = _doc_rows(spark, shared + a_only).select(
        F.md5("text").alias("_c")
    )
    maintained = sorted(
        r["h"] for r in spark.read.parquet(kmv_a).collect()
    )
    assert maintained == sorted(
        r["h"] for r in kmv_state(admitted_a, "_c").collect()
    )

    # both corpora are below saturation, so the overlap is EXACT:
    # |A|=20, |B|=35, |A∩B|=5
    row = corpus_content_overlap(spark, kmv_a, kmv_b).collect()[0]
    assert row["union_est"] == 50.0
    assert row["intersect_est"] == 5.0
    assert row["jaccard_est"] == 0.1


def test_streaming_windowed_kmv_by_group_matches_batch(spark, tmp_path):
    # grouped twin: per-(event_type, day) streamed bottom-64 == batch
    # kmv_state_by over the same rows BIT-FOR-BIT across a multi-file
    # drain (same contract as the ungrouped test; group key rides the
    # state key, so eviction and folding are per (group, window))
    from cdc_system_spark.operators.sketch import kmv_state_by
    from cdc_system_spark.sources.catalog import load_table
    from cdc_system_spark.streaming.aggregations import windowed_kmv_state_by

    batch_events = load_table(spark, "/root/testdata/sf0.001", "events")
    batch_events.write.parquet(str(tmp_path / "ev"))
    q = (
        windowed_kmv_state_by(
            spark.readStream.schema(batch_events.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(tmp_path / "ev")),
            ["event_type"],
            "user_id",
            window="1 day",
            watermark="60 days",
        )
        .writeStream.format("memory")
        .queryName("win_kmv_by")
        .outputMode("update")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "kkpt"))
        .start()
    )
    q.awaitTermination()
    last = spark.sql(
        """SELECT event_type, w_start, h FROM (
               SELECT *, MAX(emit_seq) OVER (
                   PARTITION BY event_type, w_start) AS mx
               FROM win_kmv_by) WHERE emit_seq = mx"""
    )
    streamed = sorted(
        (r["event_type"], r["w_start"], r["h"]) for r in last.collect()
    )
    expected = sorted(
        (r["event_type"], r["w_day"], r["h"])
        for r in kmv_state_by(
            batch_events.select(
                "event_type",
                F.date_trunc("day", F.col("ts").cast("timestamp")).alias(
                    "w_day"
                ),
                F.col("user_id").cast("string").alias("u"),
            ),
            ["event_type", "w_day"],
            "u",
        ).collect()
    )
    assert len({k for k, _, _ in streamed}) >= 2  # multiple groups live
    assert streamed == expected


def test_delete_and_reinsert_same_text_in_one_batch(spark, tmp_path):
    # net-effect semantics, forward-looking: a batch that DELETEs doc X
    # and INSERTs doc Y carrying X's exact text must land Y — the r9
    # self-review found the admission hash set (and the fuzzy gates)
    # probing the PRE-delete corpus, so Y was dropped against the
    # doomed X and X then deleted: the content vanished entirely
    # one leg suffices: the fix is a single reassignment of `current`
    # before the gates, and the fuzzy gates / signature loads / hash
    # dedup all read that same variable — the plain path exercises it
    from cdc_system_spark.streaming import StreamingCorpusIngestor

    base = tmp_path / "plain"
    sys_ = CDCSystem(spark, str(base), "docs")
    cap = sys_.setup_cdc(DOC_SCHEMA, key="doc_id")
    corpus = SnapshotTable(spark, str(base / "corpus"), DOC_SCHEMA)
    text = "the exact same document body shared by old and new rows"
    corpus.write(_doc_rows(spark, [(1, text), (2, "unrelated beta")]))
    cap.capture_delete(_doc_rows(spark, [(1, text)]))
    cap.capture_insert(_doc_rows(spark, [(10, text)]))
    ing = StreamingCorpusIngestor(
        spark, cap.path, corpus, DOC_SCHEMA,
        checkpoint_path=str(base / "ckpt"),
    )
    ing.apply_batch(cap.read_log(), 0)
    rows = {r["doc_id"]: r["text"] for r in corpus.read().collect()}
    assert rows == {2: "unrelated beta", 10: text}


def test_streaming_windowed_bloom_matches_batch(spark, tmp_path):
    # the membership member of the streaming sketch family: streamed
    # per-(event_type, day) set-bit tables == batch bloom_build_by
    # over the same rows exactly (same md5 bit mapping, computed
    # map-side before the bounded windowed groupBy)
    from cdc_system_spark.operators.bloom import bloom_build_by
    from cdc_system_spark.sources.catalog import load_table
    from cdc_system_spark.streaming.aggregations import (
        windowed_bloom_state,
        windowed_bloom_state_by,
    )

    batch_events = load_table(spark, "/root/testdata/sf0.001", "events")
    batch_events.write.parquet(str(tmp_path / "ev"))
    q = (
        windowed_bloom_state_by(
            spark.readStream.schema(batch_events.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(tmp_path / "ev")),
            ["event_type"],
            "user_id",
            window="1 day",
            watermark="1 hour",
        )
        .writeStream.format("memory")
        .queryName("win_bloom")
        .outputMode("complete")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "bkpt"))
        .start()
    )
    q.awaitTermination()
    streamed = sorted(
        (r["event_type"], r["w_start"], r["bit"])
        for r in spark.sql("SELECT * FROM win_bloom").collect()
    )
    day_rows = batch_events.select(
        "event_type",
        F.date_trunc("day", F.col("ts").cast("timestamp")).alias("w_day"),
        "user_id",
    )
    expected = sorted(
        (r["event_type"], r["w_day"], r["bit"])
        for r in bloom_build_by(
            day_rows, ["event_type", "w_day"], "user_id"
        ).collect()
    )
    assert len({k for k, _, _ in streamed}) >= 2
    assert streamed == expected
    # the scalar wrapper, evaluated in batch form (stream-agnostic
    # construction): per-day bits == grouped form without the group
    scalar = sorted(
        (r["w_start"], r["bit"])
        for r in windowed_bloom_state(
            batch_events, "user_id", window="1 day", watermark="1 hour"
        ).collect()
    )
    per_day = sorted(
        (r["w_day"], r["bit"])
        for r in bloom_build_by(day_rows, ["w_day"], "user_id").collect()
    )
    assert scalar == per_day
    with pytest.raises(ValueError, match="group_cols"):
        windowed_bloom_state_by(batch_events, ["nope"], "user_id")
    with pytest.raises(ValueError, match="num_bits"):
        windowed_bloom_state(batch_events, "user_id", num_bits=4)


def test_streaming_ann_ingestor_maintains_tiers_and_staleness(spark, tmp_path):
    # the streaming twin of ann_index_ingest (r11 verdict task 8): a
    # change-log drain ingests fresh vectors WITH every attached tier
    # encoded (here the Matryoshka pvec), keeps the KMV stats state
    # mergeable for the zero-scan staleness poll, and a checkpoint
    # restart re-delivers nothing
    from cdc_system_spark.operators import ann_index as AI
    from cdc_system_spark.operators.capture import LogCapture
    from cdc_system_spark.sources.catalog import load_table
    from cdc_system_spark.streaming.ann import StreamingAnnIngestor

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    base = emb.filter("vec_id % 3 <> 0")
    rest = emb.filter("vec_id % 3 = 0")
    idx = str(tmp_path / "idx")
    AI.ann_index_build(base, idx, num_centroids=8, prefix_dims=16)
    cap = LogCapture(spark, str(tmp_path), "emb", key="vec_id")
    cap.capture_insert(rest)
    ing = StreamingAnnIngestor(spark, cap.path, idx)
    ing.run_available_now()
    assert ing.rows_admitted == rest.count()
    _, asg = AI.ann_index_load(spark, idx)
    assert asg.count() == emb.count()
    # the streamed rows carry the stored prefix tier
    r = asg.filter(F.col("vec_id") == 3).head()
    assert [float(x) for x in r["pvec"]] == [float(x) for x in r["embedding"][:16]]
    # a fresh ingestor over the same checkpoint re-delivers nothing
    ing2 = StreamingAnnIngestor(spark, cap.path, idx)
    ing2.run_available_now()
    assert ing2.rows_admitted == 0 and asg.count() == emb.count()
    # an UPDATE (re-embedding) streams in as a new version; the
    # staleness poll sees the churn without any corpus scan
    new_rows = emb.filter(F.col("vec_id") == 3).select(
        "vec_id",
        F.transform("embedding", lambda x: x * F.lit(1.1))
        .cast("array<float>").alias("embedding"),
    )
    cap.capture_update(new_rows, emb.filter(F.col("vec_id") == 3))
    ing3 = StreamingAnnIngestor(spark, cap.path, idx)
    ing3.run_available_now()
    assert ing3.rows_admitted == 1
    current = (
        emb.filter("vec_id <> 3").select("vec_id", "embedding")
        .unionByName(new_rows)
    )
    st = ing3.staleness(current).head()
    assert st["n_live"] == emb.count()
    assert st["churn_est"] > 0.0  # one stale version of vec_id=3 behind
