"""Set-oriented change application (the MERGE path).

The reference replays changes one row at a time in ``cdc_id`` order
(dispatch loop cdc_system.py:297-310; upsert :320-329, update :331-343,
delete :345-350). Sequential replay is the one thing a distributed
engine must not do; the equivalent set-oriented program reduces each
batch to its *net effect* per key, then applies it as one bulk merge.

Sequential-replay semantics being reproduced (full row images, upsert =
INSERT OR REPLACE per cdc_system.py:323, UPDATE no-ops on a missing key
per cdc_system.py:331-343):

* per key, the last INSERT/DELETE in the batch decides *existence*;
* the last change overall supplies the *image*;
* a batch of only UPDATEs applies iff the key already exists in target.

``net_effect_reduce`` computes exactly that in one hash aggregation
(single shuffle on the key); ``apply_changes`` then applies the net
batch in one pass over the target: a left join against the broadcast
batch keeps, replaces or drops each target row, and the UPSERT images
are appended. Equivalence to row-at-a-time replay is proven by a
seeded property test (tests/test_merge.py, SURVEY §5.3#3).

Scale: the change batch is typically tiny next to the target, so the
join always broadcasts the batch side and the target is scanned once
and never shuffled, whatever ``autoBroadcastJoinThreshold`` says — the
100 TB target stays where it is. Nor is it rewritten per batch: a
replication round commits only its batch, as a delta version of the
replica (``SnapshotTable.merge_changes``), and reads fold the deltas
over the last full snapshot with :func:`fold_changes`, the lazy form of
the same merge. Because the net-effect reduction composes (replaying
two batches in ``cdc_id`` order is replaying their union), folding the
union of the deltas equals applying them one by one; the full rewrite
happens once per base's worth of delta bytes (compaction).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from cdc_system_spark.model import ChangeOp

_INS = ChangeOp.INSERT.value
_UPD = ChangeOp.UPDATE.value
_DEL = ChangeOp.DELETE.value


def net_effect_reduce(
    changes: DataFrame, key: str = "record_id", order: str = "cdc_id"
) -> DataFrame:
    """Reduce a batch to one net-effect row per key.

    Output columns: ``key``, ``effect`` ∈ {UPSERT, DELETE, UPDATE_IF_EXISTS},
    ``new`` (image struct for non-DELETE effects), ``<order>`` (of the
    decisive change, for audit). A single hash aggregation (one shuffle,
    partial map-side combine): ``max_by`` picks both the last
    existence-determining op and the last image.
    """
    agg = changes.groupBy(key).agg(
        F.max_by("operation", F.when(F.col("operation") != _UPD, F.col(order))).alias(
            "_last_exist_op"
        ),
        F.max_by("new", F.col(order)).alias("new"),
        F.max(F.col(order)).alias(order),
    )
    return agg.select(
        F.col(key),
        F.when(F.col("_last_exist_op") == _DEL, F.lit("DELETE"))
        .when(F.col("_last_exist_op") == _INS, F.lit("UPSERT"))
        .otherwise(F.lit("UPDATE_IF_EXISTS"))
        .alias("effect"),
        "new",
        order,
    )


def apply_changes(
    target: DataFrame,
    changes: DataFrame,
    key: str = "id",
    change_key: str = "record_id",
) -> DataFrame:
    """Bulk-apply a change batch to a target snapshot; returns the new snapshot.

    ``changes`` is an audit-schema DataFrame with a typed ``new`` struct
    column (decoded row image, NULL for DELETE) whose fields match the
    target's columns. Internally net-effect-reduces, then left-joins the
    target with the broadcast net batch on the key:

    * no match → the target row is kept as is
    * UPDATE_IF_EXISTS match → the row takes the batch image
    * UPSERT or DELETE match → the row is dropped

    and appends the UPSERT images.
    """
    # The reduced batch feeds two consumers (the broadcast join side and
    # the appended UPSERT images); without truncating lineage Catalyst
    # recomputes the groupBy per consumer. localCheckpoint materializes
    # the tiny net batch once. Eager: an A/B at sf0.1 (interleaved
    # min-of-5, same session) measured eager 0.99 s vs lazy 1.02 s vs
    # cache 0.91 s — cache is fastest but pins blocks until LRU eviction
    # (a library primitive must not leak cache entries); eager keeps
    # ContextCleaner-managed cleanup.
    net = net_effect_reduce(changes, key=change_key).localCheckpoint(eager=True)
    return _apply_net(target, net, key, change_key)


def fold_changes(
    target: DataFrame,
    changes: DataFrame,
    key: str = "id",
    change_key: str = "record_id",
) -> DataFrame:
    """:func:`apply_changes` as a lazy plan: the same merge, and no Spark
    job until the result is evaluated. The net batch is not checkpointed;
    its two consumers plan the same aggregation, and Spark's exchange
    reuse runs that shuffle once, so ``changes`` is scanned once. This is
    the read side of a merge-on-read table (``SnapshotTable.read``)."""
    # the join infers this filter for its side; stating it for both
    # consumers makes their shuffles identical, which exchange reuse
    # needs. Capture rejects a NULL key (capture.as_changes), so no
    # change is lost to it.
    keyed = changes.filter(F.col(change_key).isNotNull())
    return _apply_net(target, net_effect_reduce(keyed, key=change_key), key, change_key)


def _apply_net(target: DataFrame, net: DataFrame, key: str, change_key: str) -> DataFrame:
    # renamed so that a target column called ``new`` or ``effect`` cannot clash
    net = net.select(
        F.col(change_key).alias("_k"), F.col("effect").alias("_effect"), F.col("new").alias("_new")
    )

    hit = F.col("_k").isNotNull()
    joined = target.join(F.broadcast(net), target[key] == net["_k"], "left")
    kept = joined.filter(~hit | (F.col("_effect") == "UPDATE_IF_EXISTS")).select(
        *[F.when(hit, F.col(f"_new.{c}")).otherwise(target[c]).alias(c) for c in target.columns]
    )
    upserts = net.filter(F.col("_effect") == "UPSERT").select(F.col("_new.*"))
    return kept.unionByName(upserts)
