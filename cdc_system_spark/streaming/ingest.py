"""CDC-native corpus maintenance: change stream → curated corpus.

The missing link between the engine's two halves: change capture
(operators/capture.py writes the audit-schema log the reference's
triggers produce, cdc_system.py:105-141) and corpus curation
(operators/curation.py `incremental_ingest`). A training corpus fed by
a CDC stream is maintained exactly like a replica — except the merge
policy is content-aware: admitted rows are content-hash-deduped against
the corpus, not just keyed by id.

Shape: Structured Streaming file source over the parquet change log →
``foreachBatch`` → net-effect reduce (one final effect per record, so a
delete-then-reinsert batch lands correctly) → ``incremental_ingest``
for the upsert side + id anti join for the delete side. Offsets live in
the checkpoint.

Exactly-once: content-hash admission alone is NOT replay-stable (a
dupe dropped against the pre-batch corpus can be admitted if the batch
replays after the corpus mutated), so the ingestor commits the batch id
atomically with the corpus flip (``SnapshotTable.write(meta=...)`` —
Delta's txnAppId/txnVersion pattern, minimal edition) and skips any
batch id at-or-below the last committed one. Crash anywhere: either the
flip didn't happen (replay applies to the pre-batch corpus, same
result) or it did (replay is skipped by the marker).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from cdc_system_spark.api import SnapshotTable
from cdc_system_spark.operators.curation import (
    containment_ingest,
    incremental_ingest,
    neardup_ingest,
)
from cdc_system_spark.operators.merge import net_effect_reduce
from cdc_system_spark.streaming.source import read_change_stream


class StreamingCorpusIngestor:
    """Maintain a curated document corpus from a CDC change stream.

    ``doc_schema`` describes the document row (must contain ``id_col``
    and ``text_col``); change rows carry it as the typed image ``new``,
    keyed by ``record_id``, as the log reader gives them
    (``read_change_stream`` with ``doc_schema``, or ``LogCapture.read_log``
    of a log registered with it).
    """

    def __init__(
        self,
        spark: SparkSession,
        log_path: str,
        corpus: SnapshotTable,
        doc_schema: T.StructType,
        id_col: str = "doc_id",
        text_col: str = "text",
        checkpoint_path: str | None = None,
        max_files_per_trigger: int | None = None,
        neardup_threshold: float | None = None,
        containment_threshold: float | None = None,
        admission_filter=None,
        stats_path: str | None = None,
        lsh_index_path: str | None = None,
        kmv_stats_path: str | None = None,
        zone_stats_path: str | None = None,
        zone_hi: int = (1 << 20) - 1,
        zone_num_zones: int = 64,
        gate_max_bucket: int = 1000,
    ):
        if id_col not in doc_schema.names or text_col not in doc_schema.names:
            raise ValueError(
                f"doc_schema must contain id_col {id_col!r} and "
                f"text_col {text_col!r}; has {doc_schema.names}"
            )
        self.spark = spark
        self.log_path = log_path
        self.corpus = corpus
        self.doc_schema = doc_schema
        self.id_col = id_col
        self.text_col = text_col
        self.checkpoint_path = checkpoint_path or log_path + "_ingest_checkpoint"
        self.max_files_per_trigger = max_files_per_trigger
        #: optional fuzzy admission: reject admitted rows whose MinHash
        #: Jaccard estimate vs a DIFFERENT-id corpus doc reaches this;
        #: also dedups near-dup FRESH twins arriving in the same
        #: micro-batch (smaller-id survivor — neither twin is in the
        #: corpus yet, so the corpus probe alone would admit both).
        #: None = exact content-hash dedup only.
        self.neardup_threshold = neardup_threshold
        #: optional ASYMMETRIC admission gate: reject admitted rows
        #: whose estimated containment in a different-id corpus doc of
        #: at-least-equal shingle count reaches this (the quoted-subset
        #: case Jaccard admission misses — Broder's
        #: resemblance-vs-containment distinction); also drops the
        #: smaller side of quoted-subset pairs arriving in the same
        #: micro-batch. Composes with ``neardup_threshold`` (either or
        #: both). With ``lsh_index_path`` set, the corpus side reads
        #: the maintained signature table — live-filtered by default
        #: (one md5 pass over corpus bytes, zero shingling), or with
        #: ZERO corpus reads right after :meth:`compact_index` (the
        #: trusted window lasts while batches stay insert-only and the
        #: process stays up; any UPDATE/DELETE/overwrite falls back to
        #: the live filter automatically).
        self.containment_threshold = containment_threshold
        #: LSH degeneracy cap forwarded to both admission gates: band
        #: buckets with more corpus members are dropped as boilerplate
        #: (the standard candidate-volume guard). Tune DOWN for
        #: boilerplate-heavy corpora; a doc whose every bucket is
        #: degenerate bypasses the fuzzy gates and falls through to
        #: the exact content-hash dedup (which the index-maintenance
        #: path is hardened against — ingest survivors only).
        self.gate_max_bucket = gate_max_bucket
        #: True only between a :meth:`compact_index` call and the next
        #: batch that leaves stale versions behind (UPDATE/DELETE or an
        #: overwriting UPSERT); NOT persisted — a restart conservatively
        #: resumes live-filtered (a crashed flip can leave the index a
        #: superset of the corpus, which the live filter tolerates and
        #: the trusted path must not).
        self._index_trusted = False
        #: optional content gate: ``(DataFrame) -> DataFrame`` applied
        #: to the admitted batch BEFORE the near-dup/exact merge,
        #: returning only surviving rows with the schema unchanged —
        #: compose quality gates here (e.g. ``lambda df:
        #: df.join(blocklist_filter(df, terms).filter("keep")
        #: .select(id_col), id_col, "left_semi")``). Runs on the tiny
        #: batch side only, never against the corpus.
        self.admission_filter = admission_filter
        #: optional maintained corpus sketch: a persisted HLL state
        #: (<= 64 rows parquet) of every content hash EVER ADMITTED —
        #: updated per batch by lossless merge, raw corpus never
        #: re-scanned. Monotone by construction (DELETEs don't shrink
        #: it): it answers "how much distinct content has flowed
        #: through", the dedup-rate denominator; for the CURRENT
        #: corpus's distinct count run ``hll_state(corpus.read())``.
        #: Replay-safe twice over: the batch marker skips replays, and
        #: even a forced double-merge is a no-op (HLL merge is
        #: idempotent — max per bucket).
        self.stats_path = stats_path
        #: optional maintained MinHash-LSH index (operators/lsh_index):
        #: when set (with ``neardup_threshold``), the per-batch corpus
        #: probe reads the PERSISTED signature/band tables filtered to
        #: the corpus's live (id, text) versions instead of re-shingling
        #: the whole corpus text each batch, and every admitted batch
        #: appends its versions to the index before the corpus flip.
        #: Bootstraps from the current corpus on first use; admitted-set
        #: parity with the inline recompute is exact
        #: (lsh_index_probe_tables signs any uncovered live version
        #: inline). Replay-safe: version-keyed anti-join ingest no-ops
        #: on re-delivery, and pre-flip index rows are invisible to a
        #: replay's probe (their versions aren't live yet).
        self.lsh_index_path = lsh_index_path
        #: optional maintained KMV state (<= 64-row parquet) over every
        #: content hash EVER ADMITTED — the set-algebra sibling of
        #: ``stats_path``'s HLL: two ingestors' KMV states answer "how
        #: much distinct content do these corpora share?"
        #: (:func:`corpus_content_overlap`) without reading either
        #: corpus — the train/eval contamination smoke test at the
        #: content-hash level. Same monotonicity, bootstrap, and
        #: crash-window contract as ``stats_path`` (merge is idempotent:
        #: bottom-k of a distinct union).
        self.kmv_stats_path = kmv_stats_path
        #: optional maintained zone-map state (≤ zone_num_zones rows of
        #: parquet) over every row EVER ADMITTED: order key = id (the
        #: write/layout order under monotone CDC ids), value = text
        #: length — the layout-quality artifact. Answers "what fraction
        #: of the corpus would a length-range scan skip under the
        #: current layout" (``zone_skip_estimate``) without scanning
        #: the corpus; near-global per-zone spans diagnose a layout
        #: that needs a compact_zordered/compact_hilbert rewrite. The
        #: geometry (``[0, zone_hi]`` id range, ``zone_num_zones``) is
        #: FROZEN at construction — zone_merge requires one geometry;
        #: ids past zone_hi clamp into the top zone. Replay safety
        #: differs from the HLL/KMV states: zone COUNTS are additive,
        #: so a read-merge-rewrite would double-count a replayed batch.
        #: Instead each batch's ≤ num_zones-row state is written to its
        #: own ``b{batch_id}`` subpath (a replay OVERWRITES the same
        #: subpath — idempotent by construction) and readers merge the
        #: per-batch states; merge-of-batches == rebuild-from-all is
        #: the q_zone_merged oracle proof.
        self.zone_stats_path = zone_stats_path
        self.zone_hi = zone_hi
        self.zone_num_zones = zone_num_zones
        self.batches_applied = 0

    def _lsh_probe_tables(self, current: DataFrame) -> dict:
        from pyspark.errors import AnalysisException

        from cdc_system_spark.operators import lsh_index as LI

        # neardup_ingest below runs the DEFAULT hash geometry; an index
        # frozen on anything else must fail loudly (probe_tables
        # validates ALL THREE geometry knobs against the stored meta —
        # shingle_k included, since mismatched shingles hash different
        # features and band joins come up silently empty), not admit
        # near-duplicates. One load per batch — bootstrap on first use.
        probe = lambda: LI.lsh_index_probe_tables(
            self.spark,
            self.lsh_index_path,
            current,
            text_col=self.text_col,
            id_col=self.id_col,
            num_perms=16,
            rows_per_band=4,
            shingle_k=7,
        )
        try:
            sigs, bands = probe()
        except AnalysisException as exc:
            if "PATH_NOT_FOUND" not in str(exc) and "Path does not exist" not in str(
                exc
            ):
                raise
            LI.lsh_index_build(
                current.select(self.id_col, self.text_col),
                self.lsh_index_path,
                text_col=self.text_col,
                id_col=self.id_col,
            )
            sigs, bands = probe()
        return {"corpus_sigs": sigs, "corpus_bands": bands}

    def _lsh_signature_table(
        self, current: DataFrame, trusted: bool
    ) -> DataFrame:
        """The maintained ``(id, h0.., n_sh)`` signature frame for the
        containment gate — live-filtered, or read directly (zero corpus
        access) inside the post-:meth:`compact_index` trusted window.
        Bootstraps the index from the current corpus on first use, like
        :meth:`_lsh_probe_tables`."""
        from pyspark.errors import AnalysisException

        from cdc_system_spark.operators import lsh_index as LI

        load = lambda: LI.lsh_index_signature_tables(
            self.spark,
            self.lsh_index_path,
            current,
            text_col=self.text_col,
            id_col=self.id_col,
            num_perms=16,
            shingle_k=7,
            assume_covered=trusted,
        )
        try:
            return load()
        except AnalysisException as exc:
            if "PATH_NOT_FOUND" not in str(exc) and "Path does not exist" not in str(
                exc
            ):
                raise
            LI.lsh_index_build(
                current.select(self.id_col, self.text_col),
                self.lsh_index_path,
                text_col=self.text_col,
                id_col=self.id_col,
            )
            return load()

    def compact_index(self) -> tuple[int, int]:
        """Compact the maintained LSH index against the CURRENT corpus
        (reclaims the stale versions UPDATE/DELETE leave behind) and
        open the TRUSTED window: until the next batch that leaves stale
        versions, the containment gate reads the stored signature table
        directly — zero corpus reads, not even the live-filter's md5
        pass. Returns ``(kept, dropped)``. Run on the same cadence as
        the other compactions (when the stale fraction is worth it)."""
        from cdc_system_spark.operators import lsh_index as LI

        if self.lsh_index_path is None:
            raise ValueError("lsh_index_path was not configured")
        kept = LI.lsh_index_compact(
            self.spark,
            self.lsh_index_path,
            self.corpus.read().select(self.id_col, self.text_col),
            text_col=self.text_col,
            id_col=self.id_col,
        )
        self._index_trusted = True
        return kept

    def _update_stats(self, admitted: DataFrame) -> None:
        from pyspark.errors import AnalysisException

        from cdc_system_spark.operators.sketch import hll_merge, hll_state

        new_state = hll_state(
            admitted.select(F.md5(F.col(self.text_col)).alias("_c")), "_c"
        )
        try:
            prev = self.spark.read.parquet(self.stats_path)
            merged = hll_merge(prev, new_state)
        except AnalysisException as exc:
            # ONLY the first-run bootstrap (path doesn't exist yet) may
            # fall back to the single-batch state; any other read
            # failure (transient FS error, corrupt footer) must NOT
            # silently reset the monotone ever-admitted sketch.
            if "PATH_NOT_FOUND" not in str(exc) and "Path does not exist" not in str(
                exc
            ):
                raise
            merged = new_state
        # break lineage from the path being overwritten before the
        # overwrite (reading and rewriting one path in a single plan
        # truncates it mid-scan)
        merged.localCheckpoint(eager=True).write.mode("overwrite").parquet(
            self.stats_path
        )

    def _update_kmv(self, admitted: DataFrame) -> None:
        from pyspark.errors import AnalysisException

        from cdc_system_spark.operators.sketch import kmv_merge, kmv_state

        new_state = kmv_state(
            admitted.select(F.md5(F.col(self.text_col)).alias("_c")), "_c"
        )
        try:
            prev = self.spark.read.parquet(self.kmv_stats_path)
            merged = kmv_merge(prev, new_state)
        except AnalysisException as exc:
            # PATH_NOT_FOUND-only bootstrap — any other read failure
            # must not silently reset the monotone ever-admitted state
            # (same contract as _update_stats)
            if "PATH_NOT_FOUND" not in str(exc) and "Path does not exist" not in str(
                exc
            ):
                raise
            merged = new_state
        merged.localCheckpoint(eager=True).write.mode("overwrite").parquet(
            self.kmv_stats_path
        )

    def _update_zone(self, admitted: DataFrame, batch_id: int) -> None:
        from cdc_system_spark.operators.maintenance import zone_state

        st = zone_state(
            admitted.select(
                F.col(self.id_col),
                F.length(F.col(self.text_col)).alias("_len"),
            ),
            self.id_col,
            "_len",
            0,
            self.zone_hi,
            self.zone_num_zones,
        )
        # per-batch subpath: a replayed batch overwrites ITS OWN state
        # (idempotent), never re-merges into an accumulated one —
        # additive counts make read-merge-rewrite unsafe under replay
        st.write.mode("overwrite").parquet(
            f"{self.zone_stats_path}/b{batch_id}"
        )

    def compact_zone_stats(self) -> tuple[int, int]:
        """Fold the per-batch zone states into one base state, keeping
        the NEWEST batch subpath out of the fold: replays only ever
        re-deliver batches past the committed marker — i.e. the newest
        — and a replayed batch must overwrite its own subpath, not
        double-count against a base that already absorbed it. Returns
        ``(folded, remaining_subpaths)``.

        Run it when the subpath count is worth the rewrite (the
        zone-map sibling of ``lsh_index_compact``'s cadence). Plain-FS
        crash safety via a manifest, since the three steps (write fold,
        remove folded, rename) are not atomic here (a table format's
        REPLACE would be): the fold is written to a temp dir OUTSIDE
        the reader glob, then a ``_FOLDED`` manifest is dropped inside
        it, then the folded subpaths are removed, the temp is renamed
        into place WITH the manifest still inside (parquet readers
        ignore ``_``-prefixed files), and the manifest is deleted LAST.
        That ordering means tmp is never simultaneously the only
        surviving copy and manifest-less: a crash before the manifest
        leaves every source intact (the orphan temp is discarded on the
        next run); a crash mid-removal or pre-rename is completed by
        the next run (re-remove what remains of the manifest list,
        rename); a crash after the rename leaves only a stale in-base
        manifest, swept on the next call — never a double-count, never
        a loss.
        """
        import glob
        import os
        import shutil

        from cdc_system_spark.operators.maintenance import zone_merge

        if self.zone_stats_path is None:
            raise ValueError("zone_stats_path was not configured")
        root = self.zone_stats_path
        base = os.path.join(root, "bbase")
        tmp = os.path.join(root, "tmp_base")  # outside the b* glob
        man = os.path.join(tmp, "_FOLDED")  # _ prefix: parquet ignores it

        def _finish() -> int:
            folded = [d for d in open(man).read().splitlines() if d]
            for d in folded:
                if os.path.exists(d):
                    shutil.rmtree(d)
            # manifest rides inside the rename (readers ignore _*) and
            # is deleted last — a manifest-less tmp therefore ALWAYS
            # means "crashed mid-write, sources intact", never "only
            # surviving copy" (the pre-r8 remove-then-rename ordering
            # had exactly that loss window)
            os.rename(tmp, base)
            os.remove(os.path.join(base, "_FOLDED"))
            return len(folded)

        stale_man = os.path.join(base, "_FOLDED")
        if os.path.exists(stale_man):  # crashed after rename: sweep
            os.remove(stale_man)
        if os.path.exists(tmp):
            if os.path.exists(man):  # crashed mid-removal: complete it
                return _finish(), 2
            shutil.rmtree(tmp)  # crashed mid-write: sources intact
        subs = sorted(glob.glob(os.path.join(root, "b*")))
        numbered = [d for d in subs if d != base]
        if len(numbered) <= 1:
            return 0, len(subs)
        # keep the newest batch id out of the fold (replay target)
        numbered.sort(key=lambda d: int(os.path.basename(d)[1:]))
        fold = numbered[:-1] + ([base] if base in subs else [])
        merged = zone_merge(
            *[self.spark.read.parquet(d) for d in fold]
        ).localCheckpoint(eager=True)
        merged.write.mode("overwrite").parquet(tmp)
        with open(man, "w") as f:
            f.write("\n".join(fold))
        return _finish(), 2

    def corpus_zone_state(self) -> DataFrame:
        """The merged zone-map state over every batch ever admitted
        (``(zone, n_rows, v_min, v_max)``, ≤ ``zone_num_zones`` rows):
        one scan over the tiny per-batch states, zone-grouped — the
        corpus is not read."""
        from cdc_system_spark.operators.maintenance import zone_merge

        if self.zone_stats_path is None:
            raise ValueError("zone_stats_path was not configured")
        return zone_merge(self.spark.read.parquet(f"{self.zone_stats_path}/b*"))

    def zone_skip_estimate(self, lo: float, hi: float) -> float:
        """Fraction of ever-admitted rows a ``text length BETWEEN lo
        AND hi`` scan could skip under the id-ordered layout, from the
        maintained zone state alone (``prune_fraction`` semantics).
        A low number on a selective predicate is the signal to schedule
        a ``compact_zordered``/``compact_hilbert`` rewrite."""
        from cdc_system_spark.operators.maintenance import prune_fraction

        row = prune_fraction(self.corpus_zone_state(), lo, hi).head()
        return float(row["skip_fraction"] or 0.0)

    def read_pruned(self, lo: float, hi: float) -> DataFrame:
        """The corpus rows with ``length(text) BETWEEN lo AND hi``,
        scanned through the maintained zone state
        (:func:`~cdc_system_spark.operators.maintenance
        .zone_pruned_between`): surviving zones convert to id ranges
        that reach the parquet scan as pushed filters, so row groups
        outside them never load — the read path
        :meth:`zone_skip_estimate` forecasts. Row-identical to the
        plain filter; the state is maintained per admitted batch, so
        it is always current for the committed corpus."""
        from cdc_system_spark.operators.maintenance import (
            zone_pruned_between,
        )

        return zone_pruned_between(
            self.corpus.read(),
            self.corpus_zone_state(),
            self.id_col,
            F.length(F.col(self.text_col)),
            lo,
            hi,
            0,
            self.zone_hi,
            self.zone_num_zones,
        )

    def distinct_content_estimate(self) -> float:
        """HLL estimate of distinct content ever admitted (see
        ``stats_path``); 0.0 before any batch."""
        from cdc_system_spark.operators.sketch import hll_estimate

        if self.stats_path is None:
            raise ValueError("stats_path was not configured")
        try:
            state = self.spark.read.parquet(self.stats_path)
        except Exception:
            return 0.0
        return float(hll_estimate(state).head()["n_est"])

    def apply_batch(self, batch: DataFrame, batch_id: int) -> None:
        """Apply one change micro-batch to the corpus (exactly-once via
        the corpus's transactional batch marker)."""
        meta = self.corpus.meta()
        if meta.get("ingest_app") == self.checkpoint_path:
            # foreachBatch replays a failed batch under the SAME id
            # (scoped to one checkpoint — a fresh checkpoint restarts
            # ids from 0, hence the app guard)
            if batch_id <= int(meta.get("ingest_batch", -1)):
                return
        if batch.isEmpty():
            return
        # One net effect per record: an INSERT→DELETE batch nets to
        # DELETE, DELETE→INSERT nets to UPSERT — replaying per-op in
        # order inside foreachBatch would be driver-side sequencing;
        # the reduce is one hash aggregation.
        net = net_effect_reduce(batch, key="record_id").localCheckpoint(eager=True)

        current = self.corpus.read()
        # disarm the trusted window for the batch's DURATION and
        # re-arm only after a successful corpus flip: by the time the
        # flip runs, the index already holds this attempt's versions
        # (ingested below, pre-flip) — so if the flip fails and the
        # caller retries apply_batch IN-PROCESS, a still-armed trusted
        # path would read stored-but-uncommitted versions, the exact
        # superset state its contract forbids (the restart-resets-flag
        # defense only covers process death, not in-process retry)
        trusted_for_batch = self._index_trusted
        self._index_trusted = False
        delete_ids = net.filter(F.col("effect") == "DELETE").select(
            F.col("record_id").alias(self.id_col)
        )
        upserts = net.filter(
            (F.col("effect") == "UPSERT") & F.col(f"new.{self.id_col}").isNotNull()
        ).select("new.*")
        # UPDATE on a missing key no-ops (the replicator's contract,
        # reference cdc_system.py:334-350): keep only updates whose id
        # is already in the corpus.
        cond_updates = (
            net.filter(
                (F.col("effect") == "UPDATE_IF_EXISTS")
                & F.col(f"new.{self.id_col}").isNotNull()
            )
            .select("new.*")
            .join(current.select(self.id_col), self.id_col, "left_semi")
        )
        # every admission decision below (fuzzy gates, content-hash
        # dedup, the merge) runs against the POST-DELETE corpus: under
        # net-effect semantics the batch's deletes are already decided,
        # so a batch that deletes doc X and inserts doc Y carrying X's
        # text must admit Y — gating against the pre-delete corpus
        # dropped Y against the doomed X and then deleted X, losing
        # the content entirely (r9 self-review finding; the
        # forward-looking reading of a collapsed DELETE→INSERT, same
        # family as net_effect_reduce's DELETE→UPSERT contract).
        # cond_updates above intentionally still checks the PRE-delete
        # corpus: a record has ONE net effect, so an UPDATE's own key
        # is never in delete_ids, and existence is a per-key question.
        current = current.join(delete_ids, self.id_col, "left_anti")
        admitted = upserts.unionByName(cond_updates)
        if self.admission_filter is not None:
            # content gate first: cheapest reject, and a gated-out row
            # must not reach the near-dup probe or the corpus flip.
            # DELETEs are unaffected — gates govern admission only.
            admitted = self.admission_filter(admitted)
        if self.neardup_threshold is not None:
            # fuzzy gate BEFORE the exact merge: drop admitted rows
            # near-duplicating a different-id corpus doc (same-id pairs
            # pass — a CDC UPDATE is a light edit of its own row and
            # must still replace it). With a maintained index the
            # corpus side comes from the persisted tables (probe-exact
            # substitution); otherwise it is recomputed inline.
            probe_kw = (
                self._lsh_probe_tables(current)
                if self.lsh_index_path is not None
                else {}
            )
            admitted = neardup_ingest(
                current,
                admitted,
                text_col=self.text_col,
                id_col=self.id_col,
                threshold=self.neardup_threshold,
                allow_same_id=True,
                max_bucket=self.gate_max_bucket,
                **probe_kw,
            )
        if self.containment_threshold is not None:
            # asymmetric gate AFTER the symmetric one (both reject-only
            # batch filters, so order only affects which gate gets
            # billed for a doc both would drop): reject quoted-subset
            # batch docs against an at-least-as-large different-id
            # corpus doc, and the smaller side of subset pairs arriving
            # together. Same-id pairs pass — a CDC UPDATE truncating
            # its own row must still replace it.
            sig_kw = (
                {
                    "corpus_signatures": self._lsh_signature_table(
                        current, trusted_for_batch
                    )
                }
                if self.lsh_index_path is not None
                else {}
            )
            admitted = containment_ingest(
                current,
                admitted,
                text_col=self.text_col,
                id_col=self.id_col,
                threshold=self.containment_threshold,
                allow_same_id=True,
                max_bucket=self.gate_max_bucket,
                **sig_kw,
            )
        if (
            self.neardup_threshold is not None
            or self.containment_threshold is not None
        ):
            # the gated batch feeds many consumers below (index ingest,
            # trusted-window probe, exact merge, three stats updates):
            # materialize the batch-sized survivors once instead of
            # re-running the probe joins per consumer
            admitted = admitted.localCheckpoint(eager=True)
        survivors = None
        if self.lsh_index_path is not None and (
            self.neardup_threshold is not None
            or self.containment_threshold is not None
        ):
            # maintain the index BEFORE the marker commit (same
            # crash-window reasoning as the stats merge below):
            # a replay re-runs this as a version-keyed no-op, and
            # rows indexed before a crashed flip stay invisible to
            # the replay's probe (their versions aren't live).
            # Index the INGEST SURVIVORS, not the gate-admitted batch:
            # incremental_ingest's cross-id content-hash anti join can
            # still drop an admitted row (reachable when a >max_bucket
            # degenerate LSH bucket suppressed the exact-duplicate
            # candidate pair upstream) — indexing that row would leave
            # a live version with no corpus row, silently breaking
            # assume_covered's stored==live contract. The dropped
            # row's text is identical to a corpus row that IS indexed,
            # so probes lose nothing.
            from cdc_system_spark.operators import lsh_index as LI
            from cdc_system_spark.operators.curation import ingest_survivors

            survivors = ingest_survivors(
                current, admitted, text_col=self.text_col, id_col=self.id_col
            ).localCheckpoint(eager=True)
            LI.lsh_index_ingest(
                survivors.select(self.id_col, self.text_col),
                self.lsh_index_path,
                text_col=self.text_col,
                id_col=self.id_col,
            )
            if trusted_for_batch:
                # the trusted window survives only batches that leave
                # no stale versions behind: any DELETE, or any LANDING
                # id already in the corpus (an overwrite strands the
                # old version), drops back to the live filter. Probing
                # survivors (not admitted) keeps the window armed for
                # same-id same-text redeliveries, whose hash-anti drop
                # strands nothing. Both probes are tiny (limit-1 /
                # id-column semi join).
                if not delete_ids.isEmpty() or not survivors.join(
                    current.select(self.id_col), self.id_col, "left_semi"
                ).isEmpty():
                    trusted_for_batch = False

        merged = incremental_ingest(
            current, admitted, text_col=self.text_col, id_col=self.id_col,
            survivors=survivors,
        )
        # current is already delete-filtered above and a record has
        # one net effect (no admitted row carries a delete id), so the
        # merge output IS the final corpus — no second anti join
        final = merged
        # Stats BEFORE the marker commit: a crash between the two then
        # replays the batch (marker not yet advanced) and the stats
        # merge re-runs — a no-op, because HLL merge is idempotent (max
        # per bucket) over the identical batch content. The previous
        # order (stats after the flip) had a crash window that skipped
        # the batch's stats forever: the replay guard returned early.
        if self.stats_path is not None:
            self._update_stats(admitted)
        if self.kmv_stats_path is not None:
            self._update_kmv(admitted)
        if self.zone_stats_path is not None:
            self._update_zone(admitted, batch_id)
        self.corpus.write(
            final,
            meta={"ingest_app": self.checkpoint_path, "ingest_batch": str(batch_id)},
        )
        # flip committed: stored == live again (insert-only batch under
        # an open window) — re-arm
        self._index_trusted = trusted_for_batch
        self.batches_applied += 1

    def _writer(self):
        stream = read_change_stream(
            self.spark, self.log_path, self.max_files_per_trigger, self.doc_schema
        )
        return stream.writeStream.foreachBatch(self.apply_batch).option(
            "checkpointLocation", self.checkpoint_path
        )

    def run_available_now(self) -> None:
        """Drain all pending change files into the corpus, then return."""
        q = self._writer().trigger(availableNow=True).start()
        q.awaitTermination()

    def start_continuous(self, interval: str = "5 seconds"):
        """Continuous micro-batch corpus maintenance; returns the query."""
        return self._writer().trigger(processingTime=interval).start()


def blocklist_gate(terms: list[str], id_col: str = "doc_id", text_col: str = "text"):
    """Admission-filter preset: drop batch rows containing any
    blocklisted term (C4 "bad words" gate at the CDC admission
    boundary). Pass the result as ``admission_filter=``."""
    from cdc_system_spark.operators.text import blocklist_filter

    def gate(df: DataFrame) -> DataFrame:
        keep = (
            blocklist_filter(df, terms, text_col=text_col, id_col=id_col)
            .filter(F.col("keep"))
            .select(id_col)
        )
        return df.join(keep, id_col, "left_semi")

    return gate


def charset_gate(id_col: str = "doc_id", text_col: str = "text", **thresholds):
    """Admission-filter preset: drop batch rows failing the charset
    quality gate (non-printable/digit/upper/symbol ratio bounds —
    ``charset_quality``'s keyword thresholds pass through)."""
    from cdc_system_spark.operators.text import charset_quality

    def gate(df: DataFrame) -> DataFrame:
        keep = (
            charset_quality(df, text_col=text_col, id_col=id_col, **thresholds)
            .filter(F.col("keep"))
            .select(id_col)
        )
        return df.join(keep, id_col, "left_semi")

    return gate


def quality_gate(id_col: str = "doc_id", text_col: str = "text", **thresholds):
    """Admission-filter preset: drop batch rows failing the Gopher-
    style repetition gate (duplicate-word fraction, top-2-gram
    fraction — ``repetition_signals``'s keyword thresholds pass
    through). Zero-shuffle map pass per micro-batch, same as the
    batch operator."""
    from cdc_system_spark.operators.text import repetition_signals

    def gate(df: DataFrame) -> DataFrame:
        keep = (
            repetition_signals(
                df, text_col=text_col, id_col=id_col, **thresholds
            )
            .filter(F.col("keep"))
            .select(id_col)
        )
        return df.join(keep, id_col, "left_semi")

    return gate


def oov_gate(
    vocab_terms: list[str],
    max_oov_rate: float = 0.5,
    id_col: str = "doc_id",
    text_col: str = "text",
):
    """Admission-filter preset: drop batch rows whose out-of-vocabulary
    token rate exceeds ``max_oov_rate`` against a fixed vocabulary
    (high OOV ⇒ junk, code, or the wrong language for this tokenizer).
    The vocabulary is model-artifact-sized and broadcasts; per batch
    this is one broadcast membership join — no corpus-sized state."""
    from cdc_system_spark.operators.text import oov_rate

    if not vocab_terms:
        raise ValueError("vocab_terms must be non-empty")

    def gate(df: DataFrame) -> DataFrame:
        vocab = df.sparkSession.createDataFrame(
            [(t,) for t in sorted(set(vocab_terms))], "token string"
        )
        keep = (
            oov_rate(df, vocab, text_col=text_col, id_col=id_col)
            .filter(F.col("oov_rate") <= max_oov_rate)
            .select(id_col)
        )
        return df.join(keep, id_col, "left_semi")

    return gate


def corpus_content_overlap(
    spark: SparkSession, kmv_path_a: str, kmv_path_b: str, k: int = 64
) -> DataFrame:
    """Distinct-content overlap between two maintained corpora from
    their persisted KMV states alone (``kmv_stats_path``): one row
    ``(union_est, intersect_est, jaccard_est)`` — the train/eval
    contamination smoke test, answered without reading either corpus
    (two ≤ k-row parquet reads; the exact question a corpus×corpus
    distinct join would otherwise shuffle both datasets for).
    Estimates are over content EVER ADMITTED (the states are monotone,
    like ``stats_path``'s HLL); for CURRENT-corpus overlap build fresh
    states with ``kmv_state(corpus.read(), ...)``."""
    from cdc_system_spark.operators.sketch import kmv_intersect

    return kmv_intersect(
        spark.read.parquet(kmv_path_a),
        spark.read.parquet(kmv_path_b),
        k=k,
    )
