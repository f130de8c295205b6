"""Change-log maintenance: compaction and date partitioning.

An append-only change log accumulates one small file per capture
(operators/capture.py LogCapture) — at streaming cadence that's
millions of kilobyte files: listing dominates planning, scans pay an
open-cost per file, and the streaming source tracks every path. The
reference never faces this (SQLite table, cdc_system.py:115-126); at
100 TB it is the first operational fire.

``compact_log`` rewrites the log date-partitioned by ``changed_at`` and
sorted by ``cdc_id`` within partitions:

* **partition pruning** — time-bounded queries (the dominant access
  pattern for a change log) skip whole directories, the Spark
  equivalent of the reference's ``(synced, cdc_id)`` covering index
  (SURVEY §4.1);
* **bounded file count** — ``target_rows_per_file`` caps file size via
  per-partition repartitioning;
* **local cdc_id ordering** — min/max column stats per file make
  ``cdc_id`` range predicates skip row groups.

The compacted log is written in the CDC parquet format that capture
writes (``model.CDC_PARQUET_OPTIONS``, zstd with v2 pages): a change log
is kept for ever and scanned again and again, so its row images are
stored in fewer bytes than under Spark's default snappy and v1 pages,
and its sorted ids delta-encoded. The input may hold files of any
format; the format is recorded per file. Its files may also differ in
columns (a capture's INSERT file stores no old image, a DELETE file no
new one, and a log of earlier versions stores JSON text), so the input
is read with the union of its files' schemas.

Compaction writes to a NEW root and swaps atomically-enough for an
append-only log: writers keep appending to the active root; readers of
the compacted root see a consistent prefix. (With a table format —
Delta/Iceberg — this is OPTIMIZE; on plain parquet it's an explicit
rewrite, done here so the engine stays dependency-free.)
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from cdc_system_spark.model import cdc_writer


def compact_log(
    spark: SparkSession,
    log_path: str,
    out_path: str,
    target_rows_per_file: int = 1_000_000,
) -> dict:
    """Rewrite an audit-schema log date-partitioned + cdc_id-sorted.

    Returns {"rows", "days", "files_per_day"} for operator visibility.
    """
    log = spark.read.option("mergeSchema", "true").parquet(log_path)
    rows = log.count()
    dated = log.withColumn("change_date", F.to_date("changed_at"))
    days = dated.select("change_date").distinct().count()
    per_day = max(rows // max(days, 1), 1)
    files_per_day = max(per_day // target_rows_per_file, 1)
    ordered = dated.repartition(
        files_per_day * max(days, 1), "change_date", F.col("cdc_id")
    ).sortWithinPartitions("change_date", "cdc_id")
    cdc_writer(ordered).mode("overwrite").partitionBy("change_date").parquet(out_path)
    return {"rows": rows, "days": days, "files_per_day": files_per_day}


def read_log_range(
    spark: SparkSession,
    compacted_path: str,
    start_date: str | None = None,
    end_date: str | None = None,
) -> DataFrame:
    """Time-bounded scan of a compacted log — the predicate lands on the
    ``change_date`` partition column, so pruning happens at file listing
    (check: ``.explain`` shows PartitionFilters, not a full scan)."""
    df = spark.read.parquet(compacted_path)
    if start_date is not None:
        df = df.filter(F.col("change_date") >= F.lit(start_date))
    if end_date is not None:
        df = df.filter(F.col("change_date") < F.lit(end_date))
    return df


def log_zone_state(
    log: DataFrame,
    geo_lo: int,
    geo_hi: int,
    num_zones: int = 64,
) -> DataFrame:
    """Zone state over ``(cdc_id order, synced flag)`` — the maintained
    analogue of the reference's ``(synced, cdc_id)`` covering index
    (``cdc_system.py:129-132``): each cdc_id zone records the min/max
    of the synced flag, so a zone whose ``v_min = 1`` is ALL-synced and
    the pending poll can skip it entirely. Mergeable like any
    :func:`zone_state` (counts add, extrema min/max) — maintain it
    per compaction/ingest batch, never re-scan the log for it."""
    return zone_state(
        log, "cdc_id", F.col("synced").cast("int"), geo_lo, geo_hi,
        num_zones,
    )


def read_pending_pruned(
    log: DataFrame,
    state: DataFrame,
    geo_lo: int,
    geo_hi: int,
    num_zones: int = 64,
    limit: int | None = None,
) -> DataFrame:
    """The reference's hot poll — ``WHERE synced = 0 ORDER BY cdc_id
    LIMIT n`` (``cdc_system.py:209-216``) — with the scan PRUNED by a
    maintained :func:`log_zone_state`: all-synced cdc_id zones convert
    to order-key ranges the scan skips (:func:`zone_pruned_between`
    with the predicate ``synced::int BETWEEN 0 AND 0``), which is
    exactly what the reference's ``(synced, cdc_id)`` covering index
    buys SQLite. On a real replication log the synced prefix is nearly
    the whole log (everything but the tail has drained), so the poll
    touches only the tail zones' files/row groups instead of scanning
    history — completing the DDL2 index story on the CDC path itself,
    not just on analytics columns. Rows are IDENTICAL to the plain
    filter (the zone_pruned_between contract); the ``orderBy + limit``
    still plans as TakeOrderedAndProject over the surviving rows.

    Freshness contract inherited from :func:`zone_pruned_between`: the
    state must cover (a superset of) the log under exactly this
    geometry — refresh/merge the state after appends before polling.
    """
    pending = zone_pruned_between(
        log, state, "cdc_id", F.col("synced").cast("int"), 0, 0,
        geo_lo, geo_hi, num_zones,
    )
    out = pending.orderBy("cdc_id")
    return out.limit(limit) if limit is not None else out


def zorder_value(a: Column | str, b: Column | str, bits: int = 16) -> Column:
    """Morton (Z-order) interleave of two non-negative int columns.

    Bit *i* of ``a`` lands at position 2i+1 and bit *i* of ``b`` at 2i,
    so sorting by the result clusters rows that are close in BOTH
    dimensions — the multi-column layout trick behind Delta OPTIMIZE
    ZORDER / Iceberg sort orders. Values are clamped to ``bits`` bits
    (larger inputs saturate rather than alias). Pure 64-bit shifts and
    masks inside whole-stage codegen; the identical arithmetic runs in
    any SQL engine, so z-values are oracle-checkable.
    """
    ca = (F.col(a) if isinstance(a, str) else a).cast("long")
    cb = (F.col(b) if isinstance(b, str) else b).cast("long")
    cap = F.lit((1 << bits) - 1)
    ca = F.least(F.greatest(ca, F.lit(0)), cap)
    cb = F.least(F.greatest(cb, F.lit(0)), cap)
    z = F.lit(0).cast("long")
    for i in range(bits):
        z = z + F.shiftleft(F.shiftright(ca, i).bitwiseAND(F.lit(1)), 2 * i + 1)
        z = z + F.shiftleft(F.shiftright(cb, i).bitwiseAND(F.lit(1)), 2 * i)
    return z


def hilbert_value(a: Column | str, b: Column | str, bits: int = 16) -> Column:
    """Hilbert-curve distance of two non-negative int columns — the
    alternative space-filling key to :func:`zorder_value`. The Hilbert
    curve never jumps: consecutive d values are always grid-adjacent,
    so it avoids Morton's quadrant-boundary discontinuities and tends
    to give equal-or-tighter per-file min/max stats (it is the
    clustering Delta chose for Liquid Clustering over ZORDER). The
    trade: ~3× the expression size (per-level conditional reflection/
    swap vs a bare interleave) — pure 64-bit integer ops, still inside
    whole-stage codegen, and identical arithmetic in any engine.

    Mapping is the textbook iterative xy→d (Hamilton's/Wikipedia's
    form): per level ``s = 2^i`` the quadrant id ``(3·rx) XOR ry``
    contributes ``s²`` steps, then the sub-square is reflected/swapped
    into canonical orientation. The per-level rotation rewrites BOTH
    coordinates in terms of both, so a naive unrolled column expression
    grows ~5^bits nodes (measured: OOMs the analyzer at 16 bits); the
    fold therefore runs as ONE ``aggregate`` lambda over the literal
    level array — constant expression size, evaluated iteratively at
    runtime, the same shape ``minhash_signatures`` uses for its
    permutation fold. Values clamp to ``bits`` bits exactly as in
    :func:`zorder_value`. Verified against an independent Python
    reference exhaustively at 4 bits in tests/test_maintenance.py.
    """
    x0 = (F.col(a) if isinstance(a, str) else a).cast("long")
    y0 = (F.col(b) if isinstance(b, str) else b).cast("long")
    cap = F.lit((1 << bits) - 1)
    x0 = F.least(F.greatest(x0, F.lit(0)), cap)
    y0 = F.least(F.greatest(y0, F.lit(0)), cap)
    n = 1 << bits
    svals = F.array(*[F.lit(1 << i).cast("long") for i in range(bits - 1, -1, -1)])
    zero = F.struct(
        x0.alias("x"), y0.alias("y"), F.lit(0).cast("long").alias("d")
    )

    def step(acc, s):
        rx = F.when(acc["x"].bitwiseAND(s) > 0, 1).otherwise(0)
        ry = F.when(acc["y"].bitwiseAND(s) > 0, 1).otherwise(0)
        d2 = acc["d"] + s * s * ((F.lit(3) * rx).bitwiseXOR(ry)).cast("long")
        # canonicalize the sub-square: ry==0 → (optional 180° flip at
        # rx==1, then transpose); flips under n-1 are exact for the
        # bits later levels read (see zorder_value's clamp note)
        fx = F.when(rx == 1, F.lit(n - 1) - acc["x"]).otherwise(acc["x"])
        fy = F.when(rx == 1, F.lit(n - 1) - acc["y"]).otherwise(acc["y"])
        nx = F.when(ry == 0, fy).otherwise(acc["x"])
        ny = F.when(ry == 0, fx).otherwise(acc["y"])
        return F.struct(nx.alias("x"), ny.alias("y"), d2.alias("d"))

    return F.aggregate(svals, zero, step, lambda acc: acc["d"])


def _compact_by_key(df: DataFrame, out_path: str, key: Column, num_files: int) -> None:
    """Range-partition by the clustering key (sampling-based, no
    single-task sort), sort within each file, drop the key, write."""
    if num_files < 1:
        raise ValueError(f"num_files must be >= 1, got {num_files}")
    (
        df.withColumn("_ck", key)
        .repartitionByRange(num_files, "_ck")
        .sortWithinPartitions("_ck")
        .drop("_ck")
        .write.mode("overwrite")
        .parquet(out_path)
    )


def compact_zordered(
    df: DataFrame,
    out_path: str,
    col_a: str,
    col_b: str,
    num_files: int = 16,
    bits: int = 16,
) -> None:
    """Rewrite ``df`` Z-order-clustered on ``(col_a, col_b)``.

    Range-partition by z-value (sampling-based, no single-task sort) and
    sort within each file, so every output file covers a compact square
    of the 2-D key space — parquet min/max stats on BOTH columns become
    tight, and scans filtered on EITHER dimension skip most files. The
    date-partitioned :func:`compact_log` layout prunes one dimension;
    this is the layout for the two-filter access pattern (e.g. change
    log queried by record_id AND time, corpus by length AND quality).
    """
    _compact_by_key(df, out_path, zorder_value(col_a, col_b, bits), num_files)


def compact_hilbert(
    df: DataFrame,
    out_path: str,
    col_a: str,
    col_b: str,
    num_files: int = 16,
    bits: int = 16,
) -> None:
    """:func:`compact_zordered` with the Hilbert key — measured A/B vs
    Z-order on the zone-map skip-fraction methodology in
    tests/test_maintenance.py (adopt-or-reject numbers in
    BENCH_NOTES_r07.md)."""
    _compact_by_key(df, out_path, hilbert_value(col_a, col_b, bits), num_files)


def zone_map(
    df: DataFrame,
    order_col: Column | str,
    value_col: Column | str,
    num_zones: int = 64,
) -> DataFrame:
    """Zone map (min/max data-skipping statistics) over ``value_col``
    for a table laid out in ``order_col`` order: one row per zone —
    ``(zone, n_rows, v_min, v_max)`` — where zones are the
    ``num_zones`` equal-width spans of ``order_col``'s integer domain,
    standing in for files/row-groups written in that order.

    This is the statistic behind parquet row-group skipping and
    Delta/Iceberg file pruning, materialized as a queryable artifact:
    a predicate ``value BETWEEN lo AND hi`` can skip every zone whose
    ``[v_min, v_max]`` misses the range — and because the zone key is
    the WRITE order, the map also diagnoses layout quality (zones with
    near-global ``[v_min, v_max]`` spans mean the layout doesn't
    cluster ``value_col``; a :func:`compact_zordered` rewrite fixes
    that, checkable by re-running the map).

    Plan shape: ``order_col``'s min/max land as two collected scalars
    (bounded-scalar boundary, see ``skew_profile``), then ONE
    map-side-combined groupBy into ``num_zones`` rows. NULL order keys
    are excluded; an empty input yields an empty map.
    """
    if num_zones < 1:
        raise ValueError(f"num_zones must be >= 1, got {num_zones}")
    oc = F.col(order_col) if isinstance(order_col, str) else order_col
    vc = F.col(value_col) if isinstance(value_col, str) else value_col
    keyed = df.select(
        oc.cast("long").alias("_o"), vc.alias("_v")
    ).filter(F.col("_o").isNotNull())
    srow = keyed.agg(
        F.min("_o").alias("_lo"), F.max("_o").alias("_hi")
    ).collect()[0]
    if srow["_lo"] is None:
        return df.sparkSession.createDataFrame(
            [], "zone int, n_rows bigint, v_min double, v_max double"
        )
    lo, hi = int(srow["_lo"]), int(srow["_hi"])
    rng = hi - lo + 1
    # DECIMAL(38,0) intermediate — same wide-geometry overflow guard
    # as zone_state (a hash-derived order key can span ~2^63, whose
    # product with num_zones overflows int64 and aborts under ANSI)
    return (
        keyed.select(
            F.expr(
                f"CAST(((CAST(_o AS DECIMAL(38,0)) - {lo}) * {num_zones}) "
                f"div {rng} AS BIGINT)"
            )
            .cast("int")
            .alias("zone"),
            "_v",
        )
        .groupBy("zone")
        .agg(
            F.count("*").cast("long").alias("n_rows"),
            F.round(F.min("_v"), 6).alias("v_min"),
            F.round(F.max("_v"), 6).alias("v_max"),
        )
    )


def prune_fraction(
    zmap: DataFrame,
    lo: float,
    hi: float,
) -> DataFrame:
    """Skip-effectiveness of a zone map for ``value BETWEEN lo AND
    hi``: one row ``(n_zones, n_skipped, rows_total, rows_skipped,
    skip_fraction)``. A zone is skippable iff ``v_max < lo OR v_min >
    hi`` (its span misses the predicate range entirely) — the exact
    rule engines apply to row-group statistics. ``skip_fraction`` is
    the ROW fraction (what actually saves I/O), not the zone fraction.
    """
    skippable = (F.col("v_max") < lo) | (F.col("v_min") > hi)
    return zmap.agg(
        F.count("*").cast("long").alias("n_zones"),
        F.sum(F.when(skippable, 1).otherwise(0)).cast("long").alias("n_skipped"),
        F.sum("n_rows").cast("long").alias("rows_total"),
        F.sum(F.when(skippable, F.col("n_rows")).otherwise(0))
        .cast("long")
        .alias("rows_skipped"),
        F.round(
            F.sum(F.when(skippable, F.col("n_rows")).otherwise(0))
            / F.sum("n_rows"),
            6,
        ).alias("skip_fraction"),
    )


def zone_state(
    df: DataFrame,
    order_col: Column | str,
    value_col: Column | str,
    lo: int,
    hi: int,
    num_zones: int = 64,
) -> DataFrame:
    """Zone-map statistics over an EXPLICIT ``[lo, hi]`` order-key
    geometry — the mergeable form of :func:`zone_map` (which derives
    its bounds from the data and is therefore a one-shot): states with
    pinned geometry built per file batch / ingest interval combine
    with :func:`zone_merge` (counts add, extrema min/max), so the
    data-skipping index is MAINTAINED as data lands instead of
    recomputed — the zone member of the maintained-artifact family
    (HLL, histogram, Count-Min). Order keys outside ``[lo, hi]`` clamp
    into the edge zones; NULL order keys are excluded."""
    if num_zones < 1:
        raise ValueError(f"num_zones must be >= 1, got {num_zones}")
    if hi < lo:
        raise ValueError(f"need lo <= hi, got {lo}, {hi}")
    oc = F.col(order_col) if isinstance(order_col, str) else order_col
    vc = F.col(value_col) if isinstance(value_col, str) else value_col
    rng = hi - lo + 1
    keyed = df.select(
        oc.cast("long").alias("_o"), vc.alias("_v")
    ).filter(F.col("_o").isNotNull())
    # DECIMAL(38,0) intermediate: with wide order-key geometries
    # (timestamp-derived cdc_ids sit near 1.8e18) the int64 product
    # (_o - lo) * num_zones overflows — ANSI aborts the state build.
    # Decimal keeps the zone math exact at any long geometry (2^63·64
    # ≈ 5.9e20 ≪ 10^38); `div` on decimals is still integral division.
    zone_expr = (
        f"CAST(((CAST(_o AS DECIMAL(38,0)) - {lo}) * {num_zones}) "
        f"div {rng} AS BIGINT)"
    )
    return (
        keyed.select(
            F.least(
                F.greatest(F.expr(zone_expr), F.lit(0)),
                F.lit(num_zones - 1),
            )
            .cast("int")
            .alias("zone"),
            "_v",
        )
        .groupBy("zone")
        .agg(
            F.count("*").cast("long").alias("n_rows"),
            F.round(F.min("_v"), 6).alias("v_min"),
            F.round(F.max("_v"), 6).alias("v_max"),
        )
    )


def zone_pruned_between(
    df: DataFrame,
    state: DataFrame,
    order_col: Column | str,
    value_col: Column | str,
    lo: float,
    hi: float,
    geo_lo: int,
    geo_hi: int,
    num_zones: int = 64,
) -> DataFrame:
    """``value BETWEEN lo AND hi`` with the scan PRUNED by a maintained
    zone state — the read path that turns :func:`zone_state` /
    :func:`prune_fraction` from a diagnostic into actual skipped I/O.
    The state (≤ ``num_zones`` rows) names the zones whose
    ``[v_min, v_max]`` can intersect the predicate; surviving zones
    convert back to ORDER-KEY ranges under the same ``[geo_lo,
    geo_hi]`` geometry, coalesced into contiguous spans, and the scan
    filters on those ranges FIRST. Because the range predicate
    references only the (layout-ordering) key column, it reaches the
    parquet scan as a pushed filter and skips row groups via their
    min/max stats — the value expression (often computed, e.g.
    ``length(text)``, which no stats can serve) then evaluates only on
    surviving rows. Result rows are IDENTICAL to the plain filter.

    Contract: the state must summarize (a superset of) ``df`` under
    exactly this geometry — rows newer than the state's last update
    may be wrongly skipped (refresh the state first, the same
    freshness rule any external index has). Order-key-NULL rows are
    outside every zone and pass the range stage unconditionally (the
    value predicate decides them), mirroring ``zone_state``'s
    exclusion. The state stores extrema rounded half-up at 6 decimals,
    so skipping is exact for values with ≤ 6 decimals (counts,
    lengths); for full-precision floats widen ``[lo, hi]`` by 1e-6 to
    stay conservative.

    One ≤ ``num_zones``-row collect (bounded scalar), zero shuffles
    added — the plan is scan→filter either way; only the scanned bytes
    change.
    """
    if num_zones < 1:
        raise ValueError(f"num_zones must be >= 1, got {num_zones}")
    if geo_hi < geo_lo:
        raise ValueError(f"need geo_lo <= geo_hi, got {geo_lo}, {geo_hi}")
    oc = F.col(order_col) if isinstance(order_col, str) else order_col
    vc = F.col(value_col) if isinstance(value_col, str) else value_col
    value_pred = vc.between(F.lit(lo), F.lit(hi))
    keep = (
        state.filter(~((F.col("v_max") < lo) | (F.col("v_min") > hi)))
        .select("zone")
        .collect()
    )
    zones = sorted(int(r["zone"]) for r in keep)
    if len(zones) >= num_zones:
        return df.filter(value_pred)  # nothing skippable
    rng = geo_hi - geo_lo + 1
    # zone z holds order keys o with ((o-geo_lo)*N) div rng == z
    # (clamped at the edges): o in [geo_lo + ceil(z*rng/N),
    # geo_lo + ceil((z+1)*rng/N) - 1]; zone 0 / N-1 absorb the
    # out-of-geometry tails. INTEGER ceil (-(-a // b)) — float ceil
    # loses exactness past 2^53, and wide order-key geometries
    # (48-bit Z-order/Hilbert keys x 64 zones) sit beyond it: a
    # one-off boundary there silently excludes a surviving zone's
    # edge key from the span, breaking the rows-identical contract

    def bounds(z: int) -> tuple[int | None, int | None]:
        zlo = None if z == 0 else geo_lo + -(-(z * rng) // num_zones)
        zhi = (
            None
            if z == num_zones - 1
            else geo_lo + -(-((z + 1) * rng) // num_zones) - 1
        )
        return zlo, zhi

    # coalesce adjacent zones into contiguous order-key spans
    spans: list[list[int]] = []
    for z in zones:
        if spans and z == spans[-1][1] + 1:
            spans[-1][1] = z
        else:
            spans.append([z, z])
    rng_pred = oc.isNull()  # unzoned rows: the value predicate decides
    for z0, z1 in spans:
        s_lo, _ = bounds(z0)
        _, s_hi = bounds(z1)
        cond = F.lit(True)
        if s_lo is not None:
            cond = cond & (oc >= F.lit(s_lo))
        if s_hi is not None:
            cond = cond & (oc <= F.lit(s_hi))
        rng_pred = rng_pred | cond
    return df.filter(rng_pred).filter(value_pred)


def zone_merge(*states: DataFrame) -> DataFrame:
    """Combine zone states sharing one geometry: counts add, extrema
    min/max — lossless, so merge-of-batches == rebuild-from-all."""
    if not states:
        raise ValueError("states must be non-empty")
    out = states[0]
    for s in states[1:]:
        out = out.unionByName(s)
    return out.groupBy("zone").agg(
        F.sum("n_rows").cast("long").alias("n_rows"),
        F.min("v_min").alias("v_min"),
        F.max("v_max").alias("v_max"),
    )
