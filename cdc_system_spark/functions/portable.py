"""Engine-portable expression helpers.

Two problems these solve:

1. **Deterministic float aggregates.** Double summation is
   order-dependent; a distributed sum and a single-threaded oracle can
   disagree in the last ulp, failing value-hash comparison. ``dsum`` /
   ``davg`` route the aggregation through an exact DECIMAL accumulator
   and cast the final value back to double — bit-stable regardless of
   partitioning, and expressible identically in ANSI SQL
   (``CAST(SUM(CAST(x AS DECIMAL(25,6))) AS DOUBLE)``).

2. **Engine-portable hashing.** Spark's ``hash()`` is Murmur3 with
   Spark-specific seeds; no external engine reproduces it. ``md5_i64``
   derives a signed 64-bit int from the md5 hex digest — md5 is
   identical everywhere, and the hex→int conversion below is expressible
   in both Spark and DuckDB SQL. Used by MinHash/SimHash/LSH operators so
   their results are oracle-checkable.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def spread(df: DataFrame, min_partitions: int | None = None) -> DataFrame:
    """Ensure a CPU-bound stage runs at cluster parallelism.

    A small parquet file scans as ONE input split, so any expensive
    per-row computation downstream (md5 shingling, simhash, n-gram
    explode) would run on a single core regardless of cluster size.
    A bare scan is repartitioned only when it has fewer splits than the
    cluster's default parallelism — at real scale (100 TB → thousands of
    splits) this is a no-op. A frame past an exchange is always
    repartitioned (see the cases below).
    """
    target = min_partitions or df.sparkSession.sparkContext.defaultParallelism
    # Partitioning is decided from the plan, never from ``df.rdd``
    # on an exchange-bearing frame: under AQE, asking an
    # AdaptiveSparkPlan for its RDD materializes every intermediate
    # exchange — eager shuffle jobs inside a query CONSTRUCTOR, whose
    # stages are not even reused by the caller's later action (r12's
    # one named structural driver barrier; fixed r13). Three cases:
    #
    # - BARE SCAN (scan + project/filter/generate only): the leaf-file
    #   count IS the partitioning, read straight from the catalog with
    #   zero planning cost. This is every production call site.
    # - LEAF RDD / LOCAL RELATION (a localCheckpoint handoff, a
    #   createDataFrame): no exchange anywhere in the plan, so ``.rdd``
    #   is a plain conversion — exact and zero jobs (measured via
    #   statusTracker). The checkpointed handoffs between pipeline
    #   stages land here and keep the exact probe.
    # - DERIVED FRAME (any exchange-inducing node — join, aggregate,
    #   window, repartition, union): always repartitioned. AQE's
    #   parallelism-first coalescing floors post-exchange partitions at
    #   minPartitionSize and can starve a CPU-heavy downstream fold
    #   (measured: the minhash pass over a deduplicated version table
    #   ran 10-way instead of 32, 3× on lsh_index_build); the explicit
    #   repartition is one extra shuffle of the frame. No size estimate
    #   is consulted: Spark reports a leaf without statistics (an
    #   RDD-backed frame) as ``spark.sql.defaultSizeInBytes``, so a
    #   size rule would misread exactly these frames as big, and no
    #   workload measures a derived frame large enough to skip it.
    if _bare_scan(df):
        n_files = len(df.inputFiles())
        n = n_files if n_files else df.rdd.getNumPartitions()
        return df.repartition(target) if n < target else df
    return df.repartition(target)


# Logical-plan nodes that change partitioning between the leaf scan and
# the frame (exchanges or multi-child combinators). Substring match on
# the analyzed plan is conservative: a false positive treats a bare scan
# as derived, so it is repartitioned even when its file count already
# reaches the target (one needless shuffle, never a starved stage).
_EXCHANGE_NODES = (
    "Join",
    "Aggregate",
    "Repartition",
    "Sort",
    "Window",
    "Deduplicate",
    "Union",
    "Intersect",
    "Except",
    "Limit",
)


def _bare_scan(df: DataFrame) -> bool:
    try:
        plan = df._jdf.queryExecution().analyzed().toString()
    except Exception:
        return False
    return not any(n in plan for n in _EXCHANGE_NODES)

# Shared accumulator type for dsum/davg: 25 digits, 6 frac — exact for
# TPC-H-ish money math at any tested SF, and far below Decimal(38) caps
# so Spark's sum (which widens precision by 10) cannot overflow.
_DEC = "decimal(25,6)"


def dsum(col: Column | str, alias: str | None = None) -> Column:
    """Order-insensitive, engine-portable SUM for double columns."""
    c = F.col(col) if isinstance(col, str) else col
    out = F.sum(c.cast(_DEC)).cast("double")
    return out.alias(alias) if alias else out


def dsum_sql(expr: str) -> str:
    """The ANSI-SQL twin of :func:`dsum` (for oracle strings)."""
    return f"CAST(SUM(CAST(({expr}) AS DECIMAL(25,6))) AS DOUBLE)"


def davg(col: Column | str, alias: str | None = None) -> Column:
    """Order-insensitive AVG: exact decimal sum / exact count, as double.

    Computed as sum/count explicitly (not AVG) so the division happens
    once, in double, identically in both engines.
    """
    c = F.col(col) if isinstance(col, str) else col
    out = (F.sum(c.cast(_DEC)).cast("double") / F.count(c)).cast("double")
    return out.alias(alias) if alias else out


def davg_sql(expr: str) -> str:
    return (
        f"CAST(CAST(SUM(CAST(({expr}) AS DECIMAL(25,6))) AS DOUBLE)"
        f" / COUNT({expr}) AS DOUBLE)"
    )


def f64_sql(x: float) -> str:
    """A Python float as an EXACT Spark SQL double literal: ``repr``
    round-trips every finite double, and the ``D`` suffix pins the
    parse to DOUBLE (a bare decimal literal parses as DECIMAL, which
    would silently change downstream arithmetic). Non-finite doubles
    get the CAST-from-string form — ``repr`` renders them ``nan`` /
    ``inf``, which the SQL parser rejects, while the ``F.lit(float)``
    path this replaced accepted them (r12 advisor)."""
    import math

    v = float(x)
    if not math.isfinite(v):
        if math.isnan(v):
            return "CAST('NaN' AS DOUBLE)"
        return f"CAST('{'Infinity' if v > 0 else '-Infinity'}' AS DOUBLE)"
    return repr(v) + "D"


def arr_sql(vals) -> str:
    """SQL text of a literal ``array<double>`` (see :func:`f64_sql`)."""
    return "array(" + ",".join(f64_sql(x) for x in vals) + ")"


def lit_vec(vals) -> Column:
    """Literal ``array<double>`` column from Python floats, built as
    ONE parsed SQL expression instead of ``len(vals)`` py4j ``lit``
    round-trips plus an ``array`` call. Value-identical to
    ``F.array(*[F.lit(float(x)) for x in vals])`` — measured ~40×
    cheaper to CONSTRUCT (py4j call latency, not JVM work, dominates
    literal-heavy plan building; a 64-dim query vector cost ~50 ms per
    build, ~1 ms parsed). Query construction happens on every
    invocation, so for the literal-centroid/LUT family this is the
    difference between milliseconds and seconds of per-query driver
    time."""
    return F.expr(arr_sql(vals))


def quote_sql(name: str) -> str:
    """Backtick-quote a column name for embedding in SQL text."""
    return "`" + name.replace("`", "``") + "`"


def md5_i64(col: Column | str) -> Column:
    """Signed 64-bit int from the first 15 hex chars of md5(col).

    15 hex chars = 60 bits → always fits in a signed BIGINT, so no
    overflow-wraparound differences between engines. DuckDB twin:
    ``CAST(CONCAT('0x', SUBSTR(MD5(x), 1, 15)) AS BIGINT)`` — see
    :func:`md5_i64_sql`.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("long")


def md5_i64_sql(expr: str) -> str:
    return f"CAST(CONCAT('0x', SUBSTR(MD5({expr}), 1, 15)) AS BIGINT)"


def shingles(col: Column | str, k: int = 5) -> Column:
    """Array of character k-shingles of a string (for MinHash/Jaccard).

    Pure builtins: sequence over start offsets + transform/substring.
    Strings shorter than k yield a single shingle = the whole string, so
    no document drops out of dedup silently.
    """
    c = F.col(col) if isinstance(col, str) else col
    n = F.greatest(F.length(c) - F.lit(k - 1), F.lit(1))
    return F.transform(F.sequence(F.lit(1), n), lambda i: c.substr(i, F.lit(k)))


def round_portable(col: Column | str, decimals: int = 6) -> Column:
    """Half-up rounding as ``floor(x·10^d + 0.5)/10^d`` — the
    engine-portable form for values that can land EXACTLY on a decimal
    half-way boundary. ``F.round`` converts the double to BigDecimal
    and rounds its exact binary expansion HALF_UP, while DuckDB's
    ``ROUND`` multiplies by 10^d in floating point first — near a
    representable boundary the two can disagree by one ulp of the last
    kept digit (first observed at sf0.1: 4 of 5000 quality scores).
    This form runs the IDENTICAL float ops on both engines (twin:
    :func:`round_portable_sql`), so results match bit-for-bit
    regardless of boundary proximity. For positive values it equals
    HALF_UP; only use where inputs are non-negative (all ratio/score
    columns here).
    """
    c = F.col(col) if isinstance(col, str) else col
    p = float(10**decimals)
    return F.floor(c * p + F.lit(0.5)) / p


def round_portable_sql(expr: str, decimals: int = 6) -> str:
    """DuckDB twin of :func:`round_portable`."""
    p = 10**decimals
    return f"FLOOR(({expr}) * {p}.0 + 0.5) / {p}.0"


def round_portable_py(x: float, decimals: int = 6) -> float:
    """Driver-side (pure Python) twin of :func:`round_portable` — the
    same ``floor(x·10^d + 0.5)/10^d`` double arithmetic, for literals
    computed on the driver that must compare equal to engine-rounded
    values (e.g. the PQ ADC lookup table vs the encode distances).
    Keeping all three twins (Column / SQL / Python) in one place means
    a decimals change cannot silently diverge one of them."""
    import math

    p = float(10**decimals)
    return math.floor(x * p + 0.5) / p
