"""Similarity search over embedding columns (``array<float>``).

* ``cosine_topk`` — brute-force cosine against one query vector: the
  exact baseline. Pure builtins (zip_with + aggregate fold), double
  precision, deterministic fold order — oracle-reproducible.
* ``pairwise_neardup`` — blocked pairwise cosine (block column bounds
  the candidate set, e.g. a label, an LSH bucket, or an IVF cell).
* ``ivf_topk`` — the scale path: coarse-quantize vectors to the
  nearest of C centroids once (offline), probe only the closest
  ``nprobe`` cells at query time. Candidate set shrinks ~C/nprobe ×;
  at 100 TB this is the difference between scanning 500B vectors and
  scanning a few cells. Centroids here are taken deterministically
  (first C by id) — a seeded k-means refinement would slot in without
  changing the query path.
"""

from __future__ import annotations

import warnings

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from cdc_system_spark.functions.portable import lit_vec, spread


def _dot(a: Column, b: Column) -> Column:
    """Σ aᵢ·bᵢ in double, sequential fold (deterministic order)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _dot_sqls(a: str, b: str) -> str:
    """SQL-text twin of :func:`_dot` — identical fold, identical casts.

    The literal-centroid/LUT expression family is built per query
    invocation, and building it through the Column API costs one py4j
    round-trip per node (a 16-centroid × 64-dim argmax measured ~2 s
    of pure construction); rendering the SAME tree as SQL text and
    parsing it once is ~1000× cheaper and value-identical (parity
    pinned by test_sql_expr_parity)."""
    return (
        f"aggregate(zip_with({a}, {b}, "
        "(x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), "
        "CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)"
    )


def _cos_sqls(a: str, b: str, decimals: int | None = 6) -> str:
    """SQL-text twin of :func:`cosine` (same ROUND semantics)."""
    c = (
        f"{_dot_sqls(a, b)} / (SQRT({_dot_sqls(a, a)})"
        f" * SQRT({_dot_sqls(b, b)}))"
    )
    return f"ROUND({c}, {decimals})" if decimals is not None else c


def _norm(a: Column) -> Column:
    return F.sqrt(_dot(a, a))


def cosine(a: Column, b: Column, decimals: int | None = 6) -> Column:
    c = _dot(a, b) / (_norm(a) * _norm(b))
    return F.round(c, decimals) if decimals is not None else c


def cosine_topk(
    emb: DataFrame,
    query_vec: list[float],
    k: int = 20,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k by cosine vs a literal query vector.

    One narrow projection + TakeOrderedAndProject: no shuffle, no
    collect; each partition keeps a k-heap. Rounded cosine + id
    tiebreak ⇒ deterministic ranking.
    """
    q = lit_vec(query_vec)
    scored = spread(emb).select(
        F.col(id_col), cosine(F.col(vec_col), q).alias("cos_sim")
    )
    return scored.orderBy(F.desc("cos_sim"), id_col).limit(k)


def filtered_cosine_topk(
    emb: DataFrame,
    allowed: DataFrame,
    query_vec: list[float],
    k: int = 20,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k restricted to the ids in ``allowed`` — the
    metadata-filtered retrieval primitive (RAG's "only English docs",
    "only post-2024", "only this tenant"): ``allowed`` is a one-column
    id frame, typically a filtered projection of a metadata table, so
    its predicate pushes down to THAT table's scan and only ids travel.

    Plan shape: a LEFT SEMI join on the id (ids only — never the
    vector bytes; Catalyst broadcasts a small allowed side, AQE
    handles a large one), then the same per-partition k-heap as
    :func:`cosine_topk` — no global sort, no shuffle of vectors. At
    100 TB a selective filter does most of the work before a single
    dot product runs."""
    q = lit_vec(query_vec)
    # positional rename (toDF), not an interpolated selectExpr string
    # or a by-name Column lookup: the allowed side is a one-column id
    # frame by contract, and a source column needing backticks
    # (spaces, hyphens, dots — common in metadata tables) would break
    # SQL parsing or resolve the dot as a struct accessor (r11 advisor)
    keep = allowed.toDF(id_col)
    scored = (
        spread(emb)
        .join(keep, id_col, "left_semi")
        .select(F.col(id_col), cosine(F.col(vec_col), q).alias("cos_sim"))
    )
    return scored.orderBy(F.desc("cos_sim"), id_col).limit(k)


def _cos_py(a: list[float], b: list[float]) -> float:
    """Driver-side cosine with SEQUENTIAL fold order and the shared
    6-decimal half-away rounding — bit-matches the engine's
    :func:`cosine` (F.aggregate sequential fold + F.round HALF_UP) and
    DuckDB's ``list_sum`` fold + ``ROUND``, so driver-side selection
    steps (MMR) stay oracle-reproducible. NOT numpy: pairwise/SIMD
    summation reassociates the adds."""
    import math

    dot = nrm_a = nrm_b = 0.0
    for x, y in zip(a, b):
        dot += x * y
        nrm_a += x * x
        nrm_b += y * y
    return _round_away_py(dot / (math.sqrt(nrm_a) * math.sqrt(nrm_b)))


def _round_away_py(x: float, decimals: int = 6) -> float:
    """ROUND-half-away-from-zero on doubles — the convention Spark's
    ``F.round`` (HALF_UP) and DuckDB's ``ROUND`` share; Python's
    built-in ``round`` is banker's and diverges on exact halves."""
    import math

    p = float(10**decimals)
    return math.copysign(math.floor(abs(x) * p + 0.5) / p, x)


def mmr_topk(
    emb: DataFrame,
    query_vec: list[float],
    k: int = 5,
    pool: int = 20,
    lam: float = 0.7,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Maximal-marginal-relevance diversified top-k (Carbonell &
    Goldstein 1998): greedily select ``k`` of the ``pool`` most
    query-similar rows, each step maximizing ``λ·sim(q,d) −
    (1−λ)·max_{s∈selected} sim(d,s)`` — relevance minus redundancy,
    the standard de-duplicating reranker for RAG result lists.
    Output ``(sel_rank, id, cos_sim, mmr_score)`` in selection order
    (sel_rank 1 = pure relevance — no penalty exists yet; its
    ``mmr_score`` is ``λ·cos_sim`` for scale consistency).

    Scale shape: stage 1 (corpus-wide cosine top-``pool``) is the
    distributed heavy pass — the :func:`cosine_topk` per-partition
    k-heap, no shuffle; stage 2 is the inherently SEQUENTIAL greedy
    selection over the pool — ``k·pool`` driver-side dot products on a
    model-artifact-sized candidate set (the ``pq_codebooks``
    ``sample_cap`` convention: tens of rows, never the corpus).
    Every arithmetic step uses the rounded-6 + smaller-id-tiebreak
    convention with sequential fold order (:func:`_cos_py`), so the
    whole cascade — selection order included — is oracle-checkable
    against an unrolled-iteration SQL twin."""
    if k < 1 or pool < k:
        raise ValueError(f"need pool >= k >= 1, got k={k} pool={pool}")
    if not 0.0 <= lam <= 1.0:
        raise ValueError(f"lam must be in [0, 1], got {lam}")
    q = lit_vec(query_vec)
    cand_rows = (
        spread(emb)
        .select(
            F.col(id_col),
            F.col(vec_col),
            cosine(F.col(vec_col), q).alias("cos_sim"),
        )
        .orderBy(F.desc("cos_sim"), id_col)
        .limit(pool)
        .collect()
    )
    cand = [
        (r[id_col], [float(x) for x in r[vec_col]], float(r["cos_sim"]))
        for r in cand_rows
    ]
    selected = _mmr_greedy(cand, k, lam)
    return _mmr_frame(
        emb.sparkSession, selected, emb.schema[id_col].dataType, id_col
    )


def _mmr_greedy(
    cand: list[tuple], k: int, lam: float
) -> list[tuple]:
    """The inherently sequential MMR greedy step over a collected
    model-artifact-sized pool of ``(id, vec, qsim)`` rows: k rounds,
    each picking the remaining candidate maximizing ``λ·qsim −
    (1−λ)·max_sel cos``, rounded-6 with the smaller-id tiebreak and
    sequential fold order (:func:`_cos_py`) throughout — ONE copy
    shared by :func:`mmr_topk` and the IVF-pooled
    :func:`~cdc_system_spark.operators.ann_index.ann_mmr_topk`, so
    the oracle-pinned selection convention cannot drift between the
    brute-force and index-pruned pool stages. Returns
    ``(sel_rank, id, qsim, mmr_score)`` tuples in selection order."""
    selected: list[tuple] = []  # sel_rank, id, qsim, m
    sel_vecs: list[list[float]] = []
    remaining = list(cand)
    while remaining and len(selected) < k:
        best = None
        for cid, cvec, qsim in remaining:
            if not sel_vecs:
                # rank 1 is PURE relevance: rank by the (already
                # rounded) qsim itself, not the rounded λ·qsim —
                # distinct qsims one ulp-of-rounding apart can collapse
                # after the λ multiply, and the SQL twin's s1 CTE
                # orders by qsim, so tiebreaking on the collapsed
                # score would diverge from the oracle
                rank_score = qsim
                m = _round_away_py(lam * qsim)
            else:
                pen = max(_cos_py(cvec, s) for s in sel_vecs)
                m = _round_away_py(lam * qsim - (1.0 - lam) * pen)
                rank_score = m
            # (score desc, id asc) without negating the id — ids may
            # be strings, so the tiebreak compares ids directly
            if best is None or rank_score > best[4] or (
                rank_score == best[4] and cid < best[0]
            ):
                best = (cid, cvec, qsim, m, rank_score)
        selected.append(
            (len(selected) + 1, best[0], best[2], best[3])
        )
        sel_vecs.append(best[1])
        remaining = [c for c in remaining if c[0] != best[0]]
    return selected


def _mmr_frame(spark, selected: list[tuple], id_dtype, id_col: str):
    """The shared MMR output frame: selection-order rows as
    ``(sel_rank, id, cos_sim, mmr_score)``."""
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("sel_rank", T.IntegerType()),
            T.StructField(id_col, id_dtype),
            T.StructField("cos_sim", T.DoubleType()),
            T.StructField("mmr_score", T.DoubleType()),
        ]
    )
    return spark.createDataFrame(selected, schema)


def prefix_rescore_topk(
    emb: DataFrame,
    query_vec: list[float],
    k: int = 10,
    prefix: int = 16,
    rescore_factor: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Matryoshka-style adaptive retrieval (Kusupati et al. 2022,
    "Matryoshka Representation Learning"): rank EVERY row by cosine
    over only the first ``prefix`` dimensions (MRL-trained embeddings
    front-load information, so a short prefix preserves ranking),
    keep the top ``k·rescore_factor`` coarse survivors, then rescore
    exactly those with the FULL-dimension cosine — output columns
    ``(id, prefix_sim, cos_sim)``, final order (cos_sim desc, id).

    Scale shape: the coarse pass costs ``prefix/d`` of the flops and
    — with the prefix stored as its own column at ingest — ``prefix/d``
    of the scan bytes; the full vectors are read for only ``k·f``
    survivor rows. Both stages are per-partition k-heaps
    (TakeOrderedAndProject): no shuffle, no collect. Fully
    deterministic (rounded cosine + id tiebreaks at both stages), so
    the whole two-stage cascade is oracle-checkable — unlike PQ/IVF,
    the approximation here is a literal truncation, not a trained
    model."""
    if prefix < 1 or len(query_vec) < prefix:
        raise ValueError(
            f"prefix must be in [1, {len(query_vec)}], got {prefix}"
        )
    if k < 1 or rescore_factor < 1:
        raise ValueError(
            f"k and rescore_factor must be >= 1, got k={k} f={rescore_factor}"
        )
    qp = F.array(*[F.lit(float(x)) for x in query_vec[:prefix]])
    qf = lit_vec(query_vec)
    coarse = (
        spread(emb)
        .select(
            F.col(id_col),
            F.col(vec_col),
            cosine(F.slice(F.col(vec_col), 1, prefix), qp).alias(
                "prefix_sim"
            ),
        )
        .orderBy(F.desc("prefix_sim"), id_col)
        .limit(k * rescore_factor)
    )
    return (
        coarse.select(
            F.col(id_col),
            "prefix_sim",
            cosine(F.col(vec_col), qf).alias("cos_sim"),
        )
        .orderBy(F.desc("cos_sim"), id_col)
        .limit(k)
    )


def nearest_centroid(
    emb: DataFrame,
    centroid_ids: tuple[int, ...] = (0, 1, 2, 3),
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Assign every vector to its nearest centroid by cosine — the
    quantization/partitioning primitive (IVF cell assignment, cluster
    labeling) in an ORACLE-CHECKABLE form: centroids are the vectors at
    ``centroid_ids`` (deterministic model parameters, the only rows
    ever collected — same contract as :func:`assign_cells`), folded in
    as literal arrays, so the whole assignment is one zero-shuffle,
    zero-join projection: per row, an ``array_max`` over C cosine
    structs with a (cos desc, centroid-id asc) tiebreak on the rounded
    value. No BroadcastNestedLoopJoin — the cross-join formulation
    Catalyst would pick for a literal-keyed join is the audit-forbidden
    shape; literal folding sidesteps it entirely.
    """
    cents = _collect_centroids(emb, centroid_ids, id_col, vec_col)
    best = _nearest_centroid_expr(cents, vec_col)
    # spread: C cosine folds per row on what is usually a one-split
    # scan — see semantic_dedup
    return spread(emb).select(
        F.col(id_col),
        (-best["neg_cid"]).cast("int").alias("centroid_id"),
        best["cos_sim"].alias("cos_sim"),
    )


def _collect_centroids(
    emb: DataFrame, centroid_ids: tuple[int, ...], id_col: str, vec_col: str
) -> list[tuple[int, list[float]]]:
    rows = (
        emb.filter(F.col(id_col).isin(list(centroid_ids)))
        .select(id_col, vec_col)
        .collect()
    )
    return sorted((int(r[0]), [float(x) for x in r[1]]) for r in rows)


def _nearest_centroid_expr(
    cents: list[tuple[int, list[float]]], vec_col: str
) -> Column:
    """Per-row argmax-cosine struct over literal centroids: array_max of
    (rounded cos, -centroid_id) — deterministic (cos desc, id asc).
    Built as ONE parsed SQL expression (see :func:`_dot_sqls`): the
    C × d literal tree through the Column API cost ~2 s of py4j
    construction per query at C=16, d=64."""
    from cdc_system_spark.functions.portable import arr_sql, quote_sql

    v = quote_sql(vec_col)
    entries = ",".join(
        f"named_struct('cos_sim', {_cos_sqls(v, arr_sql(cv))},"
        f" 'neg_cid', {-cid})"
        for cid, cv in cents
    )
    return F.expr(f"array_max(array({entries}))")


def ivf_topk_exact(
    emb: DataFrame,
    query_vec: list[float],
    centroid_ids: tuple[int, ...] = (0, 1, 2, 3),
    k: int = 20,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF top-k in pure DataFrame expressions — the oracle-checkable
    twin of :func:`ivf_topk` (whose numpy-matmul assignment uses
    pairwise float32 summation an external SQL engine cannot bit-match;
    this variant keeps every fold sequential-double, so a SQL oracle
    reproduces cell assignment, probe choice, and ranking exactly).

    Plan shape is the IVF shape: per-row literal-centroid assignment
    (zero shuffle — :func:`nearest_centroid`), a map-side filter to the
    ``nprobe`` cells closest to the query, exact cosine + top-k
    (TakeOrderedAndProject) over the surviving fraction only.
    """
    import math

    cents = _collect_centroids(emb, centroid_ids, id_col, vec_col)

    def _seq_cos(a: list[float], b: list[float]) -> float:
        # sequential double folds, mirroring F.aggregate / list_sum order
        dot = na = nb = 0.0
        for x, y in zip(a, b):
            dot += x * y
            na += x * x
            nb += y * y
        return dot / (math.sqrt(na) * math.sqrt(nb))

    ranked = sorted(
        cents, key=lambda c: (-round(_seq_cos(query_vec, c[1]), 6), c[0])
    )
    probe = [cid for cid, _ in ranked[:nprobe]]

    # assignment is a per-row expression over literal centroids — the
    # probe filter is map-side, no join anywhere in the plan
    best = _nearest_centroid_expr(cents, vec_col)
    q = lit_vec(query_vec)
    scored = spread(emb).filter((-best["neg_cid"]).isin(probe)).select(
        F.col(id_col), cosine(F.col(vec_col), q).alias("cos_sim")
    )
    return scored.orderBy(F.desc("cos_sim"), id_col).limit(k)


def srp_weights(
    n_bands: int, bits_per_band: int, dim: int
) -> dict[tuple[int, int], list[int]]:
    """Deterministic random-hyperplane weights for SRP-LSH.

    Integer components in [-1000, 1000], derived from md5 of the
    (band, bit, position) coordinates — no RNG, so the same matrix is
    reproducible in any engine (the DuckDB oracle embeds the identical
    literals). Weights are model parameters: n_bands × bits × dim ints,
    independent of corpus size.
    """
    import hashlib

    return {
        (b, j): [
            int(hashlib.md5(f"srp{b}_{j}_{i}".encode()).hexdigest()[:15], 16)
            % 2001
            - 1000
            for i in range(1, dim + 1)
        ]
        for b in range(n_bands)
        for j in range(bits_per_band)
    }


def srp_bands(
    emb: DataFrame,
    n_bands: int = 8,
    bits_per_band: int = 4,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    carry_vec: bool = False,
) -> DataFrame:
    """Signed-random-projection LSH signatures (hyperplane hashing).

    ``carry_vec=True`` passes the vector column through the Arrow pass,
    saving downstream consumers (srp_lsh_pairs) a join back to the
    embeddings table.

    Band b's value packs ``bits_per_band`` sign bits, bit j =
    [dot(v, w_bj) > 0]. Computed as posexplode → one hash-aggregate on
    the vector id: every projection is a SUM of ``int64 × int64`` terms
    (components fixed-pointed at 6 decimals — round(x·10⁶)), so (a) the
    whole stage is native codegen'd long arithmetic, not interpreted
    higher-order array functions or slow decimal ops, (b) partial
    aggregation combines map-side — exploded elements of a vector are
    co-located, so the shuffle carries ~one row per vector, and (c)
    exact integer arithmetic makes every sign decision
    order-independent — identical in any engine at any parallelism, no
    float-tie edge cases. (Magnitudes: |component| ≤ ~10⁷, |weight| ≤
    10³, dim ≤ 10³ ⇒ |sum| ≤ 10¹³ ≪ int64 range.)
    Probability two vectors agree on one bit is 1 − θ/π, so recall tunes
    via bands × bits: more bits/band sharpens precision, more bands
    recovers recall (classic OR-of-ANDs LSH).

    Computed as a map-only Arrow pass: per batch, ONE exact int64
    matmul (batch × dim) @ (dim × planes) — components fixed-pointed at
    6 decimals with round-half-away-from-zero (bit-identical to SQL
    ``ROUND(x·10⁶)``), weights are int, so every sign decision is exact
    integer arithmetic: identical in any engine at any parallelism, no
    float-tie edge cases. Zero shuffle (the prior formulation —
    posexplode → broadcast weight join → 32-sum hash aggregate — paid a
    full shuffle on the id; measured 2× slower end-to-end on
    q_srp_lsh_pairs). Magnitudes: |component| ≤ ~10⁷, |weight| ≤ 10³,
    dim ≤ 10³ ⇒ |dot| ≤ 10¹³ ≪ int64 range.
    """
    w = srp_weights(n_bands, bits_per_band, dim)
    planes = [(b, j) for b in range(n_bands) for j in range(bits_per_band)]
    schema = f"{id_col} long, " + ", ".join(f"band{b} long" for b in range(n_bands))
    if carry_vec:
        vec_type = emb.schema[vec_col].dataType.simpleString()
        schema += f", {vec_col} {vec_type}"

    def compute(batches):
        import numpy as np
        import pandas as pd

        W = np.array([[w[p][i] for p in planes] for i in range(dim)], dtype=np.int64)
        pow2 = 1 << np.arange(bits_per_band, dtype=np.int64)
        for pdf in batches:
            if len(pdf) == 0:
                continue
            M = np.stack([np.asarray(v, dtype=np.float64) for v in pdf[vec_col]])
            # round half away from zero == Spark round()/SQL ROUND on doubles
            Mi = (np.floor(np.abs(M) * 1e6 + 0.5) * np.sign(M)).astype(np.int64)
            S = Mi @ W  # exact: int64 all the way
            bits_m = S > 0
            out = {id_col: pdf[id_col].to_numpy()}
            for b in range(n_bands):
                seg = bits_m[:, b * bits_per_band : (b + 1) * bits_per_band]
                out[f"band{b}"] = (seg * pow2).sum(axis=1).astype(np.int64)
            res = pd.DataFrame(out)
            if carry_vec:
                res[vec_col] = pdf[vec_col].to_numpy()
            yield res

    return emb.select(id_col, vec_col).mapInPandas(compute, schema)


def srp_lsh_pairs(
    emb: DataFrame,
    n_bands: int = 8,
    bits_per_band: int = 4,
    dim: int = 64,
    threshold: float = 0.4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Near-duplicate pairs via SRP-LSH banding + exact cosine rescore.

    The label-free scale path (cf. :func:`pairwise_neardup`, which needs
    a blocking key): candidates = pairs sharing ANY band value, found by
    a self-join that shuffles on (band_idx, band_val) — never the full
    cross product. Exact cosine then filters false positives, so
    precision is exact and only recall is approximate. At 100 TB the
    candidate volume is governed by bucket sizes (≈ n/2^bits per band
    per bucket), the same knob that controls skew.
    """
    sigs = srp_bands(emb, n_bands, bits_per_band, dim, id_col, vec_col, carry_vec=True)
    keyed = (
        sigs
        .select(
            F.col(id_col),
            F.col(vec_col),
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(b).alias("band_idx"),
                            F.col(f"band{b}").alias("band_val"),
                        )
                        for b in range(n_bands)
                    ]
                )
            ).alias("bk"),
        )
        .select(F.col(id_col), F.col(vec_col), F.col("bk.band_idx"), F.col("bk.band_val"))
    )

    # Stage 1 — vectorized in-bucket scoring. Each bucket's pairwise
    # cosine matrix is one numpy matmul (bucket_size × dim), Arrow-fed:
    # corpus×bands rows cross the JVM↔Python boundary ONCE, versus
    # materializing every candidate pair (quadratic in bucket size) as
    # JVM rows. The margin makes stage 1 a strict superset of the final
    # answer: numpy's reassociated float error is ~1e-12, the margin is
    # 1e-3, so no true pair can be lost.
    margin = 1e-3

    def bucket_pairs(pdf):
        import numpy as np
        import pandas as pd

        if len(pdf) < 2:
            return pd.DataFrame({"id1": [], "id2": []}).astype("int64")
        M = np.stack([np.asarray(v, dtype=np.float64) for v in pdf[vec_col]])
        M /= np.linalg.norm(M, axis=1, keepdims=True)
        sim = M @ M.T
        i, j = np.where(np.triu(sim >= threshold - margin, 1))
        ids = pdf[id_col].to_numpy()
        return pd.DataFrame(
            {"id1": np.minimum(ids[i], ids[j]), "id2": np.maximum(ids[i], ids[j])}
        )

    cand = (
        keyed.groupBy("band_idx", "band_val")
        .applyInPandas(bucket_pairs, schema="id1 long, id2 long")
        .distinct()
    )

    # Stage 2 — exact deterministic rescore of the survivors (≈ the
    # true pair count, ≪ candidates): sequential-fold double dot over
    # pre-normalized vectors, bit-identical to the oracle's list_sum.
    unit = emb.select(
        F.col(id_col),
        F.transform(
            F.col(vec_col), lambda x: x.cast("double") / _norm(F.col(vec_col))
        ).alias("unit"),
    )
    v1 = unit.select(F.col(id_col).alias("id1"), F.col("unit").alias("u1"))
    v2 = unit.select(F.col(id_col).alias("id2"), F.col("unit").alias("u2"))
    return (
        cand.join(v1, "id1")
        .join(v2, "id2")
        .withColumn("cos_sim", F.round(_dot(F.col("u1"), F.col("u2")), 6))
        .filter(F.col("cos_sim") >= threshold)
        .select("id1", "id2", "cos_sim")
    )


def pairwise_neardup(
    emb: DataFrame,
    block_col: str = "label",
    threshold: float = 0.4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    pair_salt: int = 8,
) -> DataFrame:
    """Near-duplicate pairs by cosine, candidate-blocked on ``block_col``.

    The self-join shuffles on the block key only — pairs never cross
    blocks, which is what keeps this sub-quadratic at scale.
    ``pair_salt`` splits each block into deterministic sub-blocks so
    pair scoring runs at block_count × pair_salt parallelism and a hot
    block spreads over reducers (identical pair set — see
    :func:`semantic_dedup`).
    """
    if pair_salt < 1:
        raise ValueError(f"pair_salt must be >= 1, got {pair_salt}")
    src = spread(emb)
    a = src.select(
        F.col(block_col).alias("blk"),
        F.pmod(F.col(id_col), F.lit(pair_salt)).cast("int").alias("_sb"),
        F.col(id_col).alias("id1"),
        F.col(vec_col).alias("v1"),
    )
    b = src.select(
        F.col(block_col).alias("blk"),
        F.explode(F.array(*[F.lit(i) for i in range(pair_salt)])).alias("_sb"),
        F.col(id_col).alias("id2"),
        F.col(vec_col).alias("v2"),
    )
    return (
        a.join(b, on=["blk", "_sb"])
        .filter(F.col("id1") < F.col("id2"))
        .withColumn("cos_sim", cosine(F.col("v1"), F.col("v2")))
        .filter(F.col("cos_sim") >= threshold)
        .select("id1", "id2", "cos_sim")
    )


def semantic_dedup(
    emb: DataFrame,
    centroid_ids: tuple[int, ...] | None = None,
    threshold: float = 0.4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    pair_salt: int = 8,
    num_centroids: int | None = None,
    refine_iters: int = 0,
    assigned: DataFrame | None = None,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): quantize embeddings to C cells, then prune
    near-duplicates *within* each cell only. The within-cell self-join
    is O(n²/C) pair scorings, so the cell count IS the scale knob: by
    default (``centroid_ids=None``) C = max(4, ceil(sqrt(n))) cells
    via :func:`auto_cells` — O(n^1.5) total pair work, cells staying
    ~√n rows as the corpus grows. A LITERAL ``centroid_ids`` tuple
    pins small fixed cells instead (the oracle-checkable form the
    registered queries use — DuckDB reproduces the literal-expression
    assignment bit-for-bit — but a fixed C is quadratic at 100×: only
    pass it for parity testing or when the cell partition must be
    frozen). ``num_centroids``/``refine_iters`` tune the auto path
    (explicit C; Lloyd refinement via :func:`kmeans_refine`).

    Keep rule (deterministic, layout-independent): a vector is dropped
    iff some same-cell vector with a *smaller id* has rounded cosine
    ≥ ``threshold``. Survivors are returned with their cell id.

    Plan shape: zero-shuffle cell assignment (literal-expression or
    vectorized-numpy, see :func:`auto_cells`) → one self-join shuffled
    on the cell key → left-anti on dropped ids. No cross join, no
    all-pairs.

    ``pair_salt``: the raw cell-keyed self-join has only ``len(
    centroid_ids)`` distinct shuffle keys, so pair scoring — the
    dominant cost — runs at cell-count parallelism and a hot cell
    lands on ONE reducer. The left side is split into ``pair_salt``
    deterministic sub-blocks (``pmod(id, pair_salt)`` — pmod, not ``%``,
    so negative ids land in 0..pair_salt-1 like the replicated right
    side rather than in unreachable negative sub-blocks) and the right side
    replicated across them, joined on (cell, sub-block): identical
    pair set, parallelism × ``pair_salt``, replication bounded at
    ``pair_salt`` × the cell-mate side. This is the standard skew
    remedy for within-block pair generation (same trade as
    :func:`~cdc_system_spark.operators.skew.salted_join`, measured
    1.8× on the sf0.1 bench where 4 cells left 28 of 32 cores idle).

    ``assigned``: a precomputed ``(id, vec, centroid_id)`` frame — the
    maintained-index path (:mod:`~cdc_system_spark.operators.ann_index`).
    When given, the centroid recompute AND the corpus re-assignment are
    skipped entirely; ``emb`` is ignored as a vector source (the
    assignment frame carries the vectors). Results are identical to the
    recompute path whenever the index was built over the same corpus
    with the same centroid parameters.
    """
    if pair_salt < 1:
        raise ValueError(f"pair_salt must be >= 1, got {pair_salt}")
    # Precompute each vector's norm ONCE before the self-join: the pair
    # cosine then needs only the dot fold. Inside the join the norm
    # would be re-folded per PAIR (cell_size x per vector) — and array
    # folds run outside codegen with no subexpression elimination, so
    # that waste is real (measured ~10 s -> ~4 s at sf0.1). Same
    # floating-point ops in the same order, so results are bit-identical.
    # spread: the C-cosine assignment + norm fold is CPU-bound and a
    # small corpus scans as one split — without it the whole projection
    # runs on one core (a no-op at real scale, see spread's contract).
    if assigned is not None:
        assigned = assigned.select(id_col, vec_col, "centroid_id").withColumn(
            "_nrm", _norm(F.col(vec_col))
        )
    elif centroid_ids is None:
        assigned = auto_cells(
            emb, id_col, vec_col, num_centroids, refine_iters
        ).withColumn("_nrm", _norm(F.col(vec_col)))
    else:
        cents = _collect_centroids(emb, centroid_ids, id_col, vec_col)
        best = _nearest_centroid_expr(cents, vec_col)
        assigned = spread(emb).select(
            F.col(id_col),
            F.col(vec_col),
            (-best["neg_cid"]).cast("int").alias("centroid_id"),
        ).withColumn("_nrm", _norm(F.col(vec_col)))
    a = assigned.select(
        F.col("centroid_id").alias("cell"),
        F.pmod(F.col(id_col), F.lit(pair_salt)).cast("int").alias("_sb"),
        F.col(id_col).alias("keep_id"),
        F.col(vec_col).alias("v1"),
        F.col("_nrm").alias("n1"),
    )
    b = assigned.select(
        F.col("centroid_id").alias("cell"),
        F.explode(
            F.array(*[F.lit(i) for i in range(pair_salt)])
        ).alias("_sb"),
        F.col(id_col).alias("dup_id"),
        F.col(vec_col).alias("v2"),
        F.col("_nrm").alias("n2"),
    )
    pair_cos = F.round(
        _dot(F.col("v1"), F.col("v2")) / (F.col("n1") * F.col("n2")), 6
    )
    dropped = (
        a.join(b, on=["cell", "_sb"])
        .filter(F.col("keep_id") < F.col("dup_id"))
        .filter(pair_cos >= threshold)
        .select("dup_id")
        .distinct()
    )
    return (
        assigned.join(
            dropped, assigned[id_col] == dropped["dup_id"], "left_anti"
        )
        .select(id_col, "centroid_id")
    )


def knn_graph(
    emb: DataFrame,
    k: int = 3,
    block_col: str | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    num_centroids: int | None = None,
    assigned: DataFrame | None = None,
) -> DataFrame:
    """Block-bounded kNN graph: each vector's top-``k`` most-similar
    neighbors within its block — the edge list graph-based clustering,
    SemDeDup refinement, and diversity sampling all start from.

    The candidate set is the blocked self-join (never all-pairs: the
    block key bounds it, same contract as :func:`pairwise_neardup`) —
    O(n²/B) pair scorings for B blocks, so by default
    (``block_col=None``) the blocks are corpus-scaled centroid cells,
    C = max(4, ceil(sqrt(n))) via :func:`auto_cells`, keeping total
    pair work O(n^1.5). Pass an explicit ``block_col`` (label, LSH
    bucket, IVF cell) to block on a user partition instead — the
    oracle-checkable form the registered query uses; note a fixed-
    cardinality block column is quadratic at 100×. The join is made
    symmetric so every vector ranks ALL its block neighbors; the
    per-source top-k is a WindowGroupLimit window (rounded-cos desc,
    neighbor-id asc tiebreak — deterministic), which prunes below-k
    rows before the shuffle.
    """
    from pyspark.sql import Window

    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    # norms precomputed pre-join (see semantic_dedup: per-pair norm
    # folds re-evaluate outside codegen, cell_size x waste per vector);
    # spread + sub-block salt: see semantic_dedup — identical pair set,
    # block-count × 8 parallelism
    if assigned is not None:
        # maintained-index path (operators/ann_index.py): assignment
        # already done at build/ingest time, skip straight to scoring
        block_col = "centroid_id"
        normed = assigned.select(id_col, vec_col, "centroid_id").withColumn(
            "_nrm", _norm(F.col(vec_col))
        )
    elif block_col is None:
        block_col = "centroid_id"
        normed = auto_cells(emb, id_col, vec_col, num_centroids).withColumn(
            "_nrm", _norm(F.col(vec_col))
        )
    else:
        normed = spread(emb).withColumn("_nrm", _norm(F.col(vec_col)))
    _n_salt = 8
    a = normed.select(
        F.col(block_col).alias("blk"),
        F.pmod(F.col(id_col), F.lit(_n_salt)).cast("int").alias("_sb"),
        F.col(id_col).alias("src"),
        F.col(vec_col).alias("v1"),
        F.col("_nrm").alias("n1"),
    )
    b = normed.select(
        F.col(block_col).alias("blk"),
        F.explode(F.array(*[F.lit(i) for i in range(_n_salt)])).alias("_sb"),
        F.col(id_col).alias("dst"),
        F.col(vec_col).alias("v2"),
        F.col("_nrm").alias("n2"),
    )
    scored = (
        a.join(b, on=["blk", "_sb"])
        .filter(F.col("src") != F.col("dst"))
        .select(
            "src",
            "dst",
            F.round(
                _dot(F.col("v1"), F.col("v2")) / (F.col("n1") * F.col("n2")),
                6,
            ).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("src").orderBy(F.desc("cos_sim"), F.asc("dst"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("src", "dst", "cos_sim", "rank")
    )


def assign_cells(
    emb: DataFrame,
    num_centroids: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> tuple[DataFrame, DataFrame]:
    """IVF coarse quantization: (centroids, emb+cell_id).

    Centroids = first ``num_centroids`` vectors by id (deterministic;
    :func:`kmeans_refine` improves them). They are *model parameters*,
    C ≪ corpus by construction: collected once and closed over by a
    vectorized assignment pass — zero joins, zero shuffles over the
    corpus. (The naive shape, broadcast crossJoin + groupBy-argmax,
    costs a C× row blowup plus a full corpus shuffle.)
    """
    centroids = emb.orderBy(id_col).limit(num_centroids).select(
        F.col(id_col).alias("cell_id"), F.col(vec_col).alias("cvec")
    )
    cents = [(int(r["cell_id"]), list(r["cvec"])) for r in centroids.collect()]
    return centroids, _assign_vectorized(emb, cents, id_col, vec_col)


def _assign_vectorized(
    emb: DataFrame,
    cents: list[tuple[int, list[float]]],
    id_col: str,
    vec_col: str,
    extra_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Map-side argmax-cosine assignment: one numpy matmul per Arrow
    batch inside ``mapInPandas``.

    This is the "vectorized pandas UDF where builtins get unwieldy"
    case: the pure-builtin equivalent (transform+aggregate argmax over a
    literal centroid array) is a higher-order-function expression, which
    Spark *interprets* per element — measured ~14 ms/row at C=16, d=64
    vs microseconds for ``rows @ centroids.T``. Still zero joins, zero
    shuffles; ties break toward the larger cell id (same rule as
    ``max_by(struct(sim, cell_id))``).

    ``extra_cols`` ride through the Arrow pass untouched, so a consumer
    that needs per-row payload next to the assignment (e.g. the label
    column of ``knn_label_noise``) gets it in the SAME corpus pass —
    without it the caller joins the assignment back to the corpus by
    id, a second full scan plus an exchange (guide §2.4).
    """
    from pyspark.sql import types as T

    out_schema = T.StructType(
        [
            emb.schema[id_col],
            emb.schema[vec_col],
            *[emb.schema[c] for c in extra_cols],
            T.StructField("cell_id", T.LongType()),
        ]
    )

    def batches(it):
        import numpy as np
        import pandas as pd

        cid_arr = np.array([cid for cid, _ in cents], dtype=np.int64)
        C = np.stack([np.asarray(v, dtype=np.float64) for _, v in cents])
        Cn = C / np.linalg.norm(C, axis=1, keepdims=True)
        rev = np.argsort(-cid_arr)  # argmax keeps FIRST max → order desc by cid
        for pdf in it:
            if len(pdf) == 0:
                continue
            M = np.stack([np.asarray(v, dtype=np.float64) for v in pdf[vec_col]])
            Mn = M / np.maximum(np.linalg.norm(M, axis=1, keepdims=True), 1e-300)
            best = np.argmax(Mn @ Cn[rev].T, axis=1)
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    vec_col: pdf[vec_col],
                    **{c: pdf[c] for c in extra_cols},
                    "cell_id": cid_arr[rev][best],
                }
            )

    return emb.select(id_col, vec_col, *extra_cols).mapInPandas(
        batches, schema=out_schema
    )


def kmeans_refine(
    emb: DataFrame,
    num_centroids: int = 16,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Spherical k-means refinement of the IVF centroids (Lloyd steps).

    Per iteration one vectorized map pass over the corpus computes the
    argmax-cosine assignment AND per-cell partial sums of unit vectors
    (numpy, inside ``mapInPandas``); only C·(d+1) partial rows per batch
    shuffle to a tiny combine. New centroids are the L2-normalized means
    (spherical update ⇒ the summed-cosine objective is non-decreasing);
    cells that lose all members keep their previous centroid. Centroids
    are model parameters: driver-side between iterations by design — the
    corpus never leaves the cluster.
    """
    import math

    init = (
        emb.orderBy(id_col)
        .limit(num_centroids)
        .select(F.col(id_col).alias("cell_id"), F.col(vec_col).alias("cvec"))
    )
    cents = [(int(r["cell_id"]), [float(x) for x in r["cvec"]]) for r in init.collect()]
    for _ in range(iters):
        # spherical update: average UNIT vectors (averaging raw vectors
        # breaks Lloyd monotonicity under the cosine objective). One
        # mapInPandas pass emits per-batch partial sums — C·(d+1) rows
        # per batch — then a tiny groupBy combines them: the corpus is
        # touched once per iteration, map-side only.
        partials = _partial_cell_sums(emb, cents, vec_col)
        merged = (
            partials.groupBy("cell_id", "dim").agg(F.sum("s").alias("s")).collect()
        )
        sums: dict[int, dict[int, float]] = {}
        for r in merged:
            sums.setdefault(int(r["cell_id"]), {})[int(r["dim"])] = float(r["s"])
        new_cents = []
        for cid, old in cents:
            cell = sums.get(cid)
            n = cell.pop(-1, 0.0) if cell else 0.0  # dim −1 carries the count
            if not cell or n == 0:
                new_cents.append((cid, old))  # empty cell: keep previous
                continue
            vec = [cell[d] / n for d in range(len(old))]
            nrm = math.sqrt(sum(x * x for x in vec)) or 1.0
            new_cents.append((cid, [x / nrm for x in vec]))
        cents = new_cents
    spark = emb.sparkSession
    return spark.createDataFrame(
        [(cid, vec) for cid, vec in cents], "cell_id long, cvec array<double>"
    )


def ivf_topk(
    assigned: DataFrame,
    centroids: DataFrame,
    query_vec: list[float],
    k: int = 20,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k: score only vectors in the ``nprobe`` cells
    whose centroids are closest to the query."""
    q = lit_vec(query_vec)
    probe = (
        centroids.withColumn("_sim", cosine(F.col("cvec"), q, decimals=None))
        .orderBy(F.desc("_sim"), "cell_id")
        .limit(nprobe)
        .select("cell_id")
    )
    cands = assigned.join(F.broadcast(probe), on="cell_id", how="left_semi")
    scored = cands.select(F.col(id_col), cosine(F.col(vec_col), q).alias("cos_sim"))
    return scored.orderBy(F.desc("cos_sim"), id_col).limit(k)


def group_normalize(
    emb: DataFrame,
    group_col: str = "label",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-group embedding z-score normalization via grouped-map pandas.

    ``applyInPandas`` receives each group as ONE pandas frame (numpy
    vectorized inside), the shape for per-group model-ish transforms
    that builtins can't express cleanly (whitening, PCA-per-tenant,
    learned scalers). Output: (id, group, norm_embedding) where each
    dimension is (x − group mean) / group std (population, ddof=0;
    zero-variance dims map to 0).

    Scale note: one shuffle on the group key; a group must fit in one
    executor's memory — for billion-row groups use a two-pass builtin
    aggregate instead (the stats themselves are a groupBy).
    """
    from pyspark.sql import types as T

    out_schema = T.StructType(
        [
            T.StructField(id_col, T.LongType()),
            T.StructField(group_col, emb.schema[group_col].dataType),
            T.StructField("norm_embedding", T.ArrayType(T.DoubleType())),
        ]
    )

    def norm(pdf):
        import numpy as np
        import pandas as pd

        mat = np.stack([np.asarray(v, dtype=np.float64) for v in pdf[vec_col]])
        mu = mat.mean(axis=0)
        sd = mat.std(axis=0)
        centered = np.where(sd == 0, 0.0, (mat - mu) / np.where(sd == 0, 1.0, sd))
        rounded = np.floor(centered * 1e6 + np.where(centered >= 0, 0.5, -0.5)) / 1e6
        return pd.DataFrame(
            {
                id_col: pdf[id_col].astype("int64"),
                group_col: pdf[group_col],
                "norm_embedding": list(rounded),
            }
        )

    return emb.select(id_col, group_col, vec_col).groupBy(group_col).applyInPandas(
        norm, schema=out_schema
    )


def _partial_cell_sums(
    emb: DataFrame, cents: list[tuple[int, list[float]]], vec_col: str
) -> DataFrame:
    """Per-batch partial sums of unit vectors per assigned cell.

    Emits (cell_id, dim, s) rows; ``dim = -1`` carries the member count.
    The map-side combine happens inside numpy, so the shuffle moves
    C·(d+1) rows per batch instead of the corpus.
    """
    from pyspark.sql import types as T

    out_schema = T.StructType(
        [
            T.StructField("cell_id", T.LongType()),
            T.StructField("dim", T.IntegerType()),
            T.StructField("s", T.DoubleType()),
        ]
    )

    def batches(it):
        import numpy as np
        import pandas as pd

        cid_arr = np.array([cid for cid, _ in cents], dtype=np.int64)
        C = np.stack([np.asarray(v, dtype=np.float64) for _, v in cents])
        Cn = C / np.linalg.norm(C, axis=1, keepdims=True)
        rev = np.argsort(-cid_arr)
        d = C.shape[1]
        for pdf in it:
            if len(pdf) == 0:
                continue
            M = np.stack([np.asarray(v, dtype=np.float64) for v in pdf[vec_col]])
            Mn = M / np.maximum(np.linalg.norm(M, axis=1, keepdims=True), 1e-300)
            best = cid_arr[rev][np.argmax(Mn @ Cn[rev].T, axis=1)]
            cell_ids, dims, sums = [], [], []
            for j, cid in enumerate(cid_arr):
                members = Mn[best == cid]
                if len(members) == 0:
                    continue
                vec_sum = members.sum(axis=0)
                cell_ids.extend([cid] * (d + 1))
                dims.extend(list(range(d)) + [-1])
                sums.extend([float(x) for x in vec_sum] + [float(len(members))])
            yield pd.DataFrame(
                {
                    "cell_id": pd.Series(cell_ids, dtype="int64"),
                    "dim": pd.Series(dims, dtype="int32"),
                    "s": pd.Series(sums, dtype="float64"),
                }
            )

    return emb.select(vec_col).mapInPandas(batches, schema=out_schema)


def assign_with_centroids(
    emb: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Map-side cell assignment against an explicit centroid table
    (e.g. the output of :func:`kmeans_refine`)."""
    cents = [(int(r["cell_id"]), [float(x) for x in r["cvec"]]) for r in centroids.collect()]
    return _assign_vectorized(emb, cents, id_col, vec_col)


def assign_two_level(
    emb: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    coarse_count: int | None = None,
    coarse_probe: int = 2,
) -> DataFrame:
    """Two-level (coarse → fine) cell assignment for centroid tables
    too large to collect to the driver — the mechanized form of the
    escape hatch :func:`auto_cells` documents.

    The flat path closes all C centroids over an Arrow pass, which
    holds to C ≈ 10⁵ (√n at n = 10¹⁰). Past that, only the
    ``K = max(4, ceil(sqrt(C)))`` COARSE centroids (the first K fine
    centroids by id) are driver-collected; the C-row fine table stays
    distributed. Three map-side-ish steps, none touching the corpus
    more than once:

    1. tag every FINE centroid with its nearest coarse cell (one
       vectorized pass over the C-row table);
    2. tag every corpus row with its nearest coarse cell (one
       vectorized pass over the corpus);
    3. cogroup rows with their coarse cell's fine centroids
       (``groupBy(coarse).cogroup(...).applyInPandas``) and take the
       numpy argmax-cosine within the bucket — one shuffle on the
       coarse key, expected bucket payload n/K rows × √C fine
       centroids.

    Semantics: the row is assigned to its nearest fine centroid
    within its ``coarse_probe`` nearest coarse buckets (candidates
    unioned across probes, global tie-breaks: higher rounded-free
    cosine, then larger cell id — the flat path's rule). Exact
    whenever the globally-nearest fine centroid lands in one of the
    probed buckets: always true at ``coarse_probe = K`` (the union is
    all C centroids — a testable identity), true at small probes for
    clustered data (the regime the hierarchy exists for), the
    standard multi-probe IVF approximation otherwise. A coarse bucket
    holding rows but no fine centroids is impossible for distinct
    centroids (every coarse centroid IS a fine centroid and tags to
    itself) and raises loudly rather than dropping rows if
    duplicate-centroid degeneracy ever produces it.
    """
    import math

    from pyspark.sql import types as T

    if coarse_probe < 1:
        raise ValueError(f"coarse_probe must be >= 1, got {coarse_probe}")
    C = centroids.count()
    K = coarse_count or (max(4, math.isqrt(C - 1) + 1) if C > 1 else 1)
    p = min(coarse_probe, K)
    coarse_rows = (
        centroids.orderBy("cell_id").limit(K)
        .select(F.col("cell_id"), F.col("cvec"))
        .collect()
    )
    coarse_cents = sorted(
        (int(r["cell_id"]), [float(x) for x in r["cvec"]]) for r in coarse_rows
    )
    fine_tagged = _assign_vectorized(
        centroids.select(F.col("cell_id").alias("_fid"), "cvec"),
        coarse_cents,
        "_fid",
        "cvec",
    ).withColumnRenamed("cell_id", "_coarse")
    rows_tagged = _tag_top_coarse(
        emb.select(id_col, vec_col), coarse_cents, id_col, vec_col, p
    )

    cand_schema = T.StructType(
        [
            emb.schema[id_col],
            emb.schema[vec_col],
            T.StructField("cell_id", T.LongType()),
            T.StructField("_sim", T.DoubleType()),
        ]
    )

    def fine_best(left, right):
        import numpy as np
        import pandas as pd

        if len(left) == 0:
            return pd.DataFrame(
                {
                    id_col: left[id_col],
                    vec_col: left[vec_col],
                    "cell_id": [],
                    "_sim": [],
                }
            )
        if len(right) == 0:
            raise ValueError(
                "coarse bucket holds rows but no fine centroids — "
                "duplicate-centroid degeneracy; deduplicate the "
                "centroid table"
            )
        cid = right["_fid"].to_numpy(dtype=np.int64)
        Cm = np.stack([np.asarray(v, dtype=np.float64) for v in right["cvec"]])
        Cn = Cm / np.linalg.norm(Cm, axis=1, keepdims=True)
        order = np.argsort(-cid)  # argmax keeps FIRST max → desc by cid
        M = np.stack([np.asarray(v, dtype=np.float64) for v in left[vec_col]])
        Mn = M / np.maximum(np.linalg.norm(M, axis=1, keepdims=True), 1e-300)
        sims = Mn @ Cn[order].T
        best = np.argmax(sims, axis=1)
        return pd.DataFrame(
            {
                id_col: left[id_col],
                vec_col: left[vec_col],
                "cell_id": cid[order][best],
                "_sim": sims[np.arange(len(best)), best],
            }
        )

    per_bucket = (
        rows_tagged.groupBy("_coarse")
        .cogroup(fine_tagged.groupBy("_coarse"))
        .applyInPandas(fine_best, schema=cand_schema)
    )
    if p == 1:
        return per_bucket.drop("_sim")
    # combine the p probed buckets' winners: one map-side-combinable
    # agg, ties resolved exactly like the flat pass (sim, then cell id)
    return per_bucket.groupBy(id_col).agg(
        F.first(vec_col).alias(vec_col),
        F.max_by(
            F.col("cell_id"), F.struct(F.col("_sim"), F.col("cell_id"))
        ).alias("cell_id"),
    )


def _tag_top_coarse(
    emb: DataFrame,
    coarse_cents: list[tuple[int, list[float]]],
    id_col: str,
    vec_col: str,
    p: int,
) -> DataFrame:
    """Tag each row with its ``p`` nearest coarse cells — ``p`` output
    rows per input row (the multi-probe fan-out of
    :func:`assign_two_level`). Rank 1 reproduces
    :func:`_assign_vectorized` exactly (same float ops, same
    desc-cell-id tie order)."""
    from pyspark.sql import types as T

    out_schema = T.StructType(
        [
            emb.schema[id_col],
            emb.schema[vec_col],
            T.StructField("_coarse", T.LongType()),
        ]
    )

    def batches(it):
        import numpy as np
        import pandas as pd

        cid_arr = np.array([cid for cid, _ in coarse_cents], dtype=np.int64)
        Cm = np.stack([np.asarray(v, dtype=np.float64) for _, v in coarse_cents])
        Cn = Cm / np.linalg.norm(Cm, axis=1, keepdims=True)
        rev = np.argsort(-cid_arr)
        for pdf in it:
            if len(pdf) == 0:
                continue
            M = np.stack([np.asarray(v, dtype=np.float64) for v in pdf[vec_col]])
            Mn = M / np.maximum(np.linalg.norm(M, axis=1, keepdims=True), 1e-300)
            sims = Mn @ Cn[rev].T
            # stable argsort desc: first max wins, matching argmax —
            # kind='stable' keeps the desc-cid tie order at every rank
            top = np.argsort(-sims, axis=1, kind="stable")[:, :p]
            n = len(pdf)
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col].repeat(p).reset_index(drop=True),
                    vec_col: pdf[vec_col].repeat(p).reset_index(drop=True),
                    "_coarse": cid_arr[rev][top].reshape(n * p),
                }
            )

    return emb.select(id_col, vec_col).mapInPandas(batches, schema=out_schema)


def auto_centroid_count(n: int) -> int:
    """Corpus-scaled cell count ``C = max(4, ceil(sqrt(n)))`` — the
    SemDeDup-practice rule that keeps the within-cell pair work
    O(n²/C) = O(n^1.5) as the corpus grows instead of quadratic. A
    fixed C (the pre-round-5 default of 4 cells) caps parallelism AND
    lets per-cell pair counts grow quadratically at 100×; scaling C
    with √n holds expected cell size at √n rows."""
    import math

    return max(4, math.isqrt(n - 1) + 1) if n > 1 else 4


def _auto_cents(
    emb: DataFrame,
    id_col: str,
    vec_col: str,
    num_centroids: int | None = None,
    refine_iters: int = 0,
) -> list[tuple[int, list[float]]]:
    """Centroid list for the corpus-scaled cell path: the first
    ``C = auto_centroid_count(count)`` vectors by id (deterministic
    model parameters, C ≈ √n ≪ corpus — the only rows collected),
    optionally Lloyd-refined. Shared by every ``centroid_ids=None``
    operator default so both sides of a two-frame op quantize
    identically."""
    C = num_centroids or auto_centroid_count(emb.count())
    if refine_iters > 0:
        cdf = kmeans_refine(emb, C, refine_iters, id_col, vec_col)
        return [
            (int(r["cell_id"]), [float(x) for x in r["cvec"]])
            for r in cdf.collect()
        ]
    rows = emb.orderBy(id_col).limit(C).select(id_col, vec_col).collect()
    return sorted((int(r[0]), [float(x) for x in r[1]]) for r in rows)


#: above this centroid count auto_cells switches from the flat
#: driver-collected pass to the two-level coarse→fine hierarchy
#: (:func:`assign_two_level`). 4096 × d=64 float64 ≈ 2 MB collected —
#: far inside the driver budget; the switch point is conservative so
#: the hierarchy is exercised long before the flat path strains.
_TWO_LEVEL_THRESHOLD = 4096


def auto_cells(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    num_centroids: int | None = None,
    refine_iters: int = 0,
    two_level_threshold: int = _TWO_LEVEL_THRESHOLD,
    coarse_probe: int = 2,
    extra_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Corpus-scaled cell assignment: ``(id, vec, centroid_id)`` with
    ``C = max(4, ceil(sqrt(n)))`` cells (override via
    ``num_centroids``), assigned by the vectorized numpy argmax pass
    (:func:`_assign_vectorized` — the literal-expression form the
    oracle queries use is interpreted per element and stops being
    viable past a few dozen centroids). Zero joins, zero shuffles over
    the corpus; one bounded count job + one C-row collect.

    Driver bound, mechanized: past ``two_level_threshold`` centroids
    the flat path (C rows driver-collected and closed over by the
    Arrow pass) switches to :func:`assign_two_level` — only the
    √C-row COARSE table is collected, the fine table stays
    distributed, and rows are argmax-assigned within their coarse
    bucket via a cogrouped Arrow pass. The flat path alone holds to
    C ≈ 10⁵ (√n at n ≈ 10¹⁰, ~50 MB at d = 64); the hierarchy extends
    the same O(n²/C) pair-work bound past it with the standard
    two-level IVF within-bucket approximation. Lloyd refinement
    (``refine_iters``) shuttles all C centroids through the driver per
    iteration and is refused on the two-level path. The two-level
    assignment is the standard multi-probe IVF APPROXIMATION of the
    flat argmax — ``coarse_probe`` (default 2) sets how many coarse
    buckets each row searches; raise it toward exactness on
    weakly-clustered data (it forwards to :func:`assign_two_level`,
    which is exact at full probe)."""
    if num_centroids is not None:
        C = num_centroids
    else:
        C = auto_centroid_count(emb.count())
    if C > two_level_threshold:
        if refine_iters > 0:
            raise ValueError(
                f"refine_iters requires the flat path (C={C} > "
                f"two_level_threshold={two_level_threshold}): Lloyd "
                "iterations collect all C centroids per round"
            )
        cdf = emb.orderBy(id_col).limit(C).select(
            F.col(id_col).cast("long").alias("cell_id"),
            F.col(vec_col).alias("cvec"),
        )
        assigned = assign_two_level(
            spread(emb), cdf, id_col, vec_col, coarse_probe=coarse_probe
        ).withColumnRenamed("cell_id", "centroid_id")
        if extra_cols:
            # the two-level pass does not carry payload; re-attach by
            # id (the pre-r13 shape — this path is the rare huge-C one)
            assigned = assigned.join(
                emb.select(id_col, *extra_cols), id_col
            )
        return assigned
    cents = _auto_cents(emb, id_col, vec_col, C, refine_iters)
    # spread: the argmax matmul is CPU-bound and a small corpus scans
    # as one split (a no-op at real scale, see spread's contract)
    return _assign_vectorized(
        spread(emb), cents, id_col, vec_col, extra_cols=extra_cols
    ).withColumnRenamed("cell_id", "centroid_id")


# -- scalar-quantized ANN ----------------------------------------------------
#: div-by-zero guard for all-zero vectors (quantizes them to all-zero)
_Q_EPS = 1e-30


def quantize_list(v: list[float]) -> list[int]:
    """Driver-side twin of :func:`quantize_embeddings` for a query
    vector: symmetric int8-range scalar quantization, engine-portable
    (``floor(x·scale + 0.5)`` — identical IEEE-double steps in Python,
    Spark, and any SQL oracle; ``round()`` half-even vs half-up rules
    differ across engines, ``floor`` does not)."""
    import math

    mx = max(max(abs(float(x)) for x in v), _Q_EPS)
    s = 127.0 / mx
    return [int(math.floor(float(x) * s + 0.5)) for x in v]


def quantize_embeddings(
    emb: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Symmetric per-vector scalar quantization to int8 range: scale =
    127 / max|xᵢ|, qᵢ = floor(xᵢ·scale + 0.5) — the standard 4×
    memory/bandwidth compression for ANN search (a float32 embedding
    column dominates scan cost at 100 TB; int8 quantization is how
    production vector stores shrink it). Adds ``qvec array<long>`` and
    ``qscale double`` (for dequantization / asymmetric scoring).

    Map-only, zero shuffle. The scale is materialized as its own
    projection BEFORE the transform lambda references it: higher-order
    functions run interpreted with no common-subexpression
    elimination, so an inline ``array_max`` inside the lambda would
    re-reduce the whole vector per element (O(d²) — the measured
    blowup documented in BENCH_NOTES_r04).
    """
    mx = F.greatest(
        F.array_max(F.transform(F.col(vec_col), lambda x: F.abs(x.cast("double")))),
        F.lit(_Q_EPS),
    )
    scaled = emb.withColumn("qscale", F.lit(127.0) / mx)
    q = F.transform(
        F.col(vec_col),
        lambda x: F.floor(x.cast("double") * F.col("qscale") + F.lit(0.5)).cast(
            "long"
        ),
    )
    return scaled.withColumn("qvec", q)


def quantized_topk(
    emb: DataFrame,
    query_vec: list[float],
    k: int = 20,
    rescore_factor: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Two-stage ANN: rank by exact INTEGER dot product of quantized
    vectors (cheap — int64 multiply-adds, no float loads), keep the top
    ``k·rescore_factor`` candidates, then exact-cosine rescore the
    survivors and return the top ``k``. The standard
    quantize-then-rescore pattern (IVF-SQ/ScaNN-style): the quantized
    pass touches every row but reads 4× less data; the exact pass
    touches only ``k·rescore_factor`` rows.

    Both stages are TakeOrderedAndProject (per-partition k-heaps, no
    shuffle, no collect). Integer candidate ranking is fully
    deterministic (no float-comparison hazard); the final ordering uses
    rounded cosine + id tiebreak.
    """
    qq = quantize_list(query_vec)
    lit_q = F.array(*[F.lit(int(x)).cast("long") for x in qq])
    qdot = F.aggregate(
        F.zip_with(F.col("qvec"), lit_q, lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    cand = (
        quantize_embeddings(emb, vec_col, id_col)
        .select(F.col(id_col), F.col(vec_col), qdot.alias("qdot"))
        .orderBy(F.desc("qdot"), id_col)
        .limit(k * rescore_factor)
    )
    qv = lit_vec(query_vec)
    return (
        cand.select(
            F.col(id_col),
            F.col("qdot"),
            cosine(F.col(vec_col), qv).alias("cos_sim"),
        )
        .orderBy(F.desc("cos_sim"), id_col)
        .limit(k)
    )


def semantic_decontaminate(
    corpus: DataFrame,
    bench: DataFrame,
    centroid_ids: tuple[int, ...] | None = None,
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    num_centroids: int | None = None,
    assigned: DataFrame | None = None,
    centroids: DataFrame | None = None,
) -> DataFrame:
    """Embedding-space benchmark decontamination: drop corpus vectors
    whose cosine to ANY benchmark vector reaches ``threshold`` — the
    semantic companion to n-gram ``decontaminate`` (a paraphrased eval
    question shares no 5-gram but sits next to the benchmark in
    embedding space; cf. the SemDeDup observation that eval leakage
    survives lexical dedup, arXiv:2303.09540 §5).

    Same cell-blocking as :func:`semantic_dedup`: corpus AND benchmark
    are assigned to the SAME cells (centroids drawn from the corpus),
    and only same-cell (corpus, bench) pairs are scored — the per-cell
    probe work is O(n·|bench|/C), so by default (``centroid_ids=None``)
    the cell count scales with the corpus, C = max(4, ceil(sqrt(n)))
    via :func:`auto_cells`; a literal ``centroid_ids`` tuple pins
    small fixed cells (the oracle-checkable form the registered query
    uses — a fixed C makes the probe linear-in-n per bench vector at
    100×, parity testing only). The benchmark side is tiny by
    construction, so the per-cell join broadcasts. A bench vector in a
    different cell than a τ-close corpus vector is the blocked-ANN
    recall trade, shared with semantic_dedup; the √n cell count bounds
    it.

    Returns surviving corpus rows as (id, cell id).
    """
    # norms precomputed pre-join (HOF folds have no subexpression
    # elimination inside the join — the semantic_dedup lesson); spread:
    # the broadcast join is map-side, so corpus-side parallelism is the
    # scan split count — one core on a small file without it
    if assigned is not None:
        # maintained-index path (operators/ann_index.py): the corpus
        # side is the persisted assignment; the bench side (tiny) is
        # assigned fresh against the index's FROZEN centroid table so
        # both sides share one cell geometry
        if centroids is None:
            raise ValueError(
                "assigned requires the matching centroids table"
            )
        cents = sorted(
            (int(r["cell_id"]), [float(x) for x in r["cvec"]])
            for r in centroids.collect()
        )
        c = assigned.select(id_col, vec_col, "centroid_id").withColumn(
            "_nrm", _norm(F.col(vec_col))
        )
        b = (
            _assign_vectorized(bench, cents, id_col, vec_col)
            .withColumnRenamed("cell_id", "centroid_id")
            .select(
                F.col(id_col).alias("_bid"),
                F.col(vec_col).alias("_bv"),
                "centroid_id",
            )
            .withColumn("_bnrm", _norm(F.col("_bv")))
        )
    elif centroid_ids is None:
        cents = _auto_cents(corpus, id_col, vec_col, num_centroids)
        c = _assign_vectorized(
            spread(corpus), cents, id_col, vec_col
        ).withColumnRenamed("cell_id", "centroid_id").withColumn(
            "_nrm", _norm(F.col(vec_col))
        )
        b = (
            _assign_vectorized(bench, cents, id_col, vec_col)
            .withColumnRenamed("cell_id", "centroid_id")
            .select(
                F.col(id_col).alias("_bid"),
                F.col(vec_col).alias("_bv"),
                "centroid_id",
            )
            .withColumn("_bnrm", _norm(F.col("_bv")))
        )
    else:
        cents = _collect_centroids(corpus, centroid_ids, id_col, vec_col)
        best = _nearest_centroid_expr(cents, vec_col)
        c = spread(corpus).select(
            F.col(id_col),
            F.col(vec_col),
            (-best["neg_cid"]).cast("int").alias("centroid_id"),
        ).withColumn("_nrm", _norm(F.col(vec_col)))
        b = (
            bench.select(
                F.col(id_col).alias("_bid"),
                F.col(vec_col).alias("_bv"),
                (-best["neg_cid"]).cast("int").alias("centroid_id"),
            )
            .withColumn("_bnrm", _norm(F.col("_bv")))
        )
    pair_cos = F.round(
        _dot(F.col(vec_col), F.col("_bv")) / (F.col("_nrm") * F.col("_bnrm")), 6
    )
    contaminated = (
        c.join(F.broadcast(b), on="centroid_id")
        .filter(pair_cos >= threshold)
        .select(id_col)
        .distinct()
    )
    return c.join(contaminated, id_col, "left_anti").select(id_col, "centroid_id")


def rrf_fuse(
    lexical: DataFrame,
    semantic: DataFrame,
    id_col: str = "doc_id",
    k: int = 60,
    top_k: int | None = None,
) -> DataFrame:
    """Reciprocal-rank fusion of two retrieval rankings (Cormack et al.
    SIGIR'09): score = Σ 1/(k+rankᵢ) over the rankings that contain the
    doc — the standard hybrid-retrieval combiner (BM25 list ⊕ embedding
    list) that needs no score calibration because it reads only RANKS.

    Inputs are ranked frames carrying ``id_col`` and ``rank`` (1-based).
    Retrieval lists are top-k bounded by construction, so the full
    outer join is list-sized — never corpus-sized; at 100 TB this runs
    on two k-row frames regardless of corpus size. Output: id, both
    ranks (null when absent from a list), fused score (rounded, exact
    two-term sum), fused rank with id tiebreak.
    """
    from pyspark.sql import Window

    lex = lexical.select(F.col(id_col), F.col("rank").alias("lex_rank"))
    sem = semantic.select(F.col(id_col), F.col("rank").alias("sem_rank"))
    fused = lex.join(sem, id_col, "full_outer").withColumn(
        "rrf_score",
        F.round(
            F.coalesce(1.0 / (F.lit(k) + F.col("lex_rank")), F.lit(0.0))
            + F.coalesce(1.0 / (F.lit(k) + F.col("sem_rank")), F.lit(0.0)),
            6,
        ),
    )
    w = Window.partitionBy().orderBy(F.desc("rrf_score"), F.col(id_col).asc())
    out = fused.withColumn("fused_rank", F.row_number().over(w).cast("long"))
    # filter on the computed rank, NOT limit(): limit takes an arbitrary
    # subset of an unordered frame
    # `is not None`, not truthiness: an explicit top_k=0 means 0 rows
    return (
        out.filter(F.col("fused_rank") <= top_k) if top_k is not None else out
    )


def norm_outlier_filter(
    emb: DataFrame,
    lo: float = 0.01,
    hi: float = 0.99,
    strata_col: str = "label",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding sanity gate: keep vectors whose L2 norm sits inside the
    [``lo``, ``hi``] percentile band of their stratum — near-zero norms
    are failed/padded encodes, extreme norms are outliers that dominate
    dot-product rankings; both poison ANN indexes and cosine thresholds,
    so production vector pipelines gate on norm before indexing.

    One window shuffle on the stratum key (exact ``percent_rank``, not
    an approx sketch: deterministic and oracle-checkable; rounded norm
    + id tiebreak makes the rank unique on any layout). Returns
    surviving (id, stratum, norm) rows.
    """
    from pyspark.sql import Window

    if not 0.0 <= lo <= hi <= 1.0:
        raise ValueError(f"need 0 <= lo <= hi <= 1, got ({lo}, {hi})")
    nrm = F.round(_norm(F.col(vec_col)), 6)
    w = Window.partitionBy(strata_col).orderBy(
        nrm.asc(), F.col(id_col).asc()
    )
    return (
        spread(emb).withColumn("norm", nrm)
        .withColumn("_pr", F.percent_rank().over(w))
        .filter((F.col("_pr") >= lo) & (F.col("_pr") <= hi))
        .select(id_col, strata_col, "norm")
    )


def knn_label_noise(
    emb: DataFrame,
    k: int = 5,
    centroid_ids: tuple[int, ...] | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    num_centroids: int | None = None,
    assigned: DataFrame | None = None,
) -> DataFrame:
    """Label-noise detection by kNN neighbor vote (the confident-
    learning / cleanlab screening step a labeled training set gets
    before fine-tuning): each vector's k nearest neighbors — by cosine,
    within its nearest-centroid cell so the candidate set is cell-
    bounded, never all-pairs — vote with their labels; a vector whose
    own label loses the majority vote is flagged ``suspect``. Output:
    (id, label, pred_label, agree_frac, suspect); vectors alone in
    their cell have no neighbors and are absent, same contract as
    :func:`knn_graph`.

    Blocking on centroid cells (not on ``label_col`` like
    ``knn_graph``) is the point: noise detection needs neighbors found
    independently of the label under test. All ranks order on the
    ROUNDED cosine with id tiebreaks, so results are layout-stable and
    oracle-checkable. Scale shape: cell-bounded self-join — O(n²/C)
    pair scorings, so by default (``centroid_ids=None``) the cell
    count scales with the corpus, C = max(4, ceil(sqrt(n))) via
    :func:`auto_cells`, keeping total pair work O(n^1.5); a literal
    ``centroid_ids`` tuple pins small fixed cells (the oracle-
    checkable form the registered query uses — quadratic at 100×,
    parity testing only). Then top-k pruned by a per-src window before
    the vote, then two map-side-combinable aggregations — the same
    plan family as the audited ``knn_graph``.
    """
    from pyspark.sql import Window

    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if assigned is not None:
        # maintained-index path: the persisted assignment supplies the
        # cell labels; emb still supplies label_col via the id join
        cells = assigned.select(id_col, "centroid_id")
        pts = spread(emb).join(cells, id_col)
    elif centroid_ids is None:
        # the label rides THROUGH the vectorized assignment pass
        # (extra_cols) instead of joining the assignment back to the
        # corpus by id: the join form scanned the embeddings twice and
        # paid an exchange + broadcast for a 1:1 id join (r13, guide
        # §2.4 — the same inline-assignment shape the literal-centroid
        # path got in r12). Identical row set: the join was 1:1 on id.
        pts = auto_cells(
            emb, id_col, vec_col, num_centroids, extra_cols=(label_col,)
        )
    else:
        # literal-centroid path: the assignment is a pure per-row
        # expression — inline it (the semantic_dedup shape) instead of
        # joining nearest_centroid's frame back by id. The join form
        # scanned the corpus 4× per self-join side and evaluated the
        # C-cosine argmax twice behind a broadcast join; inlined, each
        # join side is one scan + one argmax, and two exchanges plus
        # two broadcasts leave the plan (r12 optimization; identical
        # row set — the join was 1:1 on id).
        cents = _collect_centroids(emb, centroid_ids, id_col, vec_col)
        best = _nearest_centroid_expr(cents, vec_col)
        pts = spread(emb).withColumn(
            "centroid_id", (-best["neg_cid"]).cast("int")
        )
    pts = pts.withColumn("_nrm", _norm(F.col(vec_col)))
    # sub-block salt: see semantic_dedup — identical pair set, cell
    # count × 8 parallelism on the dominant pair-scoring stage
    _n_salt = 8
    a = pts.select(
        F.col("centroid_id").alias("blk"),
        F.pmod(F.col(id_col), F.lit(_n_salt)).cast("int").alias("_sb"),
        F.col(id_col).alias("src"),
        F.col(label_col).alias("own_label"),
        F.col(vec_col).alias("v1"),
        F.col("_nrm").alias("n1"),
    )
    b = pts.select(
        F.col("centroid_id").alias("blk"),
        F.explode(F.array(*[F.lit(i) for i in range(_n_salt)])).alias("_sb"),
        F.col(id_col).alias("dst"),
        F.col(label_col).alias("nbr_label"),
        F.col(vec_col).alias("v2"),
        F.col("_nrm").alias("n2"),
    )
    edges = (
        a.join(b, on=["blk", "_sb"])
        .filter(F.col("src") != F.col("dst"))
        .select(
            "src",
            "own_label",
            "dst",
            "nbr_label",
            F.round(
                _dot(F.col("v1"), F.col("v2")) / (F.col("n1") * F.col("n2")),
                6,
            ).alias("cos_sim"),
        )
    )
    w_top = Window.partitionBy("src").orderBy(F.desc("cos_sim"), F.asc("dst"))
    top = (
        edges.withColumn("_rk", F.row_number().over(w_top))
        .filter(F.col("_rk") <= k)
    )
    votes = top.groupBy("src", "own_label", "nbr_label").agg(
        F.count("*").alias("_n")
    )
    # ONE consumer branch: the vote winner (vrk == 1) folds into the
    # same aggregation as the totals via max(when(...)), instead of a
    # separate pred frame joined back — the two-branch form recomputed
    # the whole scan->assign->pair-join->top-k subtree twice (the r7
    # verdict's most-shuffle-heavy-plan finding: 18 exchanges, halved
    # here). Everything after the pair join stays partitioned by src:
    # the top-k window, the vote window, and both groupBys all cluster
    # on src-prefixed keys, so this is one exchange end to end.
    w_vote = Window.partitionBy("src").orderBy(
        F.desc("_n"), F.asc("nbr_label")
    )
    ranked = votes.withColumn("_vrk", F.row_number().over(w_vote))
    return (
        ranked.groupBy("src", "own_label")
        .agg(
            F.sum("_n").alias("_k"),
            F.sum(
                F.when(F.col("nbr_label") == F.col("own_label"), F.col("_n"))
                .otherwise(F.lit(0))
            ).alias("_agree"),
            F.max(
                F.when(F.col("_vrk") == 1, F.col("nbr_label"))
            ).alias("pred_label"),
        )
        .select(
            F.col("src").alias(id_col),
            F.col("own_label").alias(label_col),
            "pred_label",
            F.round(F.col("_agree") / F.col("_k").cast("double"), 6).alias(
                "agree_frac"
            ),
            (F.col("pred_label") != F.col("own_label")).alias("suspect"),
        )
    )


def embedding_covariance(
    emb: DataFrame,
    dims: tuple[int, ...] | None = None,
    vec_col: str = "embedding",
) -> DataFrame:
    """Covariance matrix entries of the embedding dimensions: one row
    per ``(i, j)`` with ``i <= j`` — the statistic behind PCA
    projection, whitening, and anisotropy diagnosis of an embedding
    corpus. ``cov = E[x_i x_j] - E[x_i] E[x_j]`` with every SUM
    decimal-accumulated over 12-decimal-rounded per-row products
    (order-insensitive, engine-exact — the package's ``dsum``
    discipline), so the DuckDB oracle reproduces each entry
    bit-for-bit; only the final two double ops (divide, subtract)
    happen in float, identically everywhere.

    ``dims`` selects a dimension subset (0-based). The exploded-pair
    form costs n·d² rows before the d²-bounded map-side-combined agg —
    fine for d ≤ ~32 or a diagnostic block; for full-width high-d
    covariance at corpus scale use numpy partial outer products per
    Arrow batch (the :func:`kmeans_refine` partial-sums shape) and
    accept batch-order float sums, which no oracle can check.
    """
    d_expr = F.size(F.col(vec_col))
    if dims is None:
        first = emb.select(d_expr.alias("d")).first()
        if first is None:
            raise ValueError("embedding frame is empty and dims not given")
        dims = tuple(range(int(first["d"])))
    if not dims:
        raise ValueError("dims must be non-empty")
    pairs = [(i, j) for i in dims for j in dims if i <= j]
    v = F.col(vec_col)

    def x(i: int) -> Column:
        return F.element_at(v, i + 1).cast("double")

    dec = "decimal(30,12)"
    aggs = [F.count("*").cast("long").alias("_n")]
    for i in dims:
        aggs.append(
            F.sum(F.round(x(i), 12).cast(dec)).cast("double").alias(f"_s{i}")
        )
    for i, j in pairs:
        aggs.append(
            F.sum(F.round(x(i) * x(j), 12).cast(dec))
            .cast("double")
            .alias(f"_p{i}_{j}")
        )
    row = spread(emb).agg(*aggs)
    # unpivot the single stats row into (i, j, cov) via a literal
    # struct explode — no join, no shuffle beyond the agg itself
    entries = F.array(
        *[
            F.struct(
                F.lit(i).alias("i"),
                F.lit(j).alias("j"),
                F.round(
                    F.col(f"_p{i}_{j}") / F.col("_n")
                    - (F.col(f"_s{i}") / F.col("_n"))
                    * (F.col(f"_s{j}") / F.col("_n")),
                    8,
                ).alias("cov"),
            )
            for i, j in pairs
        ]
    )
    return row.select(F.explode(entries).alias("e")).select(
        "e.i", "e.j", "e.cov"
    )


def pca_components(
    cov: DataFrame,
    num_components: int,
    dim: int,
) -> list[tuple[float, list[float]]]:
    """Top-``num_components`` principal axes from a covariance-entry
    frame (the :func:`embedding_covariance` output shape): a
    driver-side list of ``(eigenvalue, unit_vector)`` sorted by
    eigenvalue descending. The covariance matrix is d² scalars —
    model parameters, collected by design (the IVF-centroid
    boundary); the eigensolve is numpy ``eigh`` on the symmetrized
    matrix. Sign convention: each vector's largest-|component| entry
    is made positive, so results are deterministic across LAPACK
    builds."""
    import numpy as np

    if num_components < 1 or num_components > dim:
        raise ValueError(
            f"num_components must be in [1, {dim}], got {num_components}"
        )
    M = np.zeros((dim, dim))
    for r in cov.collect():
        M[r["i"], r["j"]] = M[r["j"], r["i"]] = r["cov"]
    vals, vecs = np.linalg.eigh(M)
    out = []
    for idx in np.argsort(-vals)[:num_components]:
        vec = vecs[:, idx]
        pivot = int(np.argmax(np.abs(vec)))
        if vec[pivot] < 0:
            vec = -vec
        out.append((float(vals[idx]), [float(x) for x in vec]))
    return out


def pca_project(
    emb: DataFrame,
    components: list[tuple[float, list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    decimals: int = 6,
) -> DataFrame:
    """Project embeddings onto literal principal axes: ``(id, pc0,
    pc1, ...)`` — dimensionality reduction as a zero-shuffle,
    zero-join map projection (each score is one deterministic
    sequential dot fold over literal axis arrays, the
    :func:`cosine_topk` discipline — no Python in the row path)."""
    cols = [F.col(id_col)]
    for c_idx, (_, axis) in enumerate(components):
        lit_axis = lit_vec(axis)
        cols.append(
            F.round(_dot(F.col(vec_col), lit_axis), decimals).alias(
                f"pc{c_idx}"
            )
        )
    return spread(emb).select(*cols)


# -- product quantization (PQ / ADC) -----------------------------------------
def pq_codebooks(
    emb: DataFrame,
    m: int = 4,
    k: int = 8,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    refine_iters: int = 0,
    sample_cap: int = 2048,
    train_vecs: list[list[float]] | None = None,
) -> list[list[list[float]]]:
    """Train PQ codebooks: the vector space split into ``m`` contiguous
    subspaces, each with its own ``k``-centroid codebook —
    ``books[j][c]`` is centroid ``c`` of subspace ``j`` (Jégou et al.
    2011, "Product Quantization for Nearest Neighbor Search"). Where
    scalar quantization (``quantize_embeddings``) compresses 4× and
    IVF prunes the candidate set, PQ compresses a d-float vector to
    ``m`` byte-sized codes (64 floats → 4 codes here = 64× smaller),
    which is what makes exhaustive candidate scoring affordable at
    100 TB: the ADC pass (:func:`pq_topk`) reads only the code table.

    Base codebooks (``refine_iters=0``) are the subvectors of the
    ``k`` smallest-id vectors — fully deterministic and reproducible
    by the DuckDB oracle, the same convention every literal-centroid
    query in this package pins. ``refine_iters > 0`` runs Lloyd
    k-means per subspace in numpy over a driver-side sample of at
    most ``sample_cap`` smallest-id vectors (model-artifact-sized
    work, the ``pca_components`` convention; empty cells keep their
    previous centroid) — the production path, verified by the
    quantization-error test rather than an oracle (data-dependent
    centroids preclude literal SQL, the ``q_knn_label_noise_auto``
    precedent)."""
    if m < 1 or k < 1:
        raise ValueError(f"m and k must be >= 1, got m={m} k={k}")
    if train_vecs is not None:
        # caller supplies the smallest-id training vectors (the same
        # orderBy().limit() contract, fetched through a cheaper reader
        # — queries.base.embedding_head_vecs): skips the collect job
        need = max(k, sample_cap if refine_iters else k)
        if len(train_vecs) < k:
            raise ValueError(
                f"train_vecs supplies {len(train_vecs)} vectors but "
                f"k={k} codebook centroids are required; pass the "
                f"{need} smallest-id vectors (the orderBy().limit() "
                "contract this parameter short-circuits)"
            )
        if len(train_vecs) < need:
            # legitimate for a table smaller than sample_cap, which has
            # no more vectors to give; otherwise Lloyd refinement trains
            # on fewer samples than the orderBy().limit() path would
            warnings.warn(
                f"train_vecs supplies {len(train_vecs)} vectors but "
                f"refine_iters={refine_iters} trains on up to "
                f"sample_cap={sample_cap}; the codebooks are refined on "
                "the vectors given",
                stacklevel=2,
            )
        vecs = [[float(x) for x in v] for v in train_vecs]
    else:
        rows = (
            emb.orderBy(id_col)
            .limit(max(k, sample_cap if refine_iters else k))
            .select(vec_col)
            .collect()
        )
        vecs = [[float(x) for x in r[0]] for r in rows]
    if not vecs:
        raise ValueError("cannot train codebooks on an empty frame")
    d = len(vecs[0])
    if d % m:
        raise ValueError(f"vector dim {d} not divisible by m={m}")
    sub = d // m
    books = [
        [v[j * sub:(j + 1) * sub] for v in vecs[:k]] for j in range(m)
    ]
    if refine_iters:
        import numpy as np

        data = np.asarray(vecs, dtype=np.float64)
        for j in range(m):
            pts = data[:, j * sub:(j + 1) * sub]
            cents = np.asarray(books[j], dtype=np.float64)
            for _ in range(refine_iters):
                d2 = ((pts[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
                assign = d2.argmin(axis=1)
                for c in range(len(cents)):
                    mask = assign == c
                    if mask.any():
                        cents[c] = pts[mask].mean(axis=0)
            books[j] = [[float(x) for x in c] for c in cents]
    return books


def _pq_dist(vec_col: str, j: int, sub: int, cent: list[float]) -> Column:
    """Rounded squared L2 distance of subspace ``j`` of ``vec_col`` to
    a literal centroid — sequential fold (the ``_dot`` parity
    convention), rounded half-up-portable at 6 decimals so argmin ties
    resolve identically in any engine."""
    from cdc_system_spark.functions.portable import round_portable

    lit_cent = lit_vec(cent)
    sl = F.slice(F.col(vec_col), j * sub + 1, sub)
    diff2 = F.zip_with(
        sl,
        lit_cent,
        lambda x, y: (x.cast("double") - y) * (x.cast("double") - y),
    )
    return round_portable(
        F.aggregate(diff2, F.lit(0.0), lambda acc, x: acc + x), 6
    )


def _pq_dist_sqls(vec_sql: str, j: int, sub: int, cent: list[float]) -> str:
    """SQL-text twin of :func:`_pq_dist` — identical slice, fold and
    floor-portable rounding (``vec_sql`` is already-quoted SQL text).
    The m·k dist trees dominate the PQ encode expression; built through
    the Column API they cost ~1.3 s of py4j construction per query
    (see :func:`_dot_sqls`)."""
    from cdc_system_spark.functions.portable import arr_sql

    return (
        f"FLOOR(aggregate(zip_with(slice({vec_sql}, {j * sub + 1}, {sub}), "
        f"{arr_sql(cent)}, "
        "(x, y) -> (CAST(x AS DOUBLE) - y) * (CAST(x AS DOUBLE) - y)), "
        "CAST(0.0 AS DOUBLE), (acc, x) -> acc + x) "
        "* 1000000.0D + 0.5D) / 1000000.0D"
    )


def pq_code_columns(
    books: list[list[list[float]]],
    vec_col: str = "embedding",
    prefix: str = "code",
) -> list[Column]:
    """The ``m`` PQ code expressions ``{prefix}0..{prefix}{m-1}`` —
    ``code_j`` = index of subspace ``j``'s nearest codebook centroid
    (rounded-L2 argmin, smaller index on ties). ONE copy shared by
    :func:`pq_encode` (the ad-hoc form) and the maintained index's
    encode-at-ingest path (``ann_index_build``/``ann_index_ingest``
    with a PQ tier), so stored codes can never diverge from derived
    ones. Pure literal-centroid expressions inside whole-stage
    codegen."""
    from cdc_system_spark.functions.portable import quote_sql

    m = len(books)
    k = len(books[0])
    sub = len(books[0][0])
    v = quote_sql(vec_col)
    cols = []
    for j in range(m):
        ranked = (
            "sort_array(array("
            + ",".join(
                f"named_struct('d', {_pq_dist_sqls(v, j, sub, books[j][c])},"
                f" 'c', {c})"
                for c in range(k)
            )
            + "))[0].c"
        )
        if j == 0:
            # a short/long vector zips nulls into the distance fold and
            # the NULL-distance struct sorts first — a silently
            # arbitrary code; fail the row loudly instead (raise_error
            # evaluates only on bad rows; one guard per row suffices)
            ranked = (
                f"CASE WHEN size({v}) = {m * sub} THEN {ranked} "
                f"ELSE CAST(raise_error(CONCAT("
                f"'pq_encode: vector dim != codebook dim {m * sub}: got ',"
                f" CAST(size({v}) AS STRING))) AS INT) END"
            )
        cols.append(F.expr(ranked).alias(f"{prefix}{j}"))
    return cols


def pq_encode(
    emb: DataFrame,
    books: list[list[list[float]]],
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Encode every vector to its PQ codes: ``(id, code0..code{m-1})``
    via :func:`pq_code_columns`. Map-only, zero shuffle, zero join —
    the codebooks ride as literals inside whole-stage codegen, exactly
    like the literal-centroid assignment family. The code table is the
    64×-compressed searchable representation; store it columnar and
    the ADC scan reads m bytes per vector."""
    return emb.select(F.col(id_col), *pq_code_columns(books, vec_col))


def pq_adc_candidates(
    codes: DataFrame,
    books: list[list[list[float]]],
    query_vec: list[float],
    limit: int,
    id_col: str = "vec_id",
) -> DataFrame:
    """ADC-rank a PQ code table against a query: ``(id, adc_dist)``,
    the ``limit`` smallest approximate distances (explicit
    left-associated m-term LUT sum; TakeOrderedAndProject; id
    tiebreak). The shared candidate stage of :func:`pq_topk` and
    ``ivfpq_topk`` — it touches only the m code columns, never a
    vector."""
    m = len(books)
    sub = len(books[0][0])
    if len(query_vec) != m * sub:
        raise ValueError(
            f"query dim {len(query_vec)} != codebook dim {m * sub}"
        )

    def _lut(j: int, c: int) -> float:
        from cdc_system_spark.functions.portable import round_portable_py

        acc = 0.0
        for t in range(sub):
            diff = float(query_vec[j * sub + t]) - float(books[j][c][t])
            acc = acc + diff * diff
        # the SAME decimals as _pq_dist's round_portable — shared twin,
        # so the ADC LUT cannot silently diverge from encode distances
        return round_portable_py(acc, 6)

    score = None
    for j in range(m):
        lut_j = lit_vec(_lut(j, c) for c in range(len(books[j])))
        term = F.element_at(lut_j, F.col(f"code{j}") + 1)
        score = term if score is None else score + term
    return (
        codes.select(F.col(id_col), score.alias("adc_dist"))
        .orderBy(F.asc("adc_dist"), id_col)
        .limit(limit)
    )


def pq_exact_rescore(
    cand_ids: DataFrame,
    emb: DataFrame,
    query_vec: list[float],
    k: int,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Exact-cosine rescore of an ADC candidate frame ``(id,
    adc_dist)``. The candidate frame is BOUNDED by construction
    (``k·rescore_factor`` rows — a model-artifact-sized parameter,
    the nprobe·m·k LUT convention), so it collapses to a literal
    id→adc map driver-side and the float read happens through a
    pushed-down ``id IN (...)`` filter: parquet row-group statistics
    skip everything but the survivors' neighborhoods, making the
    rescore's scan bytes proportional to SURVIVORS, not to the corpus
    (or probed cells) being rescored. The r12 wide-embedding fixture
    measured the join formulation this replaces re-scanning every
    candidate-relation float vector — at d=512 that re-scan cost more
    than the ADC stage saved, inverting the compression payback the
    tier exists for. Shared final stage of :func:`pq_topk`,
    ``ivfpq_topk`` and ``ivfpq_residual_topk`` — one copy, so the
    rescore ordering convention (rounded cosine desc, id asc) cannot
    drift between them. A candidate id with several live versions
    (pre-compaction re-ingest) keeps its BEST adc_dist; its versions'
    float rows all pass the IN filter and rank by their own exact
    cosine."""
    best: dict = {}
    for r in cand_ids.collect():
        rid, dist = r[id_col], float(r["adc_dist"])
        if rid not in best or dist < best[rid]:
            best[rid] = dist
    qv = lit_vec(query_vec)
    if not best:
        return (
            emb.select(
                F.col(id_col),
                F.lit(0.0).alias("adc_dist"),
                F.lit(0.0).alias("cos_sim"),
            )
            .limit(0)
        )
    pairs = []
    for rid, dist in best.items():
        pairs.extend([F.lit(rid), F.lit(dist)])
    adc_map = F.create_map(*pairs)
    return (
        emb.filter(F.col(id_col).isin(list(best)))
        .select(
            F.col(id_col),
            adc_map[F.col(id_col)].alias("adc_dist"),
            cosine(F.col(vec_col), qv).alias("cos_sim"),
        )
        .orderBy(F.desc("cos_sim"), F.asc(id_col))
        .limit(k)
    )


def pq_topk(
    emb: DataFrame,
    books: list[list[list[float]]],
    query_vec: list[float],
    k: int = 10,
    rescore_factor: int = 3,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """PQ top-k with Asymmetric Distance Computation: the query stays
    un-quantized; a per-subspace lookup table (LUT) of rounded
    query→centroid squared distances is built DRIVER-side (m·k doubles
    — model-artifact-sized), each row's approximate distance is the
    m-term sum of its codes' LUT entries, the best ``k·rescore_factor``
    candidates rank by that (TakeOrderedAndProject), and survivors are
    exact-cosine rescored (the quantize-then-rescore discipline of
    ``quantized_topk``). The ADC pass touches only the m-byte codes —
    at 100 TB the float vectors are read for ``k·rescore_factor`` rows
    instead of all of them.

    The LUT entries use the same sequential-fold + portable-rounding
    arithmetic as :func:`pq_encode`, so a DuckDB oracle reproduces
    candidate choice and ranking bit-for-bit (``q_pq_topk``)."""
    if k < 1 or rescore_factor < 1:
        raise ValueError(
            f"k and rescore_factor must be >= 1, got k={k} "
            f"rescore_factor={rescore_factor}"
        )
    codes = pq_encode(emb.select(id_col, vec_col), books, vec_col, id_col)
    # rank on the CODES ONLY (the whole point: the ADC pass never
    # touches the float vectors)
    cand_ids = pq_adc_candidates(
        codes, books, query_vec, k * rescore_factor, id_col
    )
    return pq_exact_rescore(cand_ids, emb, query_vec, k, vec_col, id_col)
