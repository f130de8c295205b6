"""Similarity operator math: IVF assignment and grouped-map
normalization cross-checked against numpy."""

from __future__ import annotations

import warnings

import numpy as np
import pytest
from pyspark.sql import functions as F

from cdc_system_spark.operators import similarity as S
from cdc_system_spark.sources.catalog import load_table


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return load_table(spark, sf_dir, "embeddings")


def test_ivf_assignment_matches_numpy_argmax(emb):
    centroids, assigned = S.assign_cells(emb, num_centroids=8)
    C = {r["cell_id"]: np.array(r["cvec"], dtype=float) for r in centroids.collect()}
    got = {r["vec_id"]: r["cell_id"] for r in assigned.collect()}
    for r in emb.select("vec_id", "embedding").collect():
        v = np.array(r["embedding"], dtype=float)
        sims = {
            cid: float(v @ c / (np.linalg.norm(v) * np.linalg.norm(c)))
            for cid, c in C.items()
        }
        best = max(sims.items(), key=lambda kv: (kv[1], kv[0]))[0]
        assert got[r["vec_id"]] == best


def test_ivf_topk_is_subset_of_probed_cells(emb):
    qv = emb.filter("vec_id = 0").head()["embedding"]
    centroids, assigned = S.assign_cells(emb, num_centroids=8)
    top = S.ivf_topk(assigned, centroids, list(qv), k=10, nprobe=2)
    rows = top.collect()
    assert len(rows) == 10
    assert rows[0]["vec_id"] == 0 and rows[0]["cos_sim"] == 1.0  # self-match


def test_group_normalize_matches_numpy(emb):
    out = {r["vec_id"]: r for r in S.group_normalize(emb).collect()}
    pdf = emb.select("vec_id", "label", "embedding").toPandas()
    for label, grp in pdf.groupby("label"):
        mat = np.stack([np.asarray(v, dtype=np.float64) for v in grp["embedding"]])
        mu, sd = mat.mean(axis=0), mat.std(axis=0)
        z = np.where(sd == 0, 0.0, (mat - mu) / np.where(sd == 0, 1.0, sd))
        for (vid, expect) in zip(grp["vec_id"], z):
            got = np.array(out[vid]["norm_embedding"])
            assert out[vid]["label"] == label
            np.testing.assert_allclose(got, expect, atol=5e-6)  # 1e-6 output grid + float reduction noise


def test_group_normalize_stats_are_standard(emb):
    # per (label, dim): mean ≈ 0, std ≈ 1 after normalization
    rows = S.group_normalize(emb).collect()
    by_label: dict[str, list] = {}
    for r in rows:
        by_label.setdefault(r["label"], []).append(r["norm_embedding"])
    for label, vecs in by_label.items():
        mat = np.array(vecs)
        np.testing.assert_allclose(mat.mean(axis=0), 0.0, atol=1e-5)
        sd = mat.std(axis=0)
        nonzero = sd > 1e-9  # constant dims normalize to 0
        np.testing.assert_allclose(sd[nonzero], 1.0, atol=1e-4)


def test_kmeans_refine_improves_spherical_objective(spark, emb):
    import numpy as np

    pdf = emb.select("vec_id", "embedding").toPandas()
    mat = np.stack([np.asarray(v, dtype=np.float64) for v in pdf["embedding"]])
    unit = mat / np.linalg.norm(mat, axis=1, keepdims=True)

    def objective(centroids_df):
        C = np.stack(
            [np.asarray(r["cvec"], dtype=np.float64) for r in centroids_df.collect()]
        )
        C = C / np.linalg.norm(C, axis=1, keepdims=True)
        return float((unit @ C.T).max(axis=1).sum())  # best-cell cosine sum

    init, _ = S.assign_cells(emb, num_centroids=8)
    refined = S.kmeans_refine(emb, num_centroids=8, iters=2)
    assert objective(refined) >= objective(init) - 1e-9


def test_kmeans_query_returns_topk(spark, sf_dir):
    from cdc_system_spark.queries import QUERY_REGISTRY

    rows = QUERY_REGISTRY["q_ivf_kmeans_topk"].fn(spark, sf_dir).collect()
    assert len(rows) == 20
    assert rows[0]["vec_id"] == 0 and rows[0]["cos_sim"] == 1.0


def test_srp_lsh_pairs_subset_of_bruteforce_with_recall(emb):
    # SRP-LSH precision is exact (cosine rescore); recall is the
    # LSH approximation — bound it from below at these parameters.
    got = {
        (r["id1"], r["id2"]): r["cos_sim"]
        for r in S.srp_lsh_pairs(emb, threshold=0.4).collect()
    }
    pdf = emb.select("vec_id", "embedding").toPandas().sort_values("vec_id")
    M = np.stack([np.asarray(v, dtype=np.float64) for v in pdf["embedding"]])
    M = M / np.linalg.norm(M, axis=1, keepdims=True)
    ids = pdf["vec_id"].to_numpy()
    sims = M @ M.T
    truth = {
        (int(ids[i]), int(ids[j])): round(float(sims[i, j]), 6)
        for i in range(len(ids))
        for j in range(i + 1, len(ids))
        if round(float(sims[i, j]), 6) >= 0.4
    }
    assert set(got) <= set(truth)  # no false positives
    for pair, cs in got.items():
        assert abs(cs - truth[pair]) <= 1e-5
    # theory: bit-agreement p = 1 - acos(0.4)/pi ≈ 0.63, band = p^4,
    # 8 bands → recall ≈ 0.75; assert a loose floor
    assert len(got) >= 0.5 * len(truth)


def test_semantic_dedup_drop_rule(spark):
    """Survivors + dropped partition the corpus; a vector is dropped
    iff some smaller-id vector in the SAME cell has cosine >= tau —
    near-dups across cells must both survive (the SemDeDup contract)."""
    from cdc_system_spark.operators.similarity import (
        nearest_centroid,
        semantic_dedup,
    )

    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),   # centroid A
        (1, [0.0, 1.0, 0.0, 0.0]),   # centroid B
        (2, [0.99, 0.14, 0.0, 0.0]), # cell A, near-dup of 0 -> dropped
        (3, [0.14, 0.99, 0.0, 0.0]), # cell B, near-dup of 1 -> dropped
        (4, [0.7, 0.7, 0.1, 0.0]),   # one cell, moderate sim -> kept
        (5, [0.0, 0.0, 1.0, 0.0]),   # orthogonal -> kept
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = semantic_dedup(emb, centroid_ids=(0, 1), threshold=0.95)
    kept = {r["vec_id"] for r in out.collect()}
    assert kept == {0, 1, 4, 5}
    # survivors carry their cell id, matching nearest_centroid
    cells = {
        r["vec_id"]: r["centroid_id"]
        for r in nearest_centroid(emb, centroid_ids=(0, 1)).collect()
    }
    for r in out.collect():
        assert r["centroid_id"] == cells[r["vec_id"]]
    # rerun is deterministic under a different layout
    again = semantic_dedup(
        emb.repartition(5), centroid_ids=(0, 1), threshold=0.95
    )
    assert {r["vec_id"] for r in again.collect()} == kept


def test_pairwise_neardup_handles_negative_ids(spark):
    """Sub-block salt must use pmod, not sign-preserving % — a negative
    id would otherwise land in sub-block -7..-1 that the replicated
    right side (0..salt-1) never matches, silently dropping its pairs."""
    from cdc_system_spark.operators.similarity import pairwise_neardup

    rows = [
        (-5, "x", [1.0, 0.0]),
        (3, "x", [0.99, 0.14]),
        (-2, "x", [0.0, 1.0]),
    ]
    emb = spark.createDataFrame(
        rows, "vec_id long, label string, embedding array<float>"
    )
    pairs = {
        (r["id1"], r["id2"])
        for r in pairwise_neardup(emb, threshold=0.9).collect()
    }
    assert pairs == {(-5, 3)}


def test_knn_graph_blocked_topk(spark):
    from cdc_system_spark.operators.similarity import knn_graph

    rows = [
        (0, 0, [1.0, 0.0]),
        (1, 0, [0.9, 0.1]),
        (2, 0, [0.0, 1.0]),
        (3, 1, [1.0, 0.0]),   # identical direction to 0 but other block
        (4, 1, [0.5, 0.5]),
    ]
    emb = spark.createDataFrame(rows, "vec_id long, label int, embedding array<float>")
    out = knn_graph(emb, k=1, block_col="label")
    best = {r["src"]: (r["dst"], r["rank"]) for r in out.collect()}
    # edges never cross blocks: 0's best is 1, not the identical 3
    assert best[0] == (1, 1)
    assert best[3] == (4, 1)
    # every vector with >= 1 block-mate has exactly k=1 edge
    assert set(best) == {0, 1, 2, 3, 4}
    with pytest.raises(ValueError, match="k must"):
        knn_graph(emb, k=0)


# -- scalar-quantized ANN ----------------------------------------------------


def test_quantize_embeddings_matches_driver_twin(emb):
    rows = (
        S.quantize_embeddings(emb)
        .select("vec_id", "embedding", "qvec")
        .limit(20)
        .collect()
    )
    assert rows
    for r in rows:
        assert r["qvec"] == S.quantize_list(list(r["embedding"]))
        assert max(abs(q) for q in r["qvec"]) <= 127


def test_quantized_topk_matches_exact_topk_on_head(emb):
    # quantized candidates + exact rescore should agree with exact
    # brute-force on the easy head of the ranking (self-match first)
    qv = list(emb.filter("vec_id = 0").head()["embedding"])
    approx = S.quantized_topk(emb, qv, k=10, rescore_factor=4).collect()
    exact = S.cosine_topk(emb, qv, k=10).collect()
    assert approx[0]["vec_id"] == 0 and approx[0]["cos_sim"] == 1.0
    approx_ids = [r["vec_id"] for r in approx]
    exact_ids = [r["vec_id"] for r in exact]
    # int8 quantization is lossy; demand high head agreement, not equality
    assert len(set(approx_ids) & set(exact_ids)) >= 8


def test_quantize_zero_vector_is_safe():
    assert S.quantize_list([0.0, 0.0]) == [0, 0]


# -- embedding-space decontamination ------------------------------------------


def test_semantic_decontaminate_drops_only_bench_neighbors(spark):
    # corpus vec 10 ~ bench vec 100 (same direction, same cell) -> dropped;
    # corpus vec 11 orthogonal to every bench vec -> kept
    corpus = spark.createDataFrame(
        [
            (1, [1.0, 0.0, 0.0, 0.0]),   # centroid seeds
            (2, [0.0, 1.0, 0.0, 0.0]),
            (3, [0.0, 0.0, 1.0, 0.0]),
            (4, [0.0, 0.0, 0.0, 1.0]),
            (10, [0.9, 0.1, 0.0, 0.0]),
            (11, [0.0, 0.0, 0.1, 0.9]),
        ],
        "vec_id long, embedding array<float>",
    )
    bench = spark.createDataFrame(
        [(100, [1.0, 0.05, 0.0, 0.0])], "vec_id long, embedding array<float>"
    )
    out = S.semantic_decontaminate(corpus, bench, threshold=0.9)
    survivors = {r["vec_id"] for r in out.collect()}
    assert 10 not in survivors and 1 not in survivors  # both ~ the bench vec
    assert {2, 3, 4, 11} <= survivors


def test_semantic_decontaminate_scores_same_cell_only(spark):
    # a tau-close bench vec in a DIFFERENT cell does not contaminate —
    # the documented blocked-ANN recall trade
    corpus = spark.createDataFrame(
        [
            (1, [1.0, 0.0]),
            (2, [0.0, 1.0]),
            (10, [0.8, 0.6]),  # assigned to cell 1 (cos .8 vs .6)
        ],
        "vec_id long, embedding array<float>",
    )
    bench = spark.createDataFrame(
        # closest centroid is 2 (cos .6 vs .8 reversed) -> other cell
        [(100, [0.6, 0.8])],
        "vec_id long, embedding array<float>",
    )
    out = S.semantic_decontaminate(
        corpus, bench, centroid_ids=(1, 2), threshold=0.9
    )
    assert 10 in {r["vec_id"] for r in out.collect()}  # cos(10,100)=.96 but cross-cell


# -- reciprocal-rank fusion ----------------------------------------------------


def test_rrf_fuse_combines_ranks(spark):
    lex = spark.createDataFrame([(1, 1), (2, 2), (3, 3)], "doc_id long, rank long")
    sem = spark.createDataFrame([(3, 1), (1, 2), (9, 3)], "doc_id long, rank long")
    out = {r["doc_id"]: r for r in S.rrf_fuse(lex, sem).collect()}
    # doc 1: 1/61 + 1/62; doc 3: 1/63 + 1/61; doc 2 lex-only; doc 9 sem-only
    assert out[1]["rrf_score"] == round(1 / 61 + 1 / 62, 6)
    assert out[9]["lex_rank"] is None and out[9]["sem_rank"] == 3
    ranks = {d: r["fused_rank"] for d, r in out.items()}
    assert ranks[1] == 1 and ranks[3] == 2          # both-list docs lead
    assert ranks[2] == 3 and ranks[9] == 4          # single-list: lex rank 2 > sem rank 3


def test_rrf_fuse_top_k_filters_on_fused_rank(spark):
    lex = spark.createDataFrame([(i, i) for i in range(1, 8)], "doc_id long, rank long")
    sem = spark.createDataFrame([(i, 9 - i) for i in range(1, 8)], "doc_id long, rank long")
    out = S.rrf_fuse(lex, sem, top_k=3).collect()
    assert sorted(r["fused_rank"] for r in out) == [1, 2, 3]
    # explicit zero is a request for zero rows, not "no limit"
    assert S.rrf_fuse(lex, sem, top_k=0).count() == 0


def test_norm_outlier_filter_drops_extremes(spark):
    rows = [(i, 0, [float(i + 1), 0.0]) for i in range(20)]  # norms 1..20
    emb = spark.createDataFrame(rows, "vec_id long, label int, embedding array<float>")
    kept = {r["vec_id"] for r in S.norm_outlier_filter(emb, lo=0.1, hi=0.9).collect()}
    assert 0 not in kept and 19 not in kept     # extreme percentiles cut
    assert {5, 10, 15} <= kept                  # middle of the band survives
    import pytest as _pytest
    with _pytest.raises(ValueError):
        S.norm_outlier_filter(emb, lo=0.9, hi=0.1)


# -- kNN label-noise screening -------------------------------------------------


def test_knn_label_noise_flags_planted_mislabel(spark):
    # two tight clusters along orthogonal axes; centroids = vectors 0
    # and 1 (one per cluster). vec 12 sits in the x-cluster but carries
    # the y-cluster's label -> its 3 neighbors all vote label 0.
    rows = (
        [(0, 0, [1.0, 0.0]), (10, 0, [0.99, 0.01]), (11, 0, [0.98, 0.02]),
         (12, 1, [0.97, 0.03])]
        + [(1, 1, [0.0, 1.0]), (20, 1, [0.01, 0.99]), (21, 1, [0.02, 0.98]),
           (22, 1, [0.03, 0.97])]
    )
    emb = spark.createDataFrame(rows, "vec_id long, label int, embedding array<float>")
    out = {r["vec_id"]: r for r in
           S.knn_label_noise(emb, k=3, centroid_ids=(0, 1)).collect()}
    assert out[12]["suspect"] and out[12]["pred_label"] == 0
    assert out[12]["agree_frac"] == 0.0
    assert not out[10]["suspect"] and out[10]["pred_label"] == 0
    # clean y-cluster members keep their label with full agreement
    assert not out[20]["suspect"] and out[20]["agree_frac"] == 1.0


def test_knn_label_noise_k_caps_votes_and_validates(spark):
    import pytest as _pytest

    rows = [(i, 0, [1.0, float(i) / 100]) for i in range(6)]
    emb = spark.createDataFrame(rows, "vec_id long, label int, embedding array<float>")
    out = S.knn_label_noise(emb, k=2, centroid_ids=(0,)).collect()
    assert len(out) == 6 and all(not r["suspect"] for r in out)
    with _pytest.raises(ValueError):
        S.knn_label_noise(emb, k=0)


# -- corpus-scaled (auto) cell blocking ---------------------------------------
def test_auto_centroid_count_scales_with_sqrt_n():
    from cdc_system_spark.operators.similarity import auto_centroid_count

    assert auto_centroid_count(0) == 4
    assert auto_centroid_count(1) == 4
    assert auto_centroid_count(16) == 4
    assert auto_centroid_count(17) == 5       # ceil(sqrt(17)) = 5
    assert auto_centroid_count(100) == 10
    assert auto_centroid_count(101) == 11
    assert auto_centroid_count(1_000_000) == 1000
    # the O(n^2/C) bound: doubling n raises C by ~sqrt(2), so per-cell
    # expected pair work n^2/C grows ~n^1.5, not n^2
    assert auto_centroid_count(4_000_000) == 2000


def test_auto_cells_assigns_every_vector_and_honors_override(spark):
    from cdc_system_spark.operators.similarity import auto_cells

    rows = [(i, [float(i % 7), 1.0, float((i * 3) % 5)]) for i in range(30)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = auto_cells(emb).collect()
    assert len(out) == 30
    # n=30 -> C = max(4, ceil(sqrt(30))) = 6 centroids = first 6 ids
    assert {r["centroid_id"] for r in out} <= set(range(6))
    two = auto_cells(emb, num_centroids=2).collect()
    assert {r["centroid_id"] for r in two} <= {0, 1}


def test_semantic_dedup_auto_default_drops_neardups(spark):
    from cdc_system_spark.operators.similarity import semantic_dedup

    rows = [(i, [float(i), 1.0]) for i in range(8)]
    rows.append((100, [0.0, 1.0]))        # duplicate direction of id 0
    rows.append((101, [7.0, 1.000001]))   # near-dup of id 7
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = {r["vec_id"] for r in semantic_dedup(emb, threshold=0.999999).collect()}
    # smaller-id survivor rule holds on the auto path
    assert 0 in out and 100 not in out
    assert 7 in out and 101 not in out
    # layout independence of the corpus-scaled path
    again = {
        r["vec_id"]
        for r in semantic_dedup(
            emb.repartition(7), threshold=0.999999
        ).collect()
    }
    assert again == out


def test_knn_graph_auto_default_blocks_on_scaled_cells(spark):
    from cdc_system_spark.operators.similarity import knn_graph

    rows = [(i, [1.0 + 0.01 * i, 0.0]) for i in range(5)] + [
        (i, [0.0, 1.0 + 0.01 * i]) for i in range(5, 10)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = knn_graph(emb, k=2).collect()
    # two orthogonal clusters; auto cells separate them, so no edge
    # crosses the cluster boundary
    for r in out:
        assert (r["src"] < 5) == (r["dst"] < 5), r
    assert {r["src"] for r in out} == set(range(10))


def test_knn_label_noise_auto_cells_flags_minority(spark):
    from cdc_system_spark.operators.similarity import knn_label_noise

    # two orthogonal clusters; centroids = first C ids, one per cluster.
    # In cluster A (ids 0,2,4,6) the lone "b" at id 4 loses the vote.
    rows = [
        (0, "a", [1.0, 0.0]),
        (1, "x", [0.0, 1.0]),
        (2, "a", [1.0, 0.01]),
        (4, "b", [1.0, 0.02]),
        (6, "a", [1.0, 0.03]),
        (7, "x", [0.0, 1.01]),
    ]
    emb = spark.createDataFrame(
        rows, "vec_id long, label string, embedding array<float>"
    )
    got = {
        r["vec_id"]: r
        for r in knn_label_noise(emb, k=3, num_centroids=2).collect()
    }
    assert got[4]["suspect"] and got[4]["pred_label"] == "a"
    assert not got[0]["suspect"] and not got[1]["suspect"]


# -- embedding covariance / PCA ----------------------------------------------
def test_embedding_covariance_matches_numpy(spark):
    import numpy as np

    from cdc_system_spark.operators.similarity import embedding_covariance

    rng = [[(i * 7 % 5) / 2.0, (i % 3) - 1.0, i / 10.0] for i in range(40)]
    emb = spark.createDataFrame(
        [(i, v) for i, v in enumerate(rng)],
        "vec_id long, embedding array<float>",
    )
    got = {(r["i"], r["j"]): r["cov"] for r in embedding_covariance(emb).collect()}
    M = np.array(rng, dtype=np.float32).astype(np.float64)
    expect = np.cov(M, rowvar=False, bias=True)  # population covariance
    for (i, j), c in got.items():
        assert abs(c - expect[i, j]) < 1e-6, (i, j)
    assert len(got) == 6  # upper triangle of 3x3
    # layout independence (decimal accumulation)
    again = {
        (r["i"], r["j"]): r["cov"]
        for r in embedding_covariance(emb.repartition(7)).collect()
    }
    assert again == got


def test_pca_components_and_projection(spark):
    import numpy as np

    import pytest as _pytest

    from cdc_system_spark.operators.similarity import (
        embedding_covariance,
        pca_components,
        pca_project,
    )

    # strongly anisotropic: variance concentrated along [1, 1]/sqrt(2)
    pts = [[t + 0.01 * (i % 3), t - 0.01 * (i % 2)] for i, t in
           enumerate(float(x) / 4 for x in range(48))]
    emb = spark.createDataFrame(
        [(i, v) for i, v in enumerate(pts)],
        "vec_id long, embedding array<float>",
    )
    cov = embedding_covariance(emb)
    comps = pca_components(cov, 2, dim=2)
    (ev1, ax1), (ev2, ax2) = comps
    assert ev1 > 10 * ev2                     # one dominant direction
    assert abs(abs(np.dot(ax1, [0.7071, 0.7071])) - 1) < 0.01
    proj = pca_project(emb, comps)
    assert proj.columns == ["vec_id", "pc0", "pc1"]
    rows = {r["vec_id"]: r for r in proj.collect()}
    # pc0 carries the spread, pc1 is ~flat
    pc0 = [rows[i]["pc0"] for i in range(48)]
    pc1 = [rows[i]["pc1"] for i in range(48)]
    assert max(pc0) - min(pc0) > 10 * (max(pc1) - min(pc1))
    with _pytest.raises(ValueError):
        pca_components(cov, 3, dim=2)
    with _pytest.raises(ValueError):
        embedding_covariance(emb, dims=())


def test_pq_encode_codes_and_errors(spark, emb):
    # codes in [0, k), one per subspace, fully deterministic; the
    # codebook source vectors encode to their own indexes (distance 0
    # in every subspace); bad geometry raises
    books = S.pq_codebooks(emb, m=4, k=8)
    assert len(books) == 4 and all(len(b) == 8 for b in books)
    codes = {r["vec_id"]: (r["code0"], r["code1"], r["code2"], r["code3"])
             for r in S.pq_encode(emb, books).collect()}
    assert len(codes) == emb.count()
    assert all(0 <= c < 8 for t in codes.values() for c in t)
    # vec_id i < 8 IS centroid i of every subspace -> encodes to itself
    for i in range(8):
        assert codes[i] == (i, i, i, i)
    with pytest.raises(ValueError, match="not divisible"):
        S.pq_codebooks(emb, m=7, k=8)
    with pytest.raises(ValueError, match="empty"):
        S.pq_codebooks(emb.filter("vec_id < 0"), m=4, k=8)


def test_pq_refined_codebooks_reduce_quantization_error(spark, emb):
    # Lloyd refinement must not increase total quantization error
    # (k-means monotonicity) — the production-path check the oracle
    # can't make (data-dependent centroids)
    rows = emb.orderBy("vec_id").limit(200).select("embedding").collect()
    data = np.asarray([[float(x) for x in r[0]] for r in rows])

    def err(books):
        total = 0.0
        for j, cents in enumerate(books):
            pts = data[:, j * 16:(j + 1) * 16]
            c = np.asarray(cents)
            d2 = ((pts[:, None, :] - c[None, :, :]) ** 2).sum(axis=2)
            total += d2.min(axis=1).sum()
        return total

    base = S.pq_codebooks(emb, m=4, k=8)
    refined = S.pq_codebooks(emb, m=4, k=8, refine_iters=5, sample_cap=200)
    assert err(refined) <= err(base) + 1e-9
    assert refined != base  # the refinement actually moved centroids


def test_pq_topk_returns_exact_match_first(spark, emb):
    # the query vector is itself in the corpus: its codes are exactly
    # the nearest-centroid indexes with LUT entries equal to its own
    # encode distances, so it is always an ADC candidate and the exact
    # rescore puts it first with cosine 1.0
    from pyspark.sql import functions as F

    books = S.pq_codebooks(emb, m=4, k=8)
    qv = [float(x) for x in
          emb.filter(F.col("vec_id") == 23).head()["embedding"]]
    top = S.pq_topk(emb, books, qv, k=5, rescore_factor=3).collect()
    assert top[0]["vec_id"] == 23 and top[0]["cos_sim"] == 1.0
    assert len(top) == 5
    # dim-mismatch guard
    with pytest.raises(ValueError, match="query dim"):
        S.pq_topk(emb, books, qv[:10])


def test_filtered_cosine_topk_matches_post_filter(spark, emb):
    # the semi-join path must equal "filter the corpus, then cosine_topk"
    qv = [float(x) for x in
          emb.filter(F.col("vec_id") == 0).head()["embedding"]]
    allowed = emb.filter(F.col("label") == 2).select("vec_id")
    got = [
        (r["vec_id"], r["cos_sim"])
        for r in S.filtered_cosine_topk(emb, allowed, qv, k=15).collect()
    ]
    want = [
        (r["vec_id"], r["cos_sim"])
        for r in S.cosine_topk(
            emb.filter(F.col("label") == 2), qv, k=15
        ).collect()
    ]
    assert got == want and len(got) == 15


def test_prefix_rescore_topk_degenerates_to_exact(spark, emb):
    # a rescore window covering the whole corpus makes the cascade
    # exact: final ranking == brute-force cosine_topk (prefix only
    # decides which rows ENTER the window, full-dim cosine ranks)
    import math

    qv = [float(x) for x in
          emb.filter(F.col("vec_id") == 0).head()["embedding"]]
    n = emb.count()
    k = 10
    got = S.prefix_rescore_topk(
        emb, qv, k=k, prefix=16, rescore_factor=math.ceil(n / k)
    )
    exact = S.cosine_topk(emb, qv, k=k)
    assert [(r["vec_id"], r["cos_sim"]) for r in got.collect()] == [
        (r["vec_id"], r["cos_sim"]) for r in exact.collect()
    ]
    # a TIGHT window is the approximation: still k rows, each row's
    # full cosine correct (subset of the exact scoring), prefix_sim
    # bounded to [-1, 1]
    tight = S.prefix_rescore_topk(emb, qv, k=k, prefix=16, rescore_factor=2)
    rows = tight.collect()
    assert len(rows) == k
    full = {r["vec_id"]: r["cos_sim"] for r in S.cosine_topk(emb, qv, k=n).collect()}
    for r in rows:
        assert r["cos_sim"] == full[r["vec_id"]]
        assert -1.0 <= r["prefix_sim"] <= 1.0


def test_prefix_rescore_topk_validations(spark, emb):
    qv = [0.1] * 64
    with pytest.raises(ValueError, match="prefix"):
        S.prefix_rescore_topk(emb, qv, prefix=0)
    with pytest.raises(ValueError, match="prefix"):
        S.prefix_rescore_topk(emb, qv, prefix=65)
    with pytest.raises(ValueError, match="rescore_factor"):
        S.prefix_rescore_topk(emb, qv, k=0)


def test_mmr_topk_diversifies_against_duplicates(spark):
    # the defining MMR behavior: a near-duplicate of an already-selected
    # result is penalized below a less-similar-but-novel candidate —
    # pure relevance would rank the duplicate second
    rows = [
        (1, [0.9, 0.43588989435406736, 0.0, 0.0]),  # a1: cos(q,.)=0.9
        (2, [0.9, 0.43588989435406736, 0.0, 0.0]),  # a2: exact dup of a1
        (3, [0.8, -0.6, 0.0, 0.0]),                 # b: cos(q,.)=0.8, far from a1
    ]
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    )
    q = [1.0, 0.0, 0.0, 0.0]
    relevance = [r["vec_id"] for r in S.cosine_topk(emb, q, k=3).collect()]
    assert relevance == [1, 2, 3]
    got = S.mmr_topk(emb, q, k=3, pool=3, lam=0.7).collect()
    assert [r["sel_rank"] for r in got] == [1, 2, 3]
    assert [r["vec_id"] for r in got] == [1, 3, 2]
    # rank 1 is pure relevance: mmr_score = lambda * cos_sim
    assert got[0]["mmr_score"] == S._round_away_py(0.7 * got[0]["cos_sim"])
    # the duplicate's final score carries the full redundancy penalty
    assert got[2]["mmr_score"] == S._round_away_py(0.7 * 0.9 - 0.3 * 1.0)


def test_mmr_topk_lambda_one_is_pure_relevance(spark, emb):
    qv = [float(x) for x in
          emb.filter(F.col("vec_id") == 0).head()["embedding"]]
    got = S.mmr_topk(emb, qv, k=5, pool=20, lam=1.0).collect()
    exact = S.cosine_topk(emb, qv, k=5).collect()
    assert [(r["vec_id"], r["cos_sim"]) for r in got] == [
        (r["vec_id"], r["cos_sim"]) for r in exact
    ]
    assert [r["sel_rank"] for r in got] == [1, 2, 3, 4, 5]


def test_mmr_topk_validations(spark, emb):
    qv = [0.1] * 64
    with pytest.raises(ValueError, match="pool"):
        S.mmr_topk(emb, qv, k=10, pool=5)
    with pytest.raises(ValueError, match="lam"):
        S.mmr_topk(emb, qv, lam=1.5)


def test_mmr_topk_preserves_id_type(spark):
    # id_col is caller-generic (string ids here): the output schema
    # must carry the input id type, not hardcode long
    rows = [
        ("a", [1.0, 0.0, 0.0, 0.0]),
        ("b", [0.9, 0.43588989435406736, 0.0, 0.0]),
        ("c", [0.8, -0.6, 0.0, 0.0]),
    ]
    emb = spark.createDataFrame(rows, "doc string, embedding array<double>")
    got = S.mmr_topk(
        emb, [1.0, 0.0, 0.0, 0.0], k=2, pool=3,
        id_col="doc", vec_col="embedding",
    )
    assert dict(got.dtypes)["doc"] == "string"
    # a is the query itself; b beats c on λ·qsim − (1−λ)·pen
    # (0.7·0.9 − 0.3·0.9 = 0.36 vs 0.7·0.8 − 0.3·0.8 = 0.32)
    assert [r["doc"] for r in got.collect()] == ["a", "b"]


def test_filtered_cosine_topk_handles_awkward_allowed_column(spark, emb):
    # r11 advisor: the allowed frame's id column often comes from a
    # metadata table with a name needing backticks (spaces, hyphens,
    # dots); the rename must go through the Column API, not an
    # interpolated selectExpr string
    qv = [float(x) for x in
          emb.filter(F.col("vec_id") == 0).head()["embedding"]]
    allowed = emb.filter(F.col("label") == 2).select(
        F.col("vec_id").alias("doc id.v1")
    )
    got = [
        (r["vec_id"], r["cos_sim"])
        for r in S.filtered_cosine_topk(emb, allowed, qv, k=15).collect()
    ]
    want = [
        (r["vec_id"], r["cos_sim"])
        for r in S.cosine_topk(
            emb.filter(F.col("label") == 2), qv, k=15
        ).collect()
    ]
    assert got == want and len(got) == 15


# -- r12 optimization: SQL-text expression builds == Column-API builds --------
# The literal-centroid / PQ-LUT expression family is now rendered as SQL
# text and parsed once (py4j per-node construction cost measured in
# SECONDS per query at C=16, d=64). These tests pin the parsed trees to
# the original Column-API builds value-for-value, so a parser/semantics
# drift (e.g. a bare decimal literal parsing as DECIMAL instead of
# DOUBLE) can never silently change an oracle-checked result.


def test_sql_expr_parity_lit_vec(spark):
    from cdc_system_spark.functions.portable import lit_vec

    vals = [1e-07, -3.0000000000000004e-05, 0.1 + 0.2, -1.5, 123456.789]
    r = spark.range(1).select(
        lit_vec(vals).alias("a"),
        F.array(*[F.lit(float(x)) for x in vals]).alias("b"),
    ).head()
    assert list(r["a"]) == list(r["b"])


def test_sql_expr_parity_nearest_centroid(emb):
    # reference: the original Column-API argmax build, inlined
    cents = S._collect_centroids(emb, tuple(range(8)), "vec_id", "embedding")
    entries = []
    for cid, cv in cents:
        c_arr = F.array(*[F.lit(x) for x in cv])
        entries.append(
            F.struct(
                S.cosine(F.col("embedding"), c_arr).alias("cos_sim"),
                F.lit(-cid).alias("neg_cid"),
            )
        )
    ref = F.array_max(F.array(*entries))
    new = S._nearest_centroid_expr(cents, "embedding")
    rows = emb.select(ref.alias("a"), new.alias("b")).collect()
    assert all(r["a"] == r["b"] for r in rows)


def test_sql_expr_parity_pq_codes(emb):
    books = S.pq_codebooks(emb, m=4, k=8)
    sub = len(books[0][0])
    # reference: the original Column-API sort_array build, inlined
    ref_cols = []
    for j in range(4):
        ranked = F.sort_array(
            F.array(
                *[
                    F.struct(
                        S._pq_dist("embedding", j, sub, books[j][c]).alias("d"),
                        F.lit(c).alias("c"),
                    )
                    for c in range(8)
                ]
            )
        )
        ref_cols.append(ranked[0]["c"].alias(f"ref{j}"))
    new_cols = S.pq_code_columns(books, "embedding")
    rows = emb.select("vec_id", *ref_cols, *new_cols).collect()
    for r in rows:
        for j in range(4):
            assert r[f"ref{j}"] == r[f"code{j}"], (r["vec_id"], j)


def test_minhash_sql_parity(spark, sf_dir):
    """minhash_signatures + _band_table now parse SQL text (see the
    _dot_sqls rationale); pin them to the original Column-API builds
    value-for-value — integer md5/mod arithmetic, so any drift is a
    semantics bug, not rounding."""
    from cdc_system_spark.functions.portable import md5_i64, shingles
    from cdc_system_spark.operators import dedup as D
    from cdc_system_spark.sources.catalog import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    p, k = 16, 7
    sh = shingles(F.col("text"), k=k)
    hs = F.transform(sh, lambda s: md5_i64(s) % D.MINHASH_P)
    zero = F.struct(
        *[F.lit(D.MINHASH_P).cast("long").alias(f"h{i}") for i in range(p)]
    )

    def merge(acc, h):
        return F.struct(
            *[
                F.least(
                    acc[f"h{i}"],
                    (h * D.MINHASH_A[i] + D.MINHASH_B[i]) % D.MINHASH_P,
                ).alias(f"h{i}")
                for i in range(p)
            ]
        )

    ref = docs.select(
        "doc_id",
        F.aggregate(hs, zero, merge).alias("_sig"),
        F.size(F.array_distinct(sh)).cast("long").alias("n_sh"),
    ).select(
        "doc_id",
        *[F.col(f"_sig.h{i}").alias(f"h{i}") for i in range(p)],
        "n_sh",
    )
    new = D.minhash_signatures(docs, k=k, num_perms=p, with_count=True)
    a = sorted(map(tuple, ref.collect()))
    b = sorted(map(tuple, new.collect()))
    assert a == b

    # band table: packed int64 keys identical for 4-row and 1-row bands
    for rpb in (4, 1):
        sigs = new.select("doc_id", *[f"h{i}" for i in range(p)])
        bt = D._band_table(sigs, "doc_id", p, rpb)
        pack = F.lit(2**31).cast("long")
        n_bands = p // rpb

        def band_keys_ref(b_):
            cols = [F.col(f"h{b_ * rpb + r}") for r in range(rpb)]
            keys = []
            for j in range(0, rpb, 2):
                kk = (
                    cols[j] * pack + cols[j + 1]
                    if j + 1 < rpb
                    else cols[j]
                )
                keys.append(kk.alias(f"k{j // 2}"))
            return keys

        bands_ref = F.array(
            *[
                F.struct(F.lit(b_).alias("band_idx"), *band_keys_ref(b_))
                for b_ in range(n_bands)
            ]
        )
        key_cols = D._band_key_cols(rpb)
        ref_bt = sigs.select("doc_id", F.explode(bands_ref).alias("b")).select(
            "doc_id", *[f"b.{c}" for c in key_cols]
        )
        assert sorted(map(tuple, bt.collect())) == sorted(
            map(tuple, ref_bt.collect())
        )


def test_auto_cells_extra_cols_passthrough(emb):
    # r13: knn_label_noise's auto path carries the label THROUGH the
    # vectorized assignment pass instead of joining the assignment back
    # to the corpus by id — rows must equal the join form exactly
    from cdc_system_spark.operators.similarity import auto_cells

    with_label = {
        (r["vec_id"], r["label"], r["centroid_id"])
        for r in auto_cells(
            emb, extra_cols=("label",)
        ).select("vec_id", "label", "centroid_id").collect()
    }
    joined = {
        (r["vec_id"], r["label"], r["centroid_id"])
        for r in auto_cells(emb)
        .select("vec_id", "centroid_id")
        .join(emb.select("vec_id", "label"), "vec_id")
        .collect()
    }
    assert with_label == joined


def test_pq_codebooks_warns_when_refinement_gets_fewer_than_sample_cap_vectors(spark):
    # k <= len(train_vecs) < sample_cap with refine_iters > 0: right for a
    # table smaller than sample_cap, so a warning, not an error
    vecs = [[float(i), float(i % 3), float(-i), 1.0] for i in range(6)]
    emb = spark.createDataFrame([], "vec_id long, embedding array<double>")
    with pytest.warns(UserWarning, match="refine_iters=2 trains on up to sample_cap=16"):
        books = S.pq_codebooks(emb, m=2, k=2, refine_iters=2, sample_cap=16, train_vecs=vecs)
    assert len(books) == 2 and all(len(b) == 2 for b in books)
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        S.pq_codebooks(emb, m=2, k=2, train_vecs=vecs[:2])
        S.pq_codebooks(emb, m=2, k=2, refine_iters=2, sample_cap=6, train_vecs=vecs)
