"""Similarity search: brute-force exactness + LSH recall floor."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from etl_based_real_time_air_quality_monitoring_system_spark.operators.similarity import (
    brute_force_topk,
    knn_join,
    lsh_topk,
)
from etl_based_real_time_air_quality_monitoring_system_spark.sources.readers import load_table


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return load_table(spark, sf_dir, "embeddings").cache()


@pytest.fixture(scope="module")
def query_vec(emb):
    row = emb.filter(F.col("vec_id") == 0).head()
    return [float(x) for x in row["embedding"]]


def _numpy_topk(emb, query_vec, k):
    rows = emb.select("vec_id", "embedding").collect()
    q = np.asarray(query_vec)
    scores = {
        r["vec_id"]: float(
            np.dot(r["embedding"], q)
            / (np.linalg.norm(r["embedding"]) * np.linalg.norm(q))
        )
        for r in rows
    }
    return sorted(scores, key=lambda i: (-scores[i], i))[:k]


def test_brute_force_matches_numpy(emb, query_vec):
    got = [r["vec_id"] for r in brute_force_topk(emb, "vec_id", "embedding", query_vec, k=10).collect()]
    assert got == _numpy_topk(emb, query_vec, 10)


def test_brute_force_self_is_top1(emb, query_vec):
    top = brute_force_topk(emb, "vec_id", "embedding", query_vec, k=1).collect()[0]
    assert top["vec_id"] == 0 and top["cosine_sim"] == 1.0


def test_knn_join_per_query(emb):
    qs = emb.filter(F.col("vec_id") < 3)
    out = knn_join(emb, qs, "vec_id", "embedding", "vec_id", "embedding", k=5)
    rows = out.collect()
    by_q = {}
    for r in rows:
        by_q.setdefault(r["query_id"], []).append(r)
    assert set(by_q) == {0, 1, 2}
    for qid, neighbors in by_q.items():
        assert len(neighbors) == 5
        # self-match is rank 1 with cosine 1.0
        best = max(neighbors, key=lambda r: r["cosine_sim"])
        assert best["corpus_id"] == qid and best["cosine_sim"] == 1.0


def test_lsh_topk_recall(emb, query_vec):
    exact = set(_numpy_topk(emb, query_vec, 10))
    approx = {
        r["vec_id"]
        for r in lsh_topk(
            emb, "vec_id", "embedding", query_vec, k=10, max_hamming=6
        ).collect()
    }
    recall = len(exact & approx) / 10
    # these embeddings are near-uniform (weak cluster structure), the
    # adversarial case for sign-LSH: measured recall at hamming<=6 of
    # 12 planes is 0.7 — assert the floor just below it so regressions
    # in the signature/bucketing logic surface
    assert recall >= 0.6, f"LSH recall {recall} below floor"
    assert 0 in approx  # the query vector itself always survives


# ---------------------------------------------- near-dup pairs + IVF

def _numpy_pairs(emb, threshold):
    rows = emb.select("vec_id", "embedding").collect()
    ids = [r["vec_id"] for r in rows]
    m = np.array([list(r["embedding"]) for r in rows], dtype=float)
    m = m / np.linalg.norm(m, axis=1, keepdims=True)
    sims = m @ m.T
    out = set()
    for i in range(len(ids)):
        for j in range(i + 1, len(ids)):
            if round(sims[i, j], 6) >= threshold:
                out.add((min(ids[i], ids[j]), max(ids[i], ids[j])))
    return out


def test_cosine_near_dup_exact_vs_numpy(emb):
    from etl_based_real_time_air_quality_monitoring_system_spark.operators.similarity import cosine_near_dup_pairs

    got = {
        (r["id_a"], r["id_b"])
        for r in cosine_near_dup_pairs(emb, "vec_id", "embedding", 0.3).collect()
    }
    assert got == _numpy_pairs(emb, 0.3)


def test_nn_label_confusion_vs_numpy(emb):
    from etl_based_real_time_air_quality_monitoring_system_spark.operators.similarity import (
        nn_label_confusion,
    )

    rows = emb.select("vec_id", "embedding", "label").collect()
    ids = [r["vec_id"] for r in rows]
    labels = {r["vec_id"]: r["label"] for r in rows}
    m = np.stack([np.asarray(r["embedding"], dtype=np.float64) for r in rows])
    m /= np.linalg.norm(m, axis=1, keepdims=True)
    sims = np.round(m @ m.T, 6)
    expected: dict[tuple[int, int], int] = {}
    for i, qid in enumerate(ids):
        best = min(
            ((-sims[i, j], ids[j]) for j in range(len(ids)) if ids[j] != qid)
        )[1]
        key = (labels[qid], labels[best])
        expected[key] = expected.get(key, 0) + 1
    got = {
        (r["label"], r["nn_label"]): r["pair_count"]
        for r in nn_label_confusion(emb, "vec_id", "embedding", "label").collect()
    }
    assert got == expected
    assert sum(got.values()) == len(ids)  # every vector has exactly one NN
    # the distributed window fallback must agree with the GEMM path
    windowed = {
        (r["label"], r["nn_label"]): r["pair_count"]
        for r in nn_label_confusion(
            emb, "vec_id", "embedding", "label", gemm=False
        ).collect()
    }
    assert windowed == expected


def test_cosine_near_dup_lsh_subset_and_recall(emb):
    from etl_based_real_time_air_quality_monitoring_system_spark.operators.similarity import (
        cosine_near_dup_lsh,
        cosine_near_dup_pairs,
    )

    exact = {
        (r["id_a"], r["id_b"])
        for r in cosine_near_dup_pairs(emb, "vec_id", "embedding", 0.3).collect()
    }
    approx = {
        (r["id_a"], r["id_b"])
        for r in cosine_near_dup_lsh(
            emb, "vec_id", "embedding", 0.3, n_planes=16, bands=8
        ).collect()
    }
    assert approx <= exact  # candidates are exact-verified: no false positives
    recall = len(approx & exact) / max(len(exact), 1)
    # threshold 0.3 pairs are WEAKLY similar — the adversarial case for
    # sign-LSH; measured recall at 16 planes / 8 bands is 0.982
    assert recall >= 0.9, f"LSH near-dup recall {recall} below floor"


def test_ivf_topk_recall_and_exhaustive_probe(emb, query_vec):
    from etl_based_real_time_air_quality_monitoring_system_spark.operators.similarity import ivf_topk

    exact = _numpy_topk(emb, query_vec, 10)
    # probing half the centroids: measured recall 1.0, floor 0.8
    approx = [
        r["vec_id"]
        for r in ivf_topk(
            emb, "vec_id", "embedding", query_vec, k=10, n_centroids=8, n_probe=4
        ).collect()
    ]
    assert len(set(exact) & set(approx)) / 10 >= 0.8
    # probing ALL centroids degenerates to the exact answer
    full = [
        r["vec_id"]
        for r in ivf_topk(
            emb, "vec_id", "embedding", query_vec, k=10, n_centroids=8, n_probe=8
        ).collect()
    ]
    assert full == exact


def test_cosine_near_dup_gemm_matches_fold(emb):
    from etl_based_real_time_air_quality_monitoring_system_spark.operators.similarity import (
        cosine_near_dup_gemm,
        cosine_near_dup_pairs,
    )

    th = 0.3
    fold = {
        (r["id_a"], r["id_b"]): r["cosine_sim"]
        for r in cosine_near_dup_pairs(emb, "vec_id", "embedding", th).collect()
    }
    gemm = {
        (r["id_a"], r["id_b"]): r["cosine_sim"]
        for r in cosine_near_dup_gemm(emb, "vec_id", "embedding", th).collect()
    }
    # membership may legitimately differ only for pairs sitting within
    # float-summation noise of the threshold (fold vs BLAS order)
    for diff in set(fold) ^ set(gemm):
        sim = fold.get(diff, gemm.get(diff))
        assert abs(sim - th) < 5e-6, f"{diff} sim={sim} differs beyond boundary noise"
    for k in set(fold) & set(gemm):
        assert abs(fold[k] - gemm[k]) <= 1e-6


def test_ivf_kmeans_refined_centroids(spark, sf_dir):
    import numpy as np

    from etl_based_real_time_air_quality_monitoring_system_spark.operators.similarity import (
        brute_force_topk,
        ivf_centroids,
        ivf_centroids_kmeans,
        ivf_topk,
    )
    from etl_based_real_time_air_quality_monitoring_system_spark.sources.readers import load_table
    from pyspark.sql import functions as F

    emb = load_table(spark, sf_dir, "embeddings")
    row = emb.filter(F.col("vec_id") == 0).head()
    q = [float(x) for x in row["embedding"]]

    refined = ivf_centroids_kmeans(emb, "vec_id", "embedding", n_centroids=4, iters=2)
    naive = ivf_centroids(emb, "vec_id", "embedding", n_centroids=4)
    assert refined.shape == naive.shape
    assert not np.allclose(refined, naive)  # Lloyd steps moved them
    # determinism: same input -> identical centroids
    again = ivf_centroids_kmeans(emb, "vec_id", "embedding", n_centroids=4, iters=2)
    assert np.allclose(refined, again)

    # correctness invariant: exhaustive probe == brute force regardless
    # of centroid placement
    exact = [r["vec_id"] for r in brute_force_topk(emb, "vec_id", "embedding", q, k=5).collect()]
    ivf = [
        r["vec_id"]
        for r in ivf_topk(
            emb, "vec_id", "embedding", q, k=5,
            n_centroids=4, n_probe=4, centroids=refined,
        ).collect()
    ]
    assert ivf == exact


def test_cosine_near_dup_gemm_guard_strict_raises(emb):
    from etl_based_real_time_air_quality_monitoring_system_spark.operators.similarity import (
        cosine_near_dup_gemm,
    )

    with pytest.raises(ValueError, match="cosine_near_dup_lsh"):
        cosine_near_dup_gemm(emb, "vec_id", "embedding", 0.3, max_rows=10, strict=True)


def test_cosine_near_dup_gemm_auto_falls_back_to_lsh(emb):
    # over the driver-collect bound the default is a PLAN SWITCH to the
    # banded LSH path, not an abort — at 100 TB an oversized corpus
    # must degrade to the scale path, never kill the pipeline
    from etl_based_real_time_air_quality_monitoring_system_spark.operators.similarity import (
        cosine_near_dup_gemm,
        cosine_near_dup_lsh,
    )

    fallback = cosine_near_dup_gemm(emb, "vec_id", "embedding", 0.3, max_rows=10)
    expected = cosine_near_dup_lsh(emb, "vec_id", "embedding", 0.3)
    got = sorted(map(tuple, fallback.collect()))
    want = sorted(map(tuple, expected.collect()))
    assert got == want


def test_cosine_near_dup_gemm_degenerate_corpus_is_empty_frame(spark):
    # a public operator must never return None: an empty or singleton
    # corpus has exactly one correct answer — zero pairs with the
    # contract schema
    from etl_based_real_time_air_quality_monitoring_system_spark.operators.similarity import (
        cosine_near_dup_gemm,
    )

    schema = "vec_id long, embedding array<double>"
    empty = spark.createDataFrame([], schema)
    single = spark.createDataFrame([(7, [1.0, 0.0, 0.0])], schema)
    for corpus in (empty, single):
        out = cosine_near_dup_gemm(corpus, "vec_id", "embedding", 0.5)
        assert out is not None
        assert [f.name for f in out.schema.fields] == ["id_a", "id_b", "cosine_sim"]
        assert out.count() == 0


def test_cosine_near_dup_lsh_empty_input_is_empty_frame(spark):
    # the hyperplane dimension comes from the first row; an empty input
    # has none and must still yield zero pairs with the contract schema
    from etl_based_real_time_air_quality_monitoring_system_spark.operators.similarity import (
        cosine_near_dup_lsh,
    )

    empty = spark.createDataFrame([], "vec_id long, embedding array<double>")
    out = cosine_near_dup_lsh(empty, "vec_id", "embedding", 0.5)
    assert [(f.name, f.dataType.simpleString()) for f in out.schema.fields] == [
        ("id_a", "bigint"), ("id_b", "bigint"), ("cosine_sim", "double"),
    ]
    assert out.count() == 0


def test_gram_matrix_micros_matches_numpy(emb):
    import numpy as np

    from etl_based_real_time_air_quality_monitoring_system_spark.operators.similarity import (
        gram_matrix_micros,
    )

    rows = emb.select("vec_id", "embedding").collect()
    m = np.stack([np.array(r["embedding"], dtype=np.float64) for r in rows])
    q = np.floor(m * 1e6 + 0.5).astype(np.int64)
    want = q.T @ q
    got = {(r["i"], r["j"]): r["gram_sum_q2"] for r in gram_matrix_micros(emb).collect()}
    d = m.shape[1]
    assert len(got) == d * (d + 1) // 2
    for (i, j), v in got.items():
        assert v == want[i, j], (i, j)
    # partition-invariant: integer combine is associative
    got2 = {
        (r["i"], r["j"]): r["gram_sum_q2"]
        for r in gram_matrix_micros(emb.repartition(7)).collect()
    }
    assert got2 == got


def test_pca_components_and_projection(emb):
    import numpy as np

    from etl_based_real_time_air_quality_monitoring_system_spark.operators.similarity import (
        pca_components,
        pca_project,
    )

    mean, vals, comps = pca_components(emb, k=4)
    # eigenvalues descending and non-negative; components orthonormal
    assert all(vals[i] >= vals[i + 1] >= 0 for i in range(len(vals) - 1))
    assert np.allclose(comps @ comps.T, np.eye(4), atol=1e-8)
    # deterministic under repartitioning (exact integer passes + fixed
    # sign convention)
    mean2, vals2, comps2 = pca_components(emb.repartition(5), k=4)
    assert np.array_equal(mean, mean2) and np.array_equal(comps, comps2)
    # projection matches numpy within the output rounding
    rows = emb.select("vec_id", "embedding").collect()
    m = np.stack([np.array(r["embedding"], dtype=np.float64) for r in rows])
    ids = [r["vec_id"] for r in rows]
    want = (m - mean) @ comps.T
    got = {
        r["vec_id"]: np.array(r["pca"])
        for r in pca_project(emb, "vec_id", k=4, mean=mean, components=comps).collect()
    }
    for vid, w in zip(ids, want):
        assert np.allclose(got[vid], w, atol=1e-5)
    # the leading axis actually dominates: projected variance ordering
    pv = np.var(want, axis=0)
    assert all(pv[i] >= pv[i + 1] - 1e-9 for i in range(len(pv) - 1))


def test_pca_project_with_basis_components_is_identity(emb):
    """With zero mean and unit-basis components the projection must
    reproduce the raw coordinates (rounded half-up to scale_out) —
    pins the pure-JVM centered-dot expression path independently of
    the eigensolve."""
    import numpy as np

    from etl_based_real_time_air_quality_monitoring_system_spark.operators.similarity import pca_project

    d = len(emb.select("embedding").head()[0])
    mean = np.zeros(d)
    comps = np.eye(d)[:3]
    rows = emb.select("vec_id", "embedding").collect()
    got = {
        r["vec_id"]: list(r["pca"])
        for r in pca_project(
            emb, "vec_id", k=3, mean=mean, components=comps
        ).collect()
    }
    for r in rows:
        want = [np.floor(float(x) * 1e6 + 0.5) / 1e6 for x in r["embedding"][:3]]
        assert got[r["vec_id"]] == want


def test_retrieval_ndcg_hand_computed(spark):
    """NDCG@k on a 4-vector corpus whose ranking is known by
    construction: all quantities integer-exact against the published
    1/log2(p+1) discount."""
    from etl_based_real_time_air_quality_monitoring_system_spark.operators.similarity import (
        ndcg_position_weights_micros,
        retrieval_ndcg,
    )

    rows = [
        (0, [1.0, 0.0], 1),   # query
        (1, [1.0, 0.1], 1),   # nearest, relevant
        (2, [1.0, 1.0], 2),   # middle, irrelevant
        (3, [0.0, 1.0], 1),   # farthest, relevant
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>, label int")
    out = retrieval_ndcg(
        df, df.filter(F.col("vec_id") == 0), "vec_id", "embedding", "label", k=3
    ).collect()
    assert len(out) == 1
    r = out[0]
    w = ndcg_position_weights_micros(3)  # [1000000, 630930, 500000]
    dcg = w[0] + w[2]          # relevant at positions 1 and 3
    idcg = w[0] + w[1]         # two same-label corpus rows -> R=2
    assert r["n_relevant_at_k"] == 2
    assert r["dcg_micros"] == dcg
    assert r["idcg_micros"] == idcg
    assert r["ndcg_micros"] == (dcg * 1000000) // idcg


def test_retrieval_ndcg_no_same_label_is_zero(spark):
    from etl_based_real_time_air_quality_monitoring_system_spark.operators.similarity import retrieval_ndcg

    rows = [
        (0, [1.0, 0.0], 7),  # unique label: IDCG 0 -> NDCG 0
        (1, [0.9, 0.1], 1),
        (2, [0.8, 0.2], 1),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>, label int")
    r = retrieval_ndcg(
        df, df.filter(F.col("vec_id") == 0), "vec_id", "embedding", "label", k=2
    ).collect()[0]
    assert r["n_relevant_at_k"] == 0 and r["dcg_micros"] == 0
    assert r["idcg_micros"] == 0 and r["ndcg_micros"] == 0


def test_retrieval_ndcg_external_query_set(spark):
    """queries_in_corpus=False: no id-based self-exclusion (a corpus
    row sharing a query id is still retrievable), IDCG counts the FULL
    label frequency, and a query label absent from the corpus yields
    an ndcg_micros=0 row instead of being dropped."""
    from etl_based_real_time_air_quality_monitoring_system_spark.operators.similarity import (
        ndcg_position_weights_micros,
        retrieval_ndcg,
    )

    corpus = spark.createDataFrame(
        [
            (0, [1.0, 0.0], 1),   # id collides with query id 0 — must
            (1, [1.0, 0.1], 1),   # still be retrieved
            (2, [0.0, 1.0], 2),
        ],
        "vec_id long, embedding array<double>, label int",
    )
    queries = spark.createDataFrame(
        [
            (0, [1.0, 0.0], 1),   # same id as a corpus row
            (9, [0.5, 0.5], 7),   # label absent from corpus
        ],
        "vec_id long, embedding array<double>, label int",
    )
    out = {
        int(r["query_id"]): r
        for r in retrieval_ndcg(
            corpus, queries, "vec_id", "embedding", "label",
            k=2, queries_in_corpus=False,
        ).collect()
    }
    assert set(out) == {0, 9}, "absent-label query must not be dropped"
    w = ndcg_position_weights_micros(2)
    # query 0: top-2 = corpus 0 (sim 1.0, SAME id — retrieved) then 1,
    # both label 1 -> DCG = w1 + w2; IDCG = full count (2, NOT 2-1)
    assert out[0]["n_relevant_at_k"] == 2
    assert out[0]["dcg_micros"] == w[0] + w[1]
    assert out[0]["idcg_micros"] == w[0] + w[1]
    assert out[0]["ndcg_micros"] == 1_000_000
    # query 9: label 7 nowhere in corpus -> all zeros
    assert out[9]["idcg_micros"] == 0 and out[9]["ndcg_micros"] == 0


def test_semantic_dedup_drops_within_cluster_near_dups(spark):
    from etl_based_real_time_air_quality_monitoring_system_spark.operators.similarity import semantic_dedup

    rows = [
        (1, [1.0, 0.0]),     # centroid 0
        (2, [0.0, 1.0]),     # centroid 1
        (3, [1.0, 0.01]),    # cluster 0, ~parallel to 1 -> drop
        (4, [0.01, 1.0]),    # cluster 1, ~parallel to 2 -> drop
        (5, [0.7, 0.714]),   # cluster 1 (barely), ~0.71 to both -> keep
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    out = {
        r["vec_id"]: r
        for r in semantic_dedup(
            df, "vec_id", "embedding", n_clusters=2, threshold=0.9
        ).collect()
    }
    assert len(out) == 5
    assert {i: out[i]["keep"] for i in (1, 2, 3, 4, 5)} == {
        1: 1, 2: 1, 3: 0, 4: 0, 5: 1
    }
    assert out[3]["cluster_id"] == 0 and out[4]["cluster_id"] == 1
    assert out[5]["cluster_id"] == 1


def test_semantic_dedup_two_level_matches_flat_on_singleton_groups(spark):
    """With n_clusters=2 the two-level split has one centroid per
    group, so the coarse stage IS the flat argmax — outputs must be
    identical row-for-row.  (At larger k the two paths legitimately
    split clusters differently; this pins the shared tie/score rules.)
    """
    from etl_based_real_time_air_quality_monitoring_system_spark.operators.similarity import semantic_dedup

    rows = [
        (1, [1.0, 0.0]),
        (2, [0.0, 1.0]),
        (3, [1.0, 0.01]),
        (4, [0.01, 1.0]),
        (5, [0.7, 0.714]),
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    flat = sorted(
        (r["vec_id"], r["cluster_id"], r["keep"])
        for r in semantic_dedup(
            df, "vec_id", "embedding", n_clusters=2, threshold=0.9,
            two_level=False,
        ).collect()
    )
    two = sorted(
        (r["vec_id"], r["cluster_id"], r["keep"])
        for r in semantic_dedup(
            df, "vec_id", "embedding", n_clusters=2, threshold=0.9,
            two_level=True,
        ).collect()
    )
    assert flat == two
    assert [k for _, _, k in flat] == [1, 1, 0, 0, 1]


# ---------------------------------------------------------------- PQ


@pytest.fixture(scope="module")
def memb(emb):
    # integer-micros quantization (micros_vec, the repo's single
    # floor-half-up recipe): makes every squared-L2 an exact integer
    # so the numpy mirrors below are bit-identical
    from etl_based_real_time_air_quality_monitoring_system_spark.operators.similarity import (
        micros_vec,
    )

    return emb.select(
        "vec_id", micros_vec("embedding").alias("embedding")
    ).cache()


def _np_vectors(memb):
    rows = memb.select("vec_id", "embedding").orderBy("vec_id").collect()
    ids = [int(r["vec_id"]) for r in rows]
    mat = np.array([list(r["embedding"]) for r in rows], dtype=np.int64)
    return ids, mat


def _np_codes(mat, cb):
    m, n_codes, sub = cb.shape
    codes = np.empty((mat.shape[0], m), dtype=int)
    for j in range(m):
        s = mat[:, j * sub : (j + 1) * sub].astype(np.int64)
        d = ((s[:, None, :] - cb[j][None].astype(np.int64)) ** 2).sum(axis=2)
        codes[:, j] = d.argmin(axis=1)  # argmin takes FIRST min = lowest code
    return codes


def test_pq_codebooks_shape_and_source(memb):
    from etl_based_real_time_air_quality_monitoring_system_spark.operators.similarity import (
        pq_codebooks,
    )

    cb = pq_codebooks(memb, "vec_id", "embedding", n_subspaces=8, n_codes=16)
    assert cb.shape == (8, 16, 8)
    ids, mat = _np_vectors(memb)
    # codebook (j, c) IS the j-th subvector of the c-th first vector
    first16 = mat[np.argsort(ids)[:16]]
    np.testing.assert_array_equal(
        cb.reshape(8, 16, 8).transpose(1, 0, 2).reshape(16, 64), first16
    )


def test_pq_encode_matches_numpy(memb):
    from etl_based_real_time_air_quality_monitoring_system_spark.operators.similarity import (
        pq_codebooks,
        pq_encode,
    )

    cb = pq_codebooks(memb, "vec_id", "embedding", n_subspaces=8, n_codes=16)
    got = {
        int(r["vec_id"]): list(r["codes"])
        for r in pq_encode(memb, "vec_id", "embedding", cb).collect()
    }
    ids, mat = _np_vectors(memb)
    want = _np_codes(mat, cb)
    assert len(got) == len(ids)
    for i, vid in enumerate(ids):
        assert got[vid] == list(want[i]), f"codes differ for vec {vid}"


def test_pq_encode_reserved_column_raises(memb):
    from etl_based_real_time_air_quality_monitoring_system_spark.operators.similarity import (
        pq_codebooks,
        pq_encode,
    )

    cb = pq_codebooks(memb, "vec_id", "embedding", n_subspaces=8, n_codes=16)
    bad = memb.withColumn("_pqe", F.lit(1))
    with pytest.raises(ValueError, match="_pqe"):
        pq_encode(bad, "vec_id", "embedding", cb)


def test_pq_adc_topk_matches_numpy(memb):
    from etl_based_real_time_air_quality_monitoring_system_spark.operators.similarity import (
        pq_adc_lut,
        pq_adc_topk,
        pq_codebooks,
    )

    cb = pq_codebooks(memb, "vec_id", "embedding", n_subspaces=8, n_codes=16)
    ids, mat = _np_vectors(memb)
    qv = mat[0]
    lut = pq_adc_lut(qv, cb)
    codes = _np_codes(mat, cb)
    dists = lut[np.arange(8)[None, :], codes].sum(axis=1)
    order = sorted(range(len(ids)), key=lambda i: (dists[i], ids[i]))[:10]
    want = [(ids[i], int(dists[i])) for i in order]
    got = [
        (int(r["vec_id"]), int(r["adc_dist"]))
        for r in pq_adc_topk(
            memb, "vec_id", "embedding", [float(x) for x in qv], cb, k=10
        ).collect()
    ]
    assert got == want


def test_pq_adc_knn_matches_per_query_operator(memb):
    from etl_based_real_time_air_quality_monitoring_system_spark.operators.similarity import (
        pq_adc_knn,
        pq_adc_topk,
        pq_codebooks,
    )

    cb = pq_codebooks(memb, "vec_id", "embedding", n_subspaces=8, n_codes=16)
    ids, mat = _np_vectors(memb)
    queries = [(ids[i], [float(x) for x in mat[i]]) for i in range(3)]
    batched = pq_adc_knn(memb, "vec_id", "embedding", queries, cb, k=5)
    by_q = {}
    for r in batched.collect():
        by_q.setdefault(int(r["qid"]), []).append(
            (int(r["vec_id"]), int(r["adc_dist"]))
        )
    for qid, qv in queries:
        solo = [
            (int(r["vec_id"]), int(r["adc_dist"]))
            for r in pq_adc_topk(memb, "vec_id", "embedding", qv, cb, k=5).collect()
        ]
        assert sorted(by_q[qid]) == sorted(solo)
        assert len(by_q[qid]) == 5


def test_ivfpq_adc_knn_matches_numpy(memb):
    from etl_based_real_time_air_quality_monitoring_system_spark.operators.similarity import (
        ivfpq_adc_knn,
        ivfpq_codebooks,
        pq_adc_lut,
    )

    coarse, cb = ivfpq_codebooks(
        memb, "vec_id", "embedding", n_coarse=8, n_subspaces=8, n_codes=16
    )
    ids, mat = _np_vectors(memb)
    cc = coarse.astype(np.int64)
    # numpy mirror of the full pipeline
    d2all = ((mat[:, None, :] - cc[None]) ** 2).sum(axis=2)
    cid = d2all.argmin(axis=1)  # first min = lowest cid
    resid = mat - cc[cid]
    codes = _np_codes(resid, cb)
    queries = [(ids[i], [float(x) for x in mat[i]]) for i in range(3)]
    got_all = ivfpq_adc_knn(
        memb, "vec_id", "embedding", queries, coarse, cb, k=10, n_probe=4
    ).collect()
    by_q = {}
    for r in got_all:
        by_q.setdefault(int(r["qid"]), []).append(
            (int(r["vec_id"]), int(r["adc_dist"]))
        )
    for qi, (qid, _) in enumerate(queries):
        q = mat[qi]
        d2c = ((cc - q[None, :]) ** 2).sum(axis=1)
        probes = sorted(range(len(cc)), key=lambda c: (d2c[c], c))[:4]
        luts = {c: pq_adc_lut(q - cc[c], cb) for c in probes}
        cand = [
            (
                int(luts[cid[i]][np.arange(8), codes[i]].sum()),
                ids[i],
            )
            for i in range(len(ids))
            if cid[i] in probes
        ]
        want = [(vid, d) for d, vid in sorted(cand)[:10]]
        assert by_q[qid] == want, f"query {qid} mismatch"


def test_nn_confusion_over_candidates_hand_built(spark):
    """The ANN-candidate confusion tail on hand-built lists: self rows
    excluded, best remaining candidate by (dist, id) wins, descending
    mode flips the order for similarity-scored candidates."""
    from etl_based_real_time_air_quality_monitoring_system_spark.operators.similarity import (
        nn_confusion_over_candidates,
    )

    labels = spark.createDataFrame(
        [(0, "a"), (1, "a"), (2, "b"), (3, "b")], "vec_id long, label string"
    )
    cand = spark.createDataFrame(
        [
            (0, 0, 0),    # self — must be excluded
            (0, 2, 5),    # best non-self for q0 -> (a, b)
            (0, 1, 5),    # tie on dist -> lower id 1 wins -> (a, a)
            (2, 3, 7),    # q2 -> (b, b)
            (2, 1, 9),
        ],
        "qid long, vec_id long, adc_dist long",
    )
    got = {
        (r["label"], r["nn_label"]): r["pair_count"]
        for r in nn_confusion_over_candidates(
            cand, labels, "vec_id", "label"
        ).collect()
    }
    assert got == {("a", "a"): 1, ("b", "b"): 1}
    # descending: q0's best becomes adc_dist 5 still (tie) but flip
    # makes 9 beat 7 for q2 -> neighbor 1 (label a)
    got_desc = {
        (r["label"], r["nn_label"]): r["pair_count"]
        for r in nn_confusion_over_candidates(
            cand, labels, "vec_id", "label", ascending=False
        ).collect()
    }
    assert got_desc == {("a", "a"): 1, ("b", "a"): 1}
    # k=1 candidate lists are always misuse (queries whose lone
    # candidate is themselves would silently vanish) — loud failure
    import pytest

    k1 = spark.createDataFrame(
        [(0, 0, 0), (2, 3, 7)], "qid long, vec_id long, adc_dist long"
    )
    with pytest.raises(ValueError, match="k >= 2"):
        nn_confusion_over_candidates(k1, labels, "vec_id", "label")
    # MIXED list sizes: q2 has a long list but q0's lone candidate is
    # itself — q0 would silently vanish, so this must raise too (the
    # old global max-list-length guard missed exactly this case)
    mixed = spark.createDataFrame(
        [(0, 0, 0), (2, 3, 7), (2, 1, 9), (2, 0, 11)],
        "qid long, vec_id long, adc_dist long",
    )
    with pytest.raises(ValueError, match="no NON-SELF"):
        nn_confusion_over_candidates(mixed, labels, "vec_id", "label")
    # legitimately sparse 1-row NON-self lists pass (e.g. a low-probe
    # IVF query whose visited cells held a single foreign vector)
    sparse = spark.createDataFrame(
        [(0, 2, 5), (2, 3, 7), (2, 1, 9)],
        "qid long, vec_id long, adc_dist long",
    )
    got_sparse = {
        (r["label"], r["nn_label"]): r["pair_count"]
        for r in nn_confusion_over_candidates(
            sparse, labels, "vec_id", "label"
        ).collect()
    }
    assert got_sparse == {("a", "b"): 1, ("b", "b"): 1}


def test_lsh_topk_planes_override(memb):
    """Explicit planes equal to the seeded default reproduce the
    default path exactly; the override is what lets the recall gate
    interpolate the same integer-micros planes into its SQL oracle."""
    from etl_based_real_time_air_quality_monitoring_system_spark.operators.similarity import (
        hyperplanes,
        lsh_topk,
    )

    ids, mat = _np_vectors(memb)
    qv = [float(x) for x in mat[0]]
    default = lsh_topk(memb, "vec_id", "embedding", qv, k=10, max_hamming=6)
    explicit = lsh_topk(
        memb, "vec_id", "embedding", qv, k=10, max_hamming=6,
        planes=hyperplanes(len(qv), 12, seed=42),
    )
    assert [tuple(r) for r in default.collect()] == [
        tuple(r) for r in explicit.collect()
    ]


def test_ivfpq_stored_index_search_matches_in_scan(memb, tmp_path):
    """The stored cluster-partitioned index is SEARCH-EQUIVALENT to
    the in-scan form: identical (qid, id, dist) rows for the same
    queries/probes — the property that lets nn_confusion_ivfpq_stored
    share nn_confusion_ivfpq's oracle verbatim.  Also pins the scan
    reading only probed directories (union of probe sets)."""
    from etl_based_real_time_air_quality_monitoring_system_spark.operators.similarity import (
        ivfpq_adc_knn,
        ivfpq_adc_knn_stored,
        ivfpq_codebooks,
        ivfpq_write_index,
    )

    spark = memb.sparkSession
    coarse, cb = ivfpq_codebooks(
        memb, "vec_id", "embedding", n_coarse=8, n_subspaces=8, n_codes=16
    )
    rows = memb.orderBy("vec_id").limit(5).collect()
    queries = [(int(r["vec_id"]), list(r["embedding"])) for r in rows]
    path = str(tmp_path / "idx")
    ivfpq_write_index(memb, "vec_id", "embedding", coarse, cb, path)
    in_scan = sorted(
        tuple(r)
        for r in ivfpq_adc_knn(
            memb, "vec_id", "embedding", queries, coarse, cb, k=7, n_probe=3
        ).collect()
    )
    stored_df = ivfpq_adc_knn_stored(
        spark, path, queries, coarse, cb, id_col="vec_id", k=7, n_probe=3
    )
    assert sorted(tuple(r) for r in stored_df.collect()) == in_scan
    import pytest

    with pytest.raises(ValueError, match="non-empty"):
        ivfpq_adc_knn_stored(spark, path, [], coarse, cb)


def test_cluster_balanced_sample_learned_centroids(memb):
    """The learned-centroid option (floored Lloyd means, the
    pq_codebooks_kmeans precedent): training must DECREASE total
    assignment distortion vs the first-k init, SHIFT the kept set
    (centroid quality changes the split), keep the per-cluster quota
    rule intact, and reject non-integral centroid tables.  The gate
    keeps the first-k init (bit-stable) — this pins the production
    path."""
    import numpy as np
    import pytest

    from etl_based_real_time_air_quality_monitoring_system_spark.operators.similarity import (
        cluster_balanced_sample,
        ivf_centroids_kmeans,
    )

    spark = memb.sparkSession

    def distortion(cent: np.ndarray) -> int:
        ids, mat = _np_vectors(memb)
        d2 = ((mat[:, None, :] - cent[None, :, :]) ** 2).sum(axis=2)
        return int(d2.min(axis=1).sum())

    first_k = np.array(
        [
            list(r["embedding"])
            for r in memb.orderBy("vec_id").limit(8).collect()
        ],
        dtype=float,
    )
    learned = np.floor(
        ivf_centroids_kmeans(memb, "vec_id", "embedding", n_centroids=8)
    )
    assert distortion(learned) < distortion(first_k)
    base_kept = {
        r["vec_id"]
        for r in cluster_balanced_sample(
            memb, "vec_id", "embedding", n_clusters=8, quota=10
        ).collect()
    }
    learned_rows = cluster_balanced_sample(
        memb, "vec_id", "embedding", quota=10, centroids=learned
    ).collect()
    learned_kept = {r["vec_id"] for r in learned_rows}
    assert learned_kept != base_kept  # training moves the split
    from collections import Counter

    per_cluster = Counter(r["cluster_id"] for r in learned_rows)
    assert all(v <= 10 for v in per_cluster.values())
    with pytest.raises(ValueError, match="integ"):
        cluster_balanced_sample(
            memb, "vec_id", "embedding", quota=10,
            centroids=learned + 0.5,
        )


def test_ivfpq_streamed_index_compaction_equals_one_shot(memb, tmp_path):
    """A streaming maintainer accretes the index as replay-guarded
    epoch=<id> partitions; ivfpq_compact_index must collapse that
    accretion into the canonical cluster-partitioned layout with the
    IDENTICAL row set as a one-shot ivfpq_write_index build, the
    epoch column gone, and one file per cluster directory."""
    import os

    from etl_based_real_time_air_quality_monitoring_system_spark.operators.similarity import (
        ivfpq_codebooks,
        ivfpq_compact_index,
        ivfpq_encode,
        ivfpq_write_index,
    )

    spark = memb.sparkSession
    coarse, cb = ivfpq_codebooks(
        memb, "vec_id", "embedding", n_coarse=8, n_subspaces=8, n_codes=16
    )
    raw = str(tmp_path / "raw")
    idx = str(tmp_path / "idx")
    once = str(tmp_path / "once")
    # three "micro-batches" by vec_id ranges, each its own epoch dir
    # (epoch 1 written twice — the replay-overwrite discipline)
    for epoch, cond in [
        (0, F.col("vec_id") % 3 == 0),
        (1, F.col("vec_id") % 3 == 1),
        (2, F.col("vec_id") % 3 == 2),
    ]:
        batch = memb.filter(cond)
        for _ in range(2 if epoch == 1 else 1):
            ivfpq_encode(batch, "vec_id", "embedding", coarse, cb).write.mode(
                "overwrite"
            ).partitionBy("cluster_id").parquet(
                os.path.join(raw, f"epoch={epoch}")
            )
    ivfpq_compact_index(spark, raw, idx)
    ivfpq_write_index(memb, "vec_id", "embedding", coarse, cb, once)
    compacted = spark.read.parquet(idx)
    assert "epoch" not in compacted.columns
    got = sorted(
        (r["vec_id"], r["cluster_id"], tuple(r["codes"]))
        for r in compacted.collect()
    )
    want = sorted(
        (r["vec_id"], r["cluster_id"], tuple(r["codes"]))
        for r in spark.read.parquet(once).collect()
    )
    assert got == want
    # one parquet file per cluster directory after compaction
    for d in os.listdir(idx):
        if d.startswith("cluster_id="):
            files = [
                f
                for f in os.listdir(os.path.join(idx, d))
                if f.endswith(".parquet")
            ]
            assert len(files) == 1, d


def test_cluster_balanced_sample_matches_python_reference(memb):
    """Cluster-balanced sampling: nearest-centroid assignment by exact
    integer squared L2 (ties -> lowest cid), md5-ranked exact quota per
    cluster — the whole kept SET must equal a pure-Python reference;
    quota >= cluster size keeps the full cluster; unquantized
    embeddings are rejected."""
    import hashlib

    import numpy as np
    import pytest

    from etl_based_real_time_air_quality_monitoring_system_spark.operators.similarity import (
        cluster_balanced_sample,
    )

    rows = memb.select("vec_id", "embedding").collect()
    ids = [int(r["vec_id"]) for r in rows]
    mat = {int(r["vec_id"]): np.array(r["embedding"], dtype=np.int64) for r in rows}
    k, quota, salt = 4, 5, "cbal:test"
    cc = [mat[i] for i in sorted(ids)[:k]]

    def assign(v):
        d = [(int(((v - c) ** 2).sum()), cid) for cid, c in enumerate(cc)]
        return min(d)[1]

    by_cluster: dict[int, list] = {}
    for i in ids:
        by_cluster.setdefault(assign(mat[i]), []).append(i)
    want = set()
    for cid, members in by_cluster.items():
        ranked = sorted(
            members,
            key=lambda i: (hashlib.md5(f"{salt}{i}".encode()).hexdigest(), i),
        )
        want.update((i, cid) for i in ranked[:quota])
    got = {
        (int(r["vec_id"]), int(r["cluster_id"]))
        for r in cluster_balanced_sample(
            memb, "vec_id", "embedding", n_clusters=k, quota=quota, salt=salt
        ).collect()
    }
    assert got == want
    assert len(got) <= k * quota
    # quota >= corpus: everything kept, clusters intact
    all_kept = cluster_balanced_sample(
        memb, "vec_id", "embedding", n_clusters=k, quota=10**6, salt=salt
    )
    assert all_kept.count() == len(ids)
    with pytest.raises(ValueError, match="quota"):
        cluster_balanced_sample(memb, "vec_id", "embedding", quota=0)
    frac = memb.select(
        "vec_id",
        F.transform("embedding", lambda x: x + F.lit(0.25)).alias("embedding"),
    )
    with pytest.raises(ValueError, match="non-integer"):
        cluster_balanced_sample(frac, "vec_id", "embedding")


def test_ivfpq_adc_knn_rejects_unquantized_inputs(memb):
    """The batched IVF-PQ entry point must raise on non-integer query
    vectors and coarse centroids instead of silently truncating them
    toward zero in the int64 cast (the pq_adc_lut guard downstream
    can never fire — the residual it receives is already int64)."""
    import pytest

    from etl_based_real_time_air_quality_monitoring_system_spark.operators.similarity import (
        ivfpq_adc_knn,
        ivfpq_codebooks,
    )

    coarse, cb = ivfpq_codebooks(memb, "vec_id", "embedding", 8, 8, 16)
    ids, mat = _np_vectors(memb)
    good = [(ids[0], [float(x) for x in mat[0]])]
    frac = [(ids[0], [float(x) + 0.5 for x in mat[0]])]
    with pytest.raises(ValueError, match="quantize with micros_vec"):
        ivfpq_adc_knn(memb, "vec_id", "embedding", frac, coarse, cb)
    with pytest.raises(ValueError, match="quantize with micros_vec"):
        ivfpq_adc_knn(memb, "vec_id", "embedding", good, coarse + 0.25, cb)
    # un-floored CODEBOOKS (e.g. k-means means without the micros
    # floor) must raise too — checked at the pq_adc_lut seam every
    # ADC path funnels through
    with pytest.raises(ValueError, match="codebooks"):
        ivfpq_adc_knn(memb, "vec_id", "embedding", good, coarse, cb + 0.5)
    # integral inputs still pass the guard
    assert ivfpq_adc_knn(
        memb, "vec_id", "embedding", good, coarse, cb, k=1
    ).count() == 1


def test_ivfpq_residuals_assign_lowest_tie_and_exact(memb):
    from etl_based_real_time_air_quality_monitoring_system_spark.operators.similarity import (
        ivf_centroids,
        ivfpq_residuals,
    )

    coarse = ivf_centroids(memb, "vec_id", "embedding", 8)
    out = ivfpq_residuals(memb, "vec_id", "embedding", coarse)
    rows = {int(r["vec_id"]): r for r in out.collect()}
    ids, mat = _np_vectors(memb)
    cc = coarse.astype(np.int64)
    d2all = ((mat[:, None, :] - cc[None]) ** 2).sum(axis=2)
    cid = d2all.argmin(axis=1)
    for i in (0, 1, 7, len(ids) - 1):
        vid = ids[i]
        assert rows[vid]["cluster_id"] == cid[i]
        np.testing.assert_array_equal(
            np.asarray(list(rows[vid]["_res"]), dtype=np.int64),
            mat[i] - cc[cid[i]],
        )


def test_pq_codebooks_kmeans_reduces_distortion(memb):
    from etl_based_real_time_air_quality_monitoring_system_spark.operators.similarity import (
        pq_codebooks,
        pq_codebooks_kmeans,
    )

    ids, mat = _np_vectors(memb)

    def distortion(cb):
        codes = _np_codes(mat, cb)
        total = 0
        for j in range(cb.shape[0]):
            s = mat[:, j * 8 : (j + 1) * 8].astype(np.int64)
            picked = cb[j][codes[:, j]].astype(np.int64)
            total += int(((s - picked) ** 2).sum())
        return total

    init = pq_codebooks(memb, "vec_id", "embedding", 8, 16)
    trained = pq_codebooks_kmeans(memb, "vec_id", "embedding", 8, 16, iters=2)
    assert trained.shape == init.shape
    assert distortion(trained) < distortion(init)


def test_pq_adc_accepts_kmeans_trained_codebooks(memb):
    """The new codebook integrality guard must NOT reject the
    documented training path: pq_codebooks_kmeans floors refined means
    to integer micros, so ADC search over trained codebooks works."""
    from etl_based_real_time_air_quality_monitoring_system_spark.operators.similarity import (
        pq_adc_topk,
        pq_codebooks_kmeans,
    )

    trained = pq_codebooks_kmeans(memb, "vec_id", "embedding", 8, 16, iters=1)
    assert np.all(trained == np.floor(trained))
    ids, mat = _np_vectors(memb)
    out = pq_adc_topk(
        memb, "vec_id", "embedding", [float(x) for x in mat[0]], trained, k=5
    ).collect()
    assert len(out) == 5
    assert out[0]["vec_id"] == ids[0]  # self is its own ADC-nearest here


def test_ivfpq_recall_floor_vs_exact_l2(memb):
    # everything in the pipeline is deterministic, so recall is a
    # fixed number per dataset (0.38 at sf0.01, 0.22 at sf0.1 with
    # 8 coarse lists / 4 probes / 8x16 codes on the synthetic
    # near-uniform embeddings — PQ's hardest case); the floor guards
    # against degenerate-codebook regressions (e.g. sampling the
    # coarse-centroid rows whose residuals are all zero, which this
    # test was added to catch)
    from etl_based_real_time_air_quality_monitoring_system_spark.operators.similarity import (
        ivfpq_adc_knn,
        ivfpq_codebooks,
    )

    ids, mat = _np_vectors(memb)
    coarse, cb = ivfpq_codebooks(memb, "vec_id", "embedding", 8, 8, 16)
    queries = [(ids[i], [float(x) for x in mat[i]]) for i in range(5)]
    got = ivfpq_adc_knn(
        memb, "vec_id", "embedding", queries, coarse, cb, k=10, n_probe=4
    ).collect()
    by_q = {}
    for r in got:
        by_q.setdefault(int(r["qid"]), set()).add(int(r["vec_id"]))
    hits = 0
    for qi in range(5):
        q = mat[qi]
        d2 = ((mat - q[None]) ** 2).sum(axis=1)
        exact = {
            ids[i]
            for i in sorted(range(len(ids)), key=lambda i: (d2[i], ids[i]))[:10]
        }
        hits += len(by_q[ids[qi]] & exact)
    assert hits / 50 >= 0.15


def test_require_integral_micros_property():
    """The shared ADC integrality guard: integral inputs round-trip to
    int64 exactly; any fractional component raises; magnitudes at or
    beyond 2^53 raise (float floor-equality can no longer certify
    integrality there)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from etl_based_real_time_air_quality_monitoring_system_spark.operators.similarity import (
        _require_integral_micros,
    )

    @settings(max_examples=200, deadline=None)
    @given(
        ints=st.lists(
            st.integers(-(2**52), 2**52), min_size=1, max_size=8
        ),
        frac=st.floats(0.001, 0.999),
        idx=st.integers(0, 7),
    )
    def case(ints, frac, idx):
        out = _require_integral_micros(ints, "v", "t")
        assert out.dtype == np.int64 and list(out) == ints
        bad = [float(x) for x in ints]
        bad[idx % len(bad)] += frac
        # adding the fraction may be absorbed by float rounding on
        # huge values — only assert the raise when it survived
        if bad[idx % len(bad)] != np.floor(bad[idx % len(bad)]):
            with np.testing.assert_raises(ValueError):
                _require_integral_micros(bad, "v", "t")

    case()
    import pytest

    with pytest.raises(ValueError, match="2\\^53"):
        _require_integral_micros([2.0**53], "v", "t")
