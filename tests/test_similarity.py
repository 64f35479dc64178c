"""Similarity operators: exact cosine top-k vs numpy oracle; LSH
bucketed variant returns plausible approximations; k-NN join shape."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window

from sparkcollector.operators.similarity import (
    cosine_sim,
    cosine_topk,
    knn_join_exact,
    lsh_bucket_topk,
)

DIM = 8
N = 200


@pytest.fixture(scope="module")
def emb(spark):
    rng = np.random.default_rng(11)
    vecs = rng.standard_normal((N, DIM)).astype(float)
    schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.DoubleType())),
        ]
    )
    df = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(N)], schema
    )
    return df, vecs


def _oracle_topk(vecs, q, k):
    sims = vecs @ q / (np.linalg.norm(vecs, axis=1) * np.linalg.norm(q))
    sims = np.round(sims, 4)
    order = sorted(range(len(vecs)), key=lambda i: (-sims[i], i))[:k]
    return [(i, sims[i]) for i in order]


def test_cosine_topk_matches_numpy(emb):
    df, vecs = emb
    q = list(vecs[0])
    got = [(r["vec_id"], r["sim"]) for r in cosine_topk(df, q, k=10).collect()]
    exp = [(i, pytest.approx(s, abs=1e-9)) for i, s in _oracle_topk(vecs, vecs[0], 10)]
    assert [g[0] for g in got] == [e[0] for e in exp]
    for g, e in zip(got, exp):
        assert g[1] == e[1]


def test_lsh_topk_contains_query_itself(emb):
    df, vecs = emb
    got = lsh_bucket_topk(df, list(vecs[5]), k=5, n_planes=8).collect()
    assert got[0]["vec_id"] == 5 and got[0]["sim"] == 1.0


def test_lsh_recall_reasonable(emb):
    df, vecs = emb
    exact = {i for i, _ in _oracle_topk(vecs, vecs[3], 10)}
    approx = {r["vec_id"] for r in lsh_bucket_topk(df, list(vecs[3]), k=10, n_planes=8).collect()}
    # multi-probe LSH at 8 planes over 200 vecs should recall >= 30%
    assert len(exact & approx) >= 3


def test_knn_join_shape(emb):
    df, _ = emb
    left = df.limit(5)
    out = knn_join_exact(left, df, k=3).collect()
    assert len(out) == 15
    # nearest neighbor of each row is itself
    self_hits = [r for r in out if r["rn"] == 1]
    assert all(r["vec_id"] == r["neighbor_id"] for r in self_hits)


def test_knn_join_bucketed_matches_exact_on_clustered_data(spark):
    """On cluster-structured data (the regime IVF serves), the bucketed
    k-NN join reproduces the exact join with nprobe=2 of 4 cells —
    while scoring only same-cell pairs.  Random isotropic vectors are
    the known worst case for IVF recall (verified separately: recall<1
    at nprobe<k there), which is why the oracle-checked entry is the
    exact join and this is the documented scale path."""
    import numpy as np

    from sparkcollector.operators.similarity import (
        knn_join_bucketed,
        knn_join_exact,
        train_ivf_centroids,
    )

    rng = np.random.default_rng(5)
    centers = rng.standard_normal((4, 8)) * 4
    rows = []
    for i in range(160):
        c = i % 4
        v = centers[c] + rng.standard_normal(8) * 0.2
        rows.append((i, [float(x) for x in v]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = train_ivf_centroids(df, k=4, sample=160, iters=8)
    left = df.filter("vec_id < 12")

    exact = {
        (r["vec_id"], r["rn"]): r["neighbor_id"]
        for r in knn_join_exact(left, df, k=3).collect()
    }
    bucketed = {
        (r["vec_id"], r["rn"]): r["neighbor_id"]
        for r in knn_join_bucketed(left, df, cents, k=3, nprobe=2).collect()
    }
    assert bucketed == exact


def test_embedding_centroids_flat_means(spark):
    from sparkcollector.operators.similarity import embedding_centroids

    df = spark.createDataFrame(
        [(1, [1.0, 3.0], 0), (2, [3.0, 5.0], 0), (3, [10.0, 0.0], 1)],
        "vec_id bigint, embedding array<double>, label int",
    )
    got = {
        (r["label"], r["dim"]): (r["n"], r["mean"])
        for r in embedding_centroids(df).collect()
    }
    assert got == {
        (0, 0): (2, 2.0), (0, 1): (2, 4.0),
        (1, 0): (1, 10.0), (1, 1): (1, 0.0),
    }


def test_random_projection_exact(spark):
    from sparkcollector.operators.similarity import random_projection

    df = spark.createDataFrame(
        [(7, [1.0, 2.0, 3.0])], "vec_id bigint, embedding array<double>"
    )
    m = [[1.0, 0.0, -1.0], [0.5, 0.5, 0.5]]
    got = {r["dim"]: r["proj"] for r in random_projection(df, m).collect()}
    assert got == {0: 1.0 - 3.0, 1: 3.0}


def test_scalar_quantize_codes_and_mse(spark):
    """Known 2-vector corpus: mn=0, mx=4 -> bin width 4/256; codes and
    bin-midpoint MSE are hand-checkable."""
    from sparkcollector.operators.similarity import scalar_quantize_stats

    rows = [(1, [0.0, 4.0]), (2, [2.0, 2.0])]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    got = {
        r["vec_id"]: (r["code_sum"], r["mse"])
        for r in scalar_quantize_stats(df, "embedding", "vec_id").collect()
    }
    # x=0 -> code 0, dq = (0+.5)*4/256 = 1/128; x=4 -> floor(256) clamps
    # to 255, dq = 255.5*4/256 = 3.9921875; x=2 -> code 128, dq = 2.0078125
    mse1 = ((0 - 1 / 128) ** 2 + (4 - 3.9921875) ** 2) / 2
    mse2 = 2 * (2 - 2.0078125) ** 2 / 2
    assert got[1][0] == 255 and abs(got[1][1] - mse1) < 1e-15
    assert got[2][0] == 256 and abs(got[2][1] - mse2) < 1e-15


def test_kmeans_lloyd_step_hand_checked(spark):
    """Two orthogonal pinned centroids, four 2-d vectors: assignment
    by cosine, shift = L2 distance from old centroid to the assigned
    vectors' mean."""
    import math

    from sparkcollector.operators.similarity import kmeans_lloyd_step

    rows = [
        (1, [1.0, 0.0]),
        (2, [1.0, 0.2]),   # both nearer x-axis centroid
        (3, [0.0, 1.0]),
        (4, [0.2, 1.0]),   # both nearer y-axis centroid
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    got = {
        r["cluster"]: (r["n"], r["shift"])
        for r in kmeans_lloyd_step(
            df, [[1.0, 0.0], [0.0, 1.0]]
        ).collect()
    }
    # cluster 0 mean = (1.0, 0.1): shift = 0.1; cluster 1 symmetric
    assert got[0][0] == 2 and got[1][0] == 2
    assert math.isclose(got[0][1], 0.1, abs_tol=1e-6)
    assert math.isclose(got[1][1], 0.1, abs_tol=1e-6)


def test_kmeans_lloyd_step_empty_cluster_no_row(spark):
    from sparkcollector.operators.similarity import kmeans_lloyd_step

    df = spark.createDataFrame([(1, [1.0, 0.0])], ["vec_id", "embedding"])
    out = kmeans_lloyd_step(df, [[1.0, 0.0], [0.0, 1.0]]).collect()
    assert len(out) == 1 and out[0]["cluster"] == 0


def test_embedding_hygiene_counts(spark):
    from sparkcollector.operators.similarity import embedding_hygiene

    rows = [
        (1, [1.0, 2.0, 2.0]),           # norm 3
        (2, [float("nan"), 1.0, 1.0]),  # nan
        (3, [0.0, 0.0, 0.0]),           # zero norm
        (4, [1e9, 0.0, 0.0]),           # out of band
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    r = embedding_hygiene(df).collect()[0]
    assert r["n_vectors"] == 4
    assert r["n_nan"] == 1 and r["n_zero_norm"] == 1
    assert r["n_norm_out_of_band"] == 1
    assert r["min_norm"] == 0.0 and r["max_norm"] == 1e9


def test_rrf_fusion_combines_rankings(spark):
    from sparkcollector.operators.similarity import rrf_fusion

    # doc 1 ranks #1 in both lists -> fused winner; doc 9 only in A
    a = spark.createDataFrame(
        [(1, 10.0), (2, 5.0), (9, 3.0)], "doc_id long, score double"
    )
    b = spark.createDataFrame(
        [(1, 100.0), (3, 50.0)], "doc_id long, score double"
    )
    rows = rrf_fusion(a, b, top=5).collect()
    assert rows[0]["doc_id"] == 1
    assert rows[0]["rank_a"] == 1 and rows[0]["rank_b"] == 1
    only_a = next(r for r in rows if r["doc_id"] == 9)
    assert only_a["rank_b"] is None
    assert abs(rows[0]["rrf_score"] - 2 / 61) < 1e-9


def test_centroid_separation_orthogonal_clusters(spark):
    from sparkcollector.operators.similarity import centroid_separation

    rows = [
        ("A", [1.0, 0.0]), ("A", [1.0, 0.0]), ("B", [0.0, 1.0]),
    ]
    df = spark.createDataFrame(rows, "label string, embedding array<double>")
    got = {r["label"]: r for r in centroid_separation(df).collect()}
    assert got["A"]["n_members"] == 2
    assert got["A"]["cohesion"] == 1.0
    assert got["A"]["max_other_centroid_cos"] == 0.0
    assert got["A"]["separation_margin"] == 1.0
    assert got["B"]["separation_margin"] == 1.0


def test_embedding_split_leakage_exact_and_ivf(spark):
    from sparkcollector.operators.similarity import embedding_split_leakage

    rows = [
        (0, [1.0, 0.0], 0), (2, [0.0, 1.0], 0),       # train
        (1, [1.0, 0.0], 1), (3, [1.0, 1.0], 1),       # eval: 1 leaks
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, split int"
    )
    for cents in (None, [[1.0, 0.0], [0.0, 1.0]]):
        r = embedding_split_leakage(
            df, threshold=0.9, centroids=cents, nprobe=2
        ).collect()[0]
        assert (r["n_eval"], r["n_leaked"]) == (2, 1)
        assert r["leak_rate"] == 0.5
        assert r["max_leak_sim"] == 1.0


def test_embedding_anisotropy_closed_forms(spark):
    from sparkcollector.operators.similarity import embedding_anisotropy

    rows = [
        ("same", 1, [3.0, 0.0]), ("same", 2, [6.0, 0.0]),   # parallel
        ("orth", 1, [1.0, 0.0]), ("orth", 2, [0.0, 5.0]),   # orthogonal
        ("anti", 1, [2.0, 0.0]), ("anti", 2, [-7.0, 0.0]),  # opposite
    ]
    df = spark.createDataFrame(rows, "label string, vec_id long, embedding array<double>")
    got = {r["label"]: r for r in
           embedding_anisotropy(df, "label", "embedding").collect()}
    assert got["same"]["mean_pairwise_cos"] == 1.0
    assert got["same"]["mean_norm"] == 4.5                  # (3+6)/2
    assert got["orth"]["mean_pairwise_cos"] == 0.0
    assert got["anti"]["mean_pairwise_cos"] == -1.0


def test_hash_tf_cosine_self_is_one(spark):
    from sparkcollector.operators.similarity import (
        hash_tf_cosine_to_probe,
        hash_tf_vectors,
    )

    docs = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "delta epsilon zeta"), (3, "")],
        "id long, text string",
    )
    vecs = hash_tf_vectors(docs, "id", "text", dim=16)
    probe = hash_tf_vectors(
        spark.createDataFrame([(0, "alpha beta gamma")], "id long, text string"),
        "id", "text", dim=16,
    )
    got = {r["id"]: r for r in hash_tf_cosine_to_probe(vecs, probe).collect()}
    assert abs(got[1]["cos"] - 1.0) < 1e-6   # identical text
    assert got[2]["cos"] < 1.0               # disjoint tokens (modulo collisions)
    assert 3 not in got                      # empty doc has no vector rows


def _two_blob_df(spark):
    # two tight, well-separated 3-d blobs
    rows = []
    for i in range(20):
        rows.append((i, 0, [0.0 + 0.01 * (i % 3), 0.0, 0.0]))
        rows.append((100 + i, 1, [10.0, 10.0 + 0.01 * (i % 3), 10.0]))
    return spark.createDataFrame(rows, "vec_id long, label int, embedding array<float>")


def test_calinski_harabasz_separated_blobs(spark):
    from sparkcollector.operators.similarity import calinski_harabasz

    r = calinski_harabasz(_two_blob_df(spark), "label", "embedding").collect()[0]
    assert r["n"] == 40 and r["k"] == 2
    assert r["ch"] > 10000  # separation >> scatter


def test_davies_bouldin_low_for_separated(spark):
    from sparkcollector.operators.similarity import davies_bouldin

    r = davies_bouldin(_two_blob_df(spark), "label", "embedding").collect()[0]
    assert r["k"] == 2 and r["db_index"] < 0.01


def test_silhouette_near_one_for_separated(spark):
    from sparkcollector.operators.similarity import silhouette_centroid

    got = silhouette_centroid(_two_blob_df(spark), "label", "embedding").collect()
    assert len(got) == 2
    for r in got:
        assert r["mean_silhouette"] > 0.99


def test_ann_recall_perfect_when_nprobe_covers_all(spark):
    from sparkcollector.operators.similarity import ann_recall_at_k

    rows = [(i, [float(i), 0.0]) for i in range(20)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    cents = [[0.0, 0.0], [19.0, 0.0]]
    # nprobe = 2 of 2 lists -> approx == exact -> recall 1
    got = ann_recall_at_k(df, "vec_id", "embedding", [0], cents, k=5, nprobe=2).collect()
    assert got[0]["recall"] == 1.0 and got[0]["n_exact"] == 5
    # nprobe = 1: probe 0's list is the low cluster; true neighbors
    # are all low too -> still 1.0; probe 19 from the far end against
    # k spanning both lists would drop below 1 (covered at sf scale)
    got1 = ann_recall_at_k(df, "vec_id", "embedding", [0], cents, k=5, nprobe=1).collect()
    assert got1[0]["recall"] == 1.0


def test_pca_power_iteration_finds_dominant_axis(spark):
    from sparkcollector.operators.similarity import pca_power_iteration

    # variance concentrated on dim 1 (not the e0 start): spread +-t
    rows = [(i, [0.01 * (i % 3), float(i % 21) - 10.0, 0.0, 0.0])
            for i in range(200)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    r = pca_power_iteration(df, "embedding", iterations=4, report_dims=4).collect()[0]
    assert abs(abs(r["v1"]) - 1.0) < 0.01      # dominant axis recovered
    assert abs(r["v2"]) < 0.05 and abs(r["v3"]) < 0.05
    assert r["lambda_top"] > 30                # ~ variance of uniform(-10..10)


def test_mmr_rerank_penalizes_near_duplicates(spark):
    from sparkcollector.operators.similarity import mmr_rerank

    # doc 1 ~ query; doc 2 = near-copy of doc 1; doc 3 less relevant
    # but orthogonal.  Plain top-3 = [1, 2, 3]; MMR must pick 3 ahead
    # of the near-copy 2.
    q = [1.0, 0.0, 0.0, 0.0]
    rows = [
        (1, [0.99, 0.1, 0.0, 0.0]),
        (2, [0.98, 0.12, 0.0, 0.0]),   # near-duplicate of 1
        (3, [0.7, 0.0, 0.7, 0.0]),     # diverse
        (4, [0.6, 0.0, 0.0, 0.8]),     # diverse, weaker
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = [r["vec_id"] for r in sorted(
        mmr_rerank(df, q, k=3, lam=0.5, n_candidates=4).collect(),
        key=lambda r: r["rank"])]
    assert out[0] == 1          # highest relevance first
    assert out[1] == 3          # diversity beats the near-copy
    assert out[2] == 4          # and again over the near-copy


def test_mmr_rerank_lam1_reduces_to_topk(spark):
    from sparkcollector.operators.similarity import mmr_rerank

    q = [1.0, 0.0]
    rows = [(i, [1.0 - 0.01 * i, 0.01 * i]) for i in range(1, 8)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = [r["vec_id"] for r in sorted(
        mmr_rerank(df, q, k=4, lam=1.0, n_candidates=7).collect(),
        key=lambda r: r["rank"])]
    assert out == [1, 2, 3, 4]  # pure relevance order


def _knn_join_exact_catalyst(
    left: DataFrame,
    right: DataFrame,
    k: int = 5,
    vec_col: str = "embedding",
    left_id: str = "vec_id",
    right_id: str = "vec_id",
) -> DataFrame:
    """Reference for ``knn_join_exact``: per-pair HOF cosine + rank
    window, all in Catalyst (~40x slower, same output)."""
    r = F.broadcast(
        right.select(
            F.col(right_id).alias("_rid"), F.col(vec_col).alias("_rvec")
        )
    )
    joined = left.select(
        F.col(left_id).alias("_lid"), F.col(vec_col).alias("_lvec")
    ).crossJoin(r)
    scored = joined.withColumn(
        "sim", F.round(cosine_sim(F.col("_lvec"), F.col("_rvec")), 4)
    )
    w = Window.partitionBy("_lid").orderBy(F.col("sim").desc(), F.col("_rid"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select(
            F.col("_lid").alias(left_id),
            F.col("_rid").alias("neighbor_id"),
            "sim",
            "rn",
        )
    )


def test_knn_join_numpy_matches_catalyst_twin(spark):
    """The round-5 BLAS kernel and the Catalyst HOF reference must
    produce identical (id, neighbor, 4dp sim, rank) rows."""
    rng = np.random.default_rng(23)
    rows = [
        (int(i), [float(x) for x in rng.standard_normal(16)])
        for i in range(120)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    left = df.filter("vec_id < 25")
    a = sorted(map(tuple, knn_join_exact(left, df, k=4).collect()))
    b = sorted(map(tuple, _knn_join_exact_catalyst(left, df, k=4).collect()))
    assert a == b


def test_knn_join_empty_right_side_matches_catalyst(spark):
    """No right rows: no neighbours, with the declared column types
    (the kernel used to fail stacking an empty right matrix)."""
    rows = [(1, [1.0, 0.0]), (2, [0.0, 1.0])]
    left = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    right = left.filter("vec_id < 0")
    a = knn_join_exact(left, right, k=3)
    b = _knn_join_exact_catalyst(left, right, k=3)
    assert a.collect() == b.collect() == []
    assert a.dtypes == b.dtypes == [
        ("vec_id", "bigint"), ("neighbor_id", "bigint"),
        ("sim", "double"), ("rn", "int"),
    ]
