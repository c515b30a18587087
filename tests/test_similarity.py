"""Similarity search: exact cosine top-k and LSH-bucketed ANN."""

from __future__ import annotations

from pyspark.sql import Row
from pyspark.sql import functions as F

from lakehouse_tools_spark.ext.similarity import (
    ann_topk_lsh,
    cosine_topk,
    lsh_bucket_column,
    neardup_pairs,
)

VECS = [
    Row(vec_id=1, embedding=[1.0, 0.0, 0.0, 0.0]),
    Row(vec_id=2, embedding=[0.9, 0.1, 0.0, 0.0]),
    Row(vec_id=3, embedding=[0.0, 1.0, 0.0, 0.0]),
    Row(vec_id=4, embedding=[-1.0, 0.0, 0.0, 0.0]),
]


def vecs(spark):
    return spark.createDataFrame(VECS)


def test_cosine_topk_ordering(spark):
    emb = vecs(spark)
    out = cosine_topk(emb, emb.filter(F.col("vec_id") == 1), k=3).collect()
    ranked = [r.vec_id for r in sorted(out, key=lambda r: r.rank)]
    assert ranked == [2, 3, 4]  # closest first; opposite vector last
    by_id = {r.vec_id: r.cos for r in out}
    assert by_id[3] == 0.0 and by_id[4] == -1.0


def test_cosine_topk_excludes_self(spark):
    emb = vecs(spark)
    out = cosine_topk(emb, emb, k=10).collect()
    assert all(r.query_id != r.vec_id for r in out)


def test_neardup_pairs_threshold(spark):
    pairs = {(r.vec_id, r.vec_id2) for r in neardup_pairs(vecs(spark), 0.9).collect()}
    assert pairs == {(1, 2)}


def test_lsh_bucket_deterministic(spark, tables):
    emb = tables["embeddings"]

    def buckets():
        b = lsh_bucket_column(F.col("embedding"), 4, 64).alias("bucket")
        return sorted(map(tuple, emb.select("vec_id", b).collect()))

    assert buckets() == buckets()


def test_ann_subset_of_corpus_with_positive_recall(spark, tables):
    emb = tables["embeddings"]
    queries = emb.filter(F.col("vec_id") < 3)
    exact = {(r.query_id, r.vec_id) for r in cosine_topk(emb, queries, k=5).collect()}
    ann = ann_topk_lsh(emb, queries, k=5, num_planes=2, dim=64).collect()
    assert all(r.query_id != r.vec_id for r in ann)
    got = {(r.query_id, r.vec_id) for r in ann}
    assert len(got & exact) > 0  # approximate, but not useless


def test_pandas_path_matches_catalyst_path(spark, tables):
    from lakehouse_tools_spark.ext.similarity import cosine_topk, cosine_topk_pandas

    emb = tables["embeddings"]
    queries = emb.filter(F.col("vec_id") < 3)
    jvm = {tuple(r) for r in cosine_topk(emb, queries, k=5).collect()}
    arrow = {tuple(r) for r in cosine_topk_pandas(emb, queries, k=5).collect()}
    # dim-sequential numpy accumulation reproduces the Catalyst fold
    # bit-for-bit, so ranks AND rounded cosines are identical
    assert jvm == arrow and len(jvm) == 15


def test_ivf_subset_of_exact_with_positive_recall(spark, tables):
    from lakehouse_tools_spark.ext.similarity import cosine_topk, ivf_topk

    emb = tables["embeddings"]
    queries = emb.filter(F.col("vec_id") < 3)
    exact = {(r.query_id, r.vec_id) for r in cosine_topk(emb, queries, k=10).collect()}
    approx = {(r.query_id, r.vec_id) for r in ivf_topk(emb, queries, k=10, num_centroids=8).collect()}
    # every IVF hit is a real corpus vector pair and recall is nonzero
    assert approx and len(approx & exact) > 0
    # cells partition the corpus: a vector appears in exactly one cell,
    # so no query can see a candidate twice
    assert len(approx) == len({(q, v) for q, v in approx})


def test_neardup_lsh_subset_of_exact(spark, tables):
    from lakehouse_tools_spark.ext.similarity import neardup_pairs, neardup_pairs_lsh

    emb = tables["embeddings"].filter(F.col("vec_id") < 200)
    exact = {(r.vec_id, r.vec_id2): r.cos for r in neardup_pairs(emb, threshold=0.2).collect()}
    lsh = {(r.vec_id, r.vec_id2): r.cos for r in neardup_pairs_lsh(emb, threshold=0.2, num_planes=4).collect()}
    # every LSH pair is a true above-threshold pair with the same score
    assert set(lsh) <= set(exact)
    for pair, cos in lsh.items():
        assert cos == exact[pair]
    # and the bucket probe finds a usable share of them
    assert exact and len(lsh) / len(exact) > 0.1


def test_neardup_multiprobe_superset_no_dups(spark, tables):
    from lakehouse_tools_spark.ext.similarity import neardup_pairs, neardup_pairs_lsh

    emb = tables["embeddings"].filter(F.col("vec_id") < 200)
    exact = {(r.vec_id, r.vec_id2) for r in neardup_pairs(emb, threshold=0.2).collect()}
    single = {
        (r.vec_id, r.vec_id2)
        for r in neardup_pairs_lsh(emb, threshold=0.2, num_planes=4).collect()
    }
    multi_rows = neardup_pairs_lsh(
        emb, threshold=0.2, num_planes=4, multi_probe=True
    ).collect()
    multi = {(r.vec_id, r.vec_id2) for r in multi_rows}
    assert len(multi_rows) == len(multi)        # one discovery per pair
    assert single <= multi <= exact             # strictly more recall, no junk
    assert len(multi) > len(single)


def test_multiprobe_recall_dominates_single_probe(spark, tables):
    from lakehouse_tools_spark.ext.similarity import ann_topk_lsh_multiprobe

    emb = tables["embeddings"]
    queries = emb.filter(F.col("vec_id") < 3)
    exact = {(r.query_id, r.vec_id) for r in cosine_topk(emb, queries, k=5).collect()}
    single = {
        (r.query_id, r.vec_id)
        for r in ann_topk_lsh(emb, queries, k=5, num_planes=2, dim=64).collect()
    }
    multi_rows = ann_topk_lsh_multiprobe(
        emb, queries, k=5, num_planes=2, dim=64
    ).collect()
    multi = {(r.query_id, r.vec_id) for r in multi_rows}
    # distance-1 probing can only widen the candidate set
    assert len(multi & exact) >= len(single & exact)
    assert all(r.query_id != r.vec_id for r in multi_rows)
    # per-query output is still capped at k and ranked 1..n
    by_q = {}
    for r in multi_rows:
        by_q.setdefault(r.query_id, []).append(r.rank)
    for ranks in by_q.values():
        assert sorted(ranks) == list(range(1, len(ranks) + 1)) and len(ranks) <= 5


def test_kmeans_centroids_deterministic_and_nprobe_monotone(spark, tables):
    from lakehouse_tools_spark.ext.similarity import (
        ivf_topk,
        kmeans_refine_centroids,
        seed_centroids,
    )

    emb = tables["embeddings"]
    queries = emb.filter(F.col("vec_id") < 3)
    seed = seed_centroids(emb, 4)
    r1 = kmeans_refine_centroids(emb, seed, iters=2)
    r2 = kmeans_refine_centroids(emb, seed, iters=2)
    assert r1 == r2 and len(r1) == 4 and len(r1[0]) == 64

    exact = {(r.query_id, r.vec_id) for r in cosine_topk(emb, queries, k=5).collect()}
    recalls = []
    for p in (1, 2, 4):
        got = {
            (r.query_id, r.vec_id)
            for r in ivf_topk(emb, queries, k=5, centroids=r1, nprobe=p).collect()
        }
        recalls.append(len(got & exact))
    assert recalls == sorted(recalls)  # superset probing → monotone recall
    # probing every cell == exact (candidate set is the whole corpus)
    full = {
        (r.query_id, r.vec_id)
        for r in ivf_topk(emb, queries, k=5, centroids=r1, nprobe=4).collect()
    }
    assert full == exact


def test_embedding_centroids(spark):
    from pyspark.sql import Row

    from lakehouse_tools_spark.ext.similarity import embedding_centroids

    df = spark.createDataFrame(
        [
            Row(vec_id=1, label=0, embedding=[1.0, 2.0]),
            Row(vec_id=2, label=0, embedding=[3.0, 4.0]),
            Row(vec_id=3, label=1, embedding=[10.0, 20.0]),
        ]
    )
    out = {(r.group_key, r.pos): r for r in embedding_centroids(df).collect()}
    assert out[(0, 0)].centroid == 2.0 and out[(0, 1)].centroid == 3.0
    assert out[(1, 0)].centroid == 10.0 and out[(1, 1)].centroid == 20.0
    assert out[(0, 0)].n_vecs == 2 and out[(1, 0)].n_vecs == 1


def test_cross_neardup_exact_and_lsh_subset(spark):
    from pyspark.sql import Row

    from lakehouse_tools_spark.ext.similarity import cross_neardup_pairs

    def vec(*xs):
        return [float(x) for x in xs] + [0.0] * (64 - len(xs))

    corpus = spark.createDataFrame(
        [
            Row(vec_id=10, embedding=vec(1, 0)),
            Row(vec_id=11, embedding=vec(0, 1)),
        ]
    )
    ref = spark.createDataFrame(
        [Row(vec_id=1, embedding=vec(1, 0.1))]
    )
    exact = cross_neardup_pairs(corpus, ref, threshold=0.9)
    rows = exact.collect()
    # only the aligned pair clears 0.9; identity pairs can't appear
    # (different relations)
    assert [(r.vec_id, r.ref_id) for r in rows] == [(10, 1)]
    assert rows[0].cos > 0.99
    # LSH-bucketed mode returns a subset of the exact pairs
    lsh = cross_neardup_pairs(corpus, ref, threshold=0.9, num_planes=4)
    exact_set = {(r.vec_id, r.ref_id) for r in rows}
    assert {(r.vec_id, r.ref_id) for r in lsh.collect()} <= exact_set


def test_hard_negatives_exclude_same_and_null_labels(spark):
    from lakehouse_tools_spark.ext.similarity import hard_negatives

    rows = [
        (0, [1.0, 0.0], "a"),
        (1, [0.99, 0.1], "a"),   # same label: excluded
        (2, [0.98, 0.2], "b"),   # different: usable negative
        (3, [0.97, 0.3], None),  # unknown: excluded
        (4, [-1.0, 0.0], "b"),   # different but far: ranks below 2
    ]
    emb = spark.createDataFrame(rows, ["vec_id", "embedding", "label"])
    q = emb.filter(F.col("vec_id") == 0)
    got = hard_negatives(emb, q, k=10).collect()
    ids = [r.vec_id for r in sorted(got, key=lambda r: r.rank)]
    assert ids == [2, 4]


def test_hard_negatives_match_topk_when_labels_differ(spark, tables):
    """With every label distinct from the query's, hard negatives ARE
    the plain top-k (minus self, which shares the query's label)."""
    from lakehouse_tools_spark.ext.similarity import cosine_topk, hard_negatives

    emb = tables["embeddings"].withColumn(
        "label", (F.col("vec_id") % 2).cast("string")
    )
    q = emb.filter(F.col("vec_id") == 0)
    hn = {
        (r.query_id, r.vec_id)
        for r in hard_negatives(emb, q, k=5).collect()
    }
    tk = {
        (r.query_id, r.vec_id)
        for r in cosine_topk(
            emb.filter(F.col("vec_id") % 2 == 1), q, k=5
        ).collect()
    }
    assert hn == tk


def test_quantized_covariance_matches_numpy(spark):
    import numpy as np
    from pyspark.sql import Row

    from lakehouse_tools_spark.ext.similarity import quantized_covariance

    rng = np.random.RandomState(7)
    vecs = rng.uniform(-0.4, 0.4, size=(50, 4)).astype(np.float32)
    df = spark.createDataFrame(
        [Row(embedding=[float(x) for x in v]) for v in vecs],
        "embedding array<float>",
    )
    out = {
        (r.dim_i, r.dim_j): r.cov
        for r in quantized_covariance(df, "embedding").collect()
    }
    # quantization bias <= 2^-20 per component; covariance of the
    # quantized values matches numpy on the same quantized inputs
    q = np.floor(vecs.astype(np.float64) * (1 << 20)) / (1 << 20)
    expected = np.cov(q, rowvar=False, ddof=1)
    assert len(out) == 10
    for (i, j), cov in out.items():
        assert i <= j
        assert abs(cov - expected[i, j]) < 1e-9


def test_quantized_covariance_dims_subset_infers_and_selects(spark):
    from pyspark.sql import Row

    from lakehouse_tools_spark.ext.similarity import quantized_covariance

    df = spark.createDataFrame(
        [Row(embedding=[0.1, 0.2, 0.3]), Row(embedding=[0.2, 0.1, 0.0])],
        "embedding array<float>",
    )
    sub = quantized_covariance(df, "embedding", dims=(0, 2)).collect()
    assert {(r.dim_i, r.dim_j) for r in sub} == {(0, 0), (0, 2), (2, 2)}


def test_pca_fit_matches_numpy_and_is_partitioning_invariant(spark):
    import numpy as np
    from pyspark.sql import Row

    from lakehouse_tools_spark.ext.similarity import pca_fit

    rng = np.random.RandomState(11)
    # anisotropic cloud: variance concentrated along a known axis
    base = rng.normal(0, 1, size=(200, 6))
    base[:, 0] *= 4.0
    base[:, 1] *= 2.0
    vecs = (base / 10.0).astype(np.float32)
    rows = [Row(embedding=[float(x) for x in v]) for v in vecs]
    df = spark.createDataFrame(rows, "embedding array<float>")

    comps, vals, ratios, n = pca_fit(df.repartition(7), "embedding", k=3)
    comps2, vals2, _, _ = pca_fit(df.repartition(3), "embedding", k=3)
    # bit-identical across partitionings: integer Gram sums are
    # associative, so LAPACK sees the same matrix
    assert vals == vals2 and comps == comps2
    assert n == 200

    q = np.floor(vecs.astype(np.float64) * (1 << 20)) / (1 << 20)
    cov = np.cov(q, rowvar=False, ddof=1)
    ev, _ = np.linalg.eigh(cov)
    expected = sorted(ev, reverse=True)[:3]
    for got, exp in zip(vals, expected):
        assert abs(got - exp) < 1e-9
    # ratios are eigenvalue shares of total variance
    assert abs(sum(ratios) - sum(expected) / np.trace(cov)) < 1e-9
    # orthonormal components, sign pinned to positive peak coordinate
    C = np.array(comps)
    assert np.allclose(C @ C.T, np.eye(3), atol=1e-9)
    for c in C:
        assert c[int(np.argmax(np.abs(c)))] > 0


def test_pca_project_literal_matrix(spark):
    from pyspark.sql import Row

    from lakehouse_tools_spark.ext.similarity import pca_project

    df = spark.createDataFrame(
        [Row(embedding=[1.0, 0.0, 2.0]), Row(embedding=[0.0, 3.0, 1.0])],
        "embedding array<float>",
    )
    comps = [[1.0, 0.0, 0.0], [0.0, 0.5, 0.5]]
    out = {tuple(r.proj) for r in pca_project(df, "embedding", comps).collect()}
    assert out == {(1.0, 1.0), (0.0, 2.0)}


def test_quantized_covariance_guards_empty_and_single_row(spark):
    import pytest

    from lakehouse_tools_spark.ext.similarity import quantized_covariance

    empty = spark.createDataFrame([], "embedding array<double>")
    with pytest.raises(ValueError, match="no rows"):
        quantized_covariance(empty, "embedding")
    with pytest.raises(ValueError, match=">= 2 rows"):
        quantized_covariance(empty, "embedding", dims=(0, 1))
    one = spark.createDataFrame([([1.0, 2.0],)], "embedding array<double>")
    with pytest.raises(ValueError, match=">= 2 rows"):
        quantized_covariance(one, "embedding")


def test_quantized_trace_equals_diagonal_sum_and_guards(spark):
    import numpy as np
    import pytest

    from lakehouse_tools_spark.ext.similarity import (
        quantized_covariance,
        quantized_trace,
    )

    rng = np.random.RandomState(7)
    data = [(rng.randn(6).tolist(),) for _ in range(40)]
    df = spark.createDataFrame(data, "embedding array<double>")
    row = quantized_trace(df, "embedding").first()
    assert row["n_rows"] == 40 and row["dim"] == 6
    diag = sum(
        r["cov"]
        for r in quantized_covariance(df, "embedding").collect()
        if r["dim_i"] == r["dim_j"]
    )
    # same quantized statistic; the two closing chains differ only in
    # float association, so agree to ~1e-9
    assert abs(row["trace9"] - diag) <= 1e-7
    # partitioning invariance is BIT-exact (integer sums)
    assert (
        quantized_trace(df.repartition(9), "embedding").first()["trace9"]
        == row["trace9"]
    )
    empty = spark.createDataFrame([], "embedding array<double>")
    with pytest.raises(ValueError, match="no rows"):
        quantized_trace(empty, "embedding")
    with pytest.raises(ValueError, match=">= 2 rows"):
        quantized_trace(empty, "embedding", dims=(0,))


def test_quantized_covariance_strategies_bit_identical(spark):
    import numpy as np
    import pytest

    from lakehouse_tools_spark.ext.similarity import quantized_covariance

    rng = np.random.RandomState(11)
    df = spark.createDataFrame(
        [(rng.randn(12).tolist(),) for _ in range(60)],
        "embedding array<double>",
    )
    dims = tuple(range(12))
    agg = sorted(
        map(tuple, quantized_covariance(df, "embedding", dims, strategy="agg").collect())
    )
    gram = sorted(
        map(tuple, quantized_covariance(df, "embedding", dims, strategy="gram").collect())
    )
    assert agg == gram  # bit-identical closing arithmetic
    # auto picks gram above d=8; still identical by construction
    auto = sorted(
        map(tuple, quantized_covariance(df, "embedding", dims).collect())
    )
    assert auto == agg
    with pytest.raises(ValueError, match="strategy"):
        quantized_covariance(df, "embedding", dims, strategy="nope")


def test_quantized_covariance_bad_input_fails_identically(spark):
    """Both physical strategies reject null vectors and out-of-range
    dims with the SAME clear driver-side ValueError — pre-guard, agg
    silently emitted null covariances while gram died with an opaque
    numpy error inside the executor."""
    import numpy as np
    import pytest

    from pyspark.sql import functions as F

    from lakehouse_tools_spark.ext.similarity import quantized_covariance

    rng = np.random.RandomState(3)
    df = spark.createDataFrame(
        [(i, rng.randn(4).tolist()) for i in range(10)],
        "vec_id long, embedding array<double>",
    )
    withnull = df.withColumn(
        "embedding",
        F.when(F.col("vec_id") == 7, F.lit(None)).otherwise(
            F.col("embedding")
        ),
    )
    for strat in ("agg", "gram"):
        with pytest.raises(ValueError, match="null 'embedding'"):
            quantized_covariance(
                withnull, "embedding", dims=(0, 1), strategy=strat
            )
        with pytest.raises(ValueError, match="out of range"):
            quantized_covariance(df, "embedding", dims=(0, 17), strategy=strat)


def test_pca_fit_full_stats_trace_bit_matches_quantized_trace(spark):
    import numpy as np

    from lakehouse_tools_spark.ext.similarity import pca_fit, quantized_trace

    rng = np.random.RandomState(3)
    df = spark.createDataFrame(
        [(rng.randn(10).tolist(),) for _ in range(50)],
        "embedding array<double>",
    )
    comps, vals, ratios, n, stats = pca_fit(
        df, "embedding", k=10, full_stats=True
    )
    row = quantized_trace(df, "embedding").first()
    # same integer sums, same closing chain -> bit-equal
    assert stats["trace9"] == row["trace9"]
    assert abs(sum(vals) - stats["trace9"]) <= 1e-6
    mu = np.array(stats["mean"])
    true_mu = np.stack([r["embedding"] for r in df.collect()]).mean(axis=0)
    assert np.abs(mu - true_mu).max() <= 2.0 / (1 << 20)

