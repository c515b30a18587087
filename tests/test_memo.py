"""functions/memo.py: driver-side Column-bundle memoization."""

from __future__ import annotations

from pyspark.sql import functions as F


def test_expr_memo_returns_same_bundle_and_respects_key(spark):
    from lakehouse_tools_spark.functions.memo import expr_memo

    calls = []

    def build_a():
        calls.append("a")
        return [F.lit(1).alias("x")]

    b1 = expr_memo(("t", "k1"), build_a)
    b2 = expr_memo(("t", "k1"), build_a)
    assert b1 is b2  # memo hit: identical objects, builder ran once
    assert calls == ["a"]
    b3 = expr_memo(("t", "k2"), lambda: [F.lit(2).alias("y")])
    assert b3 is not b1


def test_memoized_operators_identical_across_calls(spark, tables):
    # the memoized profile/upsert bundles must produce the same rows
    # on the second call (which serves cached Columns) as the first
    from lakehouse_tools_spark.operators.merge import upsert
    from lakehouse_tools_spark.operators.profile import (
        profile_summary,
        profile_table,
    )

    li = tables["nation"]
    r1 = sorted(map(tuple, profile_table(li, "db", "nation").collect()))
    r2 = sorted(map(tuple, profile_table(li, "db", "nation").collect()))
    assert r1 == r2
    s1 = sorted(map(tuple, profile_summary(li, "db", "nation").collect()))
    s2 = sorted(map(tuple, profile_summary(li, "db", "nation").collect()))
    assert s1 == s2

    tgt = tables["region"].limit(3)
    src = tables["region"]
    m1 = sorted(map(tuple, upsert(tgt, src, ["r_regionkey"]).collect()))
    m2 = sorted(map(tuple, upsert(tgt, src, ["r_regionkey"]).collect()))
    assert m1 == m2
    assert len(m1) == src.count()


def test_fields_key_distinguishes_types(spark, tables):
    from lakehouse_tools_spark.functions.memo import fields_key

    a = fields_key(tables["nation"].schema.fields)
    b = fields_key(tables["region"].schema.fields)
    assert a != b
    assert a == fields_key(tables["nation"].schema.fields)


def test_dedup_bundles_memoized_and_stable(spark):
    # r12 §12: the parameter-only expression bundles in ext.dedup
    # (simhash bit sums + pack, minhash aggs/stack, LSH band rows)
    # are served from the memo on repeat calls and give identical
    # results call-over-call.
    from pyspark.sql import Row

    from lakehouse_tools_spark.ext.dedup import (
        minhash_signatures,
        simhash,
    )
    from lakehouse_tools_spark.functions import memo

    df = spark.createDataFrame(
        [Row(doc_id=i, text=f"alpha beta gamma doc {i % 3}") for i in range(9)]
    )
    s1 = sorted(map(tuple, simhash(df, "text", "doc_id").collect()))
    keys = [
        k
        for per in memo._MEMO.values()
        for k in per
        if k and k[0] == "simhash_bits"
    ]
    assert ("simhash_bits", 32) in keys
    s2 = sorted(map(tuple, simhash(df, "text", "doc_id").collect()))
    assert s1 == s2

    m1 = sorted(
        map(tuple, minhash_signatures(df, "text", "doc_id").collect())
    )
    m2 = sorted(
        map(tuple, minhash_signatures(df, "text", "doc_id").collect())
    )
    assert m1 == m2
    mk = [
        k
        for per in memo._MEMO.values()
        for k in per
        if k and k[0] == "minhash_wide_aggs"
    ]
    assert ("minhash_wide_aggs", 8) in mk


def test_memo_dead_gateway_entries_evicted():
    # VERDICT r12 item 8: the memo weak-keys on the gateway, so
    # bundles built against a dead JVM are released when the gateway
    # object is garbage-collected — no unbounded growth across
    # session restarts in one process.
    import gc

    from lakehouse_tools_spark.functions import memo

    class FakeGateway:
        pass

    gw = FakeGateway()
    memo._MEMO[gw] = {("dead-key",): "bundle"}
    assert any(("dead-key",) in per for per in memo._MEMO.values())
    del gw
    gc.collect()
    assert not any(("dead-key",) in per for per in memo._MEMO.values())


def test_ivf_cell_memo_keeps_one_bundle_per_vec_col(spark):
    # every Lloyd iteration assigns against a NEW centroid set; the
    # memo must replace the vec_col's bundle, not add one per set
    from pyspark.sql import Row

    from lakehouse_tools_spark.ext.similarity import kmeans_refine_centroids
    from lakehouse_tools_spark.functions import memo

    corpus = spark.createDataFrame(
        [
            Row(vec_id=i, embedding=[float(i % 5), float(i % 3) + 1.0, 1.0])
            for i in range(30)
        ]
    )
    cents = [[1.0, 0.0, 0.0], [0.0, 1.0, 0.0], [0.0, 0.0, 1.0]]
    kmeans_refine_centroids(corpus, cents, iters=6)
    kmeans_refine_centroids(corpus, [[1.0, 1.0, 0.0], [0.0, 1.0, 1.0]], iters=5)
    keys = [
        k
        for per in memo._MEMO.values()
        for k in per
        if k and k[0] == "with_ivf_cell"
    ]
    per_col: dict = {}
    for k in keys:
        per_col[k[1]] = per_col.get(k[1], 0) + 1
    assert per_col and max(per_col.values()) <= 1
