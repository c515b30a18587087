"""Connected components / duplicate clustering (ext/graph.py).

The tree-contraction union-find (``connected_components_contract``)
runs every structural test and is checked against a pure-Python
union-find on a random graph.
"""

from __future__ import annotations

import pytest

from lakehouse_tools_spark.ext.graph import (
    cluster_representatives,
    connected_components_contract,
)

IMPLS = {"contract": connected_components_contract}


def _cc(spark, edges, vertices, impl=connected_components_contract):
    e = spark.createDataFrame(edges or [(None, None)], "doc_id long, doc_id2 long")
    if not edges:
        e = e.filter("doc_id is not null")
    v = spark.createDataFrame([(x,) for x in vertices], "doc_id long")
    return {
        (r.doc_id, r.cluster_id)
        for r in impl(e, v).collect()
    }


@pytest.mark.parametrize("impl", IMPLS.values(), ids=IMPLS.keys())
def test_two_components_and_singleton(spark, impl):
    got = _cc(spark, [(1, 2), (2, 3), (10, 11)], [1, 2, 3, 10, 11, 99], impl)
    assert got == {(1, 1), (2, 1), (3, 1), (10, 10), (11, 10), (99, 99)}


@pytest.mark.parametrize("impl", IMPLS.values(), ids=IMPLS.keys())
def test_chain_needs_multiple_rounds(spark, impl):
    # a path graph: min label must walk the whole chain
    chain = [(i, i + 1) for i in range(1, 8)]
    got = _cc(spark, chain, list(range(1, 9)), impl)
    assert got == {(i, 1) for i in range(1, 9)}


@pytest.mark.parametrize("impl", IMPLS.values(), ids=IMPLS.keys())
def test_edge_order_and_direction_irrelevant(spark, impl):
    a = _cc(spark, [(5, 2), (2, 9)], [2, 5, 9], impl)
    b = _cc(spark, [(9, 2), (2, 5)], [2, 5, 9], impl)
    assert a == b == {(2, 2), (5, 2), (9, 2)}


@pytest.mark.parametrize("impl", IMPLS.values(), ids=IMPLS.keys())
def test_no_edges_all_singletons(spark, impl):
    got = _cc(spark, [], [1, 2, 3], impl)
    assert got == {(1, 1), (2, 2), (3, 3)}


def test_impls_agree_on_random_graph(spark):
    # pseudo-random sparse graph: chains, stars, and cross links
    import random

    rng = random.Random(7)
    n = 200
    edges = [(rng.randrange(n), rng.randrange(n)) for _ in range(150)]
    edges = [(a, b) for a, b in edges if a != b]
    verts = list(range(n))
    parent = {v: v for v in verts}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for u, v in edges:
        ru, rv = sorted((find(u), find(v)))
        parent[rv] = ru
    want = {(v, find(v)) for v in verts}
    assert _cc(spark, edges, verts) == want


def test_contract_string_ids(spark):
    e = spark.createDataFrame(
        [("b", "c"), ("a", "b"), ("x", "y")], "doc_id string, doc_id2 string"
    )
    v = spark.createDataFrame(
        [("a",), ("b",), ("c",), ("x",), ("y",), ("z",)], "doc_id string"
    )
    got = {
        (r.doc_id, r.cluster_id)
        for r in connected_components_contract(e, v).collect()
    }
    assert got == {
        ("a", "a"),
        ("b", "a"),
        ("c", "a"),
        ("x", "x"),
        ("y", "x"),
        ("z", "z"),
    }


def test_cluster_representatives(spark):
    e = spark.createDataFrame([(1, 2), (2, 3)], "doc_id long, doc_id2 long")
    v = spark.createDataFrame([(x,) for x in [1, 2, 3, 9]], "doc_id long")
    assign = connected_components_contract(e, v)
    reps = {r.doc_id for r in cluster_representatives(assign).collect()}
    assert reps == {1, 9}


def test_pagerank_probability_and_hubs(spark):
    from pyspark.sql import Row

    from lakehouse_tools_spark.ext.graph import pagerank

    # star graph: hub 0 connected to 1..4 (symmetrized), plus an
    # isolated vertex 5
    edges = []
    for i in range(1, 5):
        edges.append(Row(src=0, dst=i))
        edges.append(Row(src=i, dst=0))
    verts = spark.createDataFrame([Row(id=i) for i in range(6)])
    e = spark.createDataFrame(edges)
    out = {r.id: r.pagerank for r in pagerank(
        verts, e, id_col="id", src_col="src", dst_col="dst", iters=5
    ).collect()}
    # ranks approximately sum to 1 (floor truncation loses <6e-6)
    assert abs(sum(out.values()) - 1.0) < 1e-4
    # the hub dominates every leaf; leaves tie; isolated is lowest
    assert out[0] > out[1] > out[5]
    assert out[1] == out[2] == out[3] == out[4]


def test_pagerank_uniform_on_cycle(spark):
    from pyspark.sql import Row

    from lakehouse_tools_spark.ext.graph import pagerank

    n = 4
    e = spark.createDataFrame(
        [Row(src=i, dst=(i + 1) % n) for i in range(n)]
    )
    verts = spark.createDataFrame([Row(id=i) for i in range(n)])
    out = {r.id: r.pagerank for r in pagerank(
        verts, e, id_col="id", src_col="src", dst_col="dst", iters=4
    ).collect()}
    # symmetric cycle: stationary distribution is uniform from the
    # uniform start, every iteration preserves it exactly
    assert len(set(out.values())) == 1
    assert abs(out[0] - 0.25) < 1e-5


def test_triangle_counts_counts_each_triangle_once(spark):
    from pyspark.sql import Row

    from lakehouse_tools_spark.ext.graph import triangle_counts

    # K4 on {1,2,3,4} (4 triangles, every vertex in 3) plus a
    # triangle-free path 5-6-7; edges given in mixed orientation with
    # a duplicate to exercise canonicalization
    edges = [
        (1, 2), (1, 3), (1, 4), (3, 2), (2, 4), (4, 3),
        (2, 1),  # duplicate, reversed
        (5, 6), (7, 6),
    ]
    df = spark.createDataFrame(
        [Row(src=a, dst=b) for a, b in edges], "src long, dst long"
    )
    out = {r.node: r.n_triangles for r in triangle_counts(df).collect()}
    # triangle-free vertices (the path 5-6-7) are present with 0 —
    # they are exactly the hubs the operator exists to flag
    assert out == {1: 3, 2: 3, 3: 3, 4: 3, 5: 0, 6: 0, 7: 0}
