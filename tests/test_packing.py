"""Sequence packing (ext/packing.py)."""

from __future__ import annotations

from collections import defaultdict

from pyspark.sql import functions as F

from lakehouse_tools_spark.ext.packing import pack_bins, pack_chunks

DOCS = [(i, 10 * i % 97 + 1) for i in range(1, 101)]  # lengths 1..97
SCHEMA = "doc_id long, n long"


def _first_fit_scan(lengths, budget: int) -> list:
    """Reference first-fit: scan open bins left-to-right, place in the
    first with room, else open a new bin (oversize docs open a bin and
    land there regardless). O(n × open bins) — kept ONLY as the
    semantic reference the tree variant is pinned against in tests;
    the packing operator itself uses :func:`_first_fit_tree`.
    """
    fills: list = []  # fill level per open bin
    assigned = []
    for ln in lengths:
        placed = None
        for i, fill in enumerate(fills):
            if fill + ln <= budget:
                placed = i
                break
        if placed is None:
            fills.append(0)
            placed = len(fills) - 1
        fills[placed] += ln
        assigned.append(placed)
    return assigned


def test_pack_chunks_covers_every_doc_exactly(spark):
    docs = spark.createDataFrame(DOCS, SCHEMA)
    out = pack_chunks(docs, "doc_id", "n", budget=128, num_buckets=4).collect()
    per_doc = defaultdict(int)
    for r in out:
        assert r.frag_len > 0
        assert 0 <= r.frag_start
        per_doc[r.doc_id] += r.frag_len
    want = dict(DOCS)
    assert per_doc == want  # fragments tile each document exactly


def test_pack_chunks_sequences_are_full(spark):
    docs = spark.createDataFrame(DOCS, SCHEMA)
    out = pack_chunks(docs, "doc_id", "n", budget=128, num_buckets=4).collect()
    seq_fill = defaultdict(int)
    for r in out:
        seq_fill[(r.bucket, r.seq_id)] += r.frag_len
    last = {}
    for (b, s), _ in seq_fill.items():
        last[b] = max(last.get(b, -1), s)
    for (b, s), fill in seq_fill.items():
        if s < last[b]:
            assert fill == 128, f"non-tail sequence ({b},{s}) underfilled: {fill}"
        else:
            assert 0 < fill <= 128


def test_pack_chunks_drops_zero_length(spark):
    docs = spark.createDataFrame([(1, 0), (2, 5)], SCHEMA)
    out = pack_chunks(docs, "doc_id", "n", budget=10).collect()
    assert {r.doc_id for r in out} == {2}


def test_pack_bins_each_doc_once_and_capacity(spark):
    docs = spark.createDataFrame(DOCS, SCHEMA)
    out = pack_bins(docs, "doc_id", "n", budget=150, num_buckets=4).collect()
    assert sorted(r.doc_id for r in out) == sorted(d for d, _ in DOCS)
    fills = defaultdict(int)
    for r in out:
        fills[(r.bucket, r.bin_id)] += r.n
    assert all(f <= 150 for f in fills.values())


def test_pack_bins_oversize_doc_gets_own_bin(spark):
    docs = spark.createDataFrame([(1, 500), (2, 10), (3, 20)], SCHEMA)
    out = pack_bins(docs, "doc_id", "n", budget=100, num_buckets=1).collect()
    by_bin = defaultdict(list)
    for r in out:
        by_bin[r.bin_id].append(r.doc_id)
    bins_of_1 = [b for b, members in by_bin.items() if 1 in members]
    assert by_bin[bins_of_1[0]] == [1]  # the oversize doc sits alone
    assert sorted(r.doc_id for r in out) == [1, 2, 3]


def test_pack_bins_deterministic(spark):
    docs = spark.createDataFrame(DOCS, SCHEMA)
    a = sorted(map(tuple, pack_bins(docs, "doc_id", "n", 150, 4).collect()))
    b = sorted(
        map(tuple, pack_bins(docs.repartition(7), "doc_id", "n", 150, 4).collect())
    )
    assert a == b


def test_first_fit_tree_matches_scan_reference():
    """The O(n log n) segment-tree first-fit must be bit-identical to
    the naive open-bin scan on adversarial shapes: sorted-desc (the
    operator's order), unsorted, ties, oversize docs, exact fits,
    all-equal, and a large pseudo-random stream."""
    from lakehouse_tools_spark.ext.packing import _first_fit_tree

    cases = [
        ([], 100),
        ([5], 100),
        ([500, 20, 10], 100),  # oversize first (operator order)
        ([10, 500, 20, 700, 5], 100),  # oversize mid-stream
        ([50, 50, 50, 50], 100),  # exact fits
        ([97, 96, 95, 3, 4, 5, 2, 1], 100),  # tight tail fills
        ([1] * 200, 7),
        ([100] * 50, 100),
        (sorted((37 * i % 120 + 1 for i in range(2000)), reverse=True), 128),
        ([37 * i % 300 + 1 for i in range(2000)], 128),  # incl. oversize mix
    ]
    for lengths, budget in cases:
        assert _first_fit_tree(lengths, budget) == _first_fit_scan(
            lengths, budget
        ), (len(lengths), budget)


def test_first_fit_tree_matches_scan_property():
    """Property form of the equivalence pin: arbitrary length streams
    (including oversize and zero-ish lengths) and budgets."""
    from hypothesis import given, settings, strategies as st

    from lakehouse_tools_spark.ext.packing import _first_fit_tree

    @settings(max_examples=200, deadline=None)
    @given(
        lengths=st.lists(st.integers(min_value=1, max_value=400), max_size=300),
        budget=st.integers(min_value=1, max_value=256),
    )
    def check(lengths, budget):
        assert _first_fit_tree(lengths, budget) == _first_fit_scan(lengths, budget)

    check()


def test_pack_chunks_plan_is_window_no_join(spark):
    docs = spark.createDataFrame(DOCS, SCHEMA)
    plan = pack_chunks(docs, "doc_id", "n", 128)._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan  # one window + explode, no join/self-join
