"""Deletion-neighborhood-blocked edit-distance join (ext/fuzzy.py)."""

from __future__ import annotations

import pytest
from pyspark.sql import DataFrame, Row
from pyspark.sql import functions as F

from lakehouse_tools_spark.ext.fuzzy import edit_distance_join


def edit_distance_join_bruteforce(
    left: DataFrame,
    right: DataFrame,
    left_key: str,
    right_key: str,
    left_col: str,
    right_col: str,
    max_distance: int = 1,
) -> DataFrame:
    """The O(n·m) reference form (cross join + residual) — the recall
    baseline the blocked join is tested against. Never the scale
    path."""
    l = left.select(F.col(left_key).alias("_lk"), F.col(left_col).alias("_ls"))
    r = right.select(F.col(right_key).alias("_rk"), F.col(right_col).alias("_rs"))
    return (
        l.crossJoin(r)
        .select(
            F.col("_lk").alias(left_key),
            F.col("_rk").alias(right_key),
            F.levenshtein(F.col("_ls"), F.col("_rs")).alias("distance"),
        )
        .filter(F.col("distance") <= max_distance)
    )


def _mk(spark, vals, key="id", col="s"):
    return spark.createDataFrame([Row(**{key: i, col: v}) for i, v in vals])


NAMES = [
    (1, "johnathan smith"),
    (2, "jonathan smith"),
    (3, "jonathan smyth"),
    (4, "maria garcia"),
    (5, "mara garcia"),
    (6, "al"),          # short: few deletion variants
    (7, "ak"),
    (8, "alx"),
    (9, "completely different"),
    (10, "banana banana"),   # repeated substrings: many equal
    (11, "banana bananas"),  # deletion variants per string
    (12, "Supplier#000000001"),  # shared-prefix family: the case
    (13, "Supplier#000000002"),  # positional blocking keeps linear
    (14, "Supplier#000000011"),
]
PROBES = [
    (101, "jonathan smith"),
    (102, "maria garcia"),
    (103, "al"),
    (104, "xy"),
    (105, "jonathan smithe"),
    (106, "banana banana"),
    (107, "Supplier#000000001"),
    (108, "Supplier#000000101"),
]


@pytest.mark.parametrize("k", [1, 2])
def test_blocked_equals_bruteforce(spark, k):
    left = _mk(spark, NAMES)
    right = _mk(spark, PROBES)
    blocked = {
        (r.id, r.id_r, r.distance)
        for r in edit_distance_join(
            left,
            right.withColumnRenamed("id", "id_r"),
            "id",
            "id_r",
            "s",
            "s",
            max_distance=k,
        ).collect()
    }
    brute = {
        (r.id, r.id_r, r.distance)
        for r in edit_distance_join_bruteforce(
            left,
            right.withColumnRenamed("id", "id_r"),
            "id",
            "id_r",
            "s",
            "s",
            max_distance=k,
        ).collect()
    }
    assert blocked == brute
    assert brute  # sanity: fixture produces matches


def test_exact_match_distance_zero(spark):
    left = _mk(spark, [(1, "hello world")])
    right = _mk(spark, [(2, "hello world")])
    out = edit_distance_join(
        left, right.withColumnRenamed("id", "id_r"), "id", "id_r", "s", "s", 1
    ).collect()
    assert [(r.id, r.id_r, r.distance) for r in out] == [(1, 2, 0)]


def test_no_cartesian_in_plan(spark):
    left = _mk(spark, NAMES)
    right = _mk(spark, PROBES).withColumnRenamed("id", "id_r")
    plan = (
        edit_distance_join(left, right, "id", "id_r", "s", "s", 1)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_duplicate_keys_do_not_lose_matches(spark):
    """Non-unique join keys: blocking runs on distinct strings, so two
    strings under one key each keep their own matches when the keys
    are expanded back."""
    # two long strings share key 1; each matches a different probe
    left = _mk(
        spark,
        [
            (1, "johnathan smith"),
            (1, "margarita sanchez"),
            (2, "unrelated string here"),
        ],
    )
    right = _mk(
        spark,
        [(101, "jonathan smith"), (102, "margarita sanches")],
        key="rid",
        col="t",
    )
    got = {
        (r.id, r.rid, r.distance)
        for r in edit_distance_join(
            left, right, "id", "rid", "s", "t", max_distance=1
        ).collect()
    }
    want = {
        (r.id, r.rid, r.distance)
        for r in edit_distance_join_bruteforce(
            left, right, "id", "rid", "s", "t", max_distance=1
        ).collect()
    }
    assert got == want
    assert (1, 101, 1) in got and (1, 102, 1) in got


def test_duplicate_strings_expand_to_all_key_pairs(spark):
    """Dedup-first blocking must re-expand to full row multiplicity:
    the same string on 3 left rows and 2 right rows yields 6 output
    pairs, and the residual ran once per distinct string pair."""
    left = _mk(spark, [(1, "acme corp"), (2, "acme corp"), (3, "acme corp")])
    right = _mk(
        spark, [(101, "acme corp"), (102, "acme corq")], key="rid", col="t"
    )
    got = sorted(
        (r.id, r.rid, r.distance)
        for r in edit_distance_join(
            left, right, "id", "rid", "s", "t", max_distance=1
        ).collect()
    )
    want = sorted(
        [(i, 101, 0) for i in (1, 2, 3)] + [(i, 102, 1) for i in (1, 2, 3)]
    )
    assert got == want


def test_zero_length_and_unit_length_strings(spark):
    """Empty/one-char edges: ''=='' at distance 0, ''~'a' at 1, and
    one-char substitutions — all reachable only through the eq /
    length-diff branches."""
    left = _mk(spark, [(1, ""), (2, "a"), (3, "b")])
    right = _mk(spark, [(101, ""), (102, "a"), (103, "ab")], key="rid", col="t")
    got = {
        (r.id, r.rid, r.distance)
        for r in edit_distance_join(
            left, right, "id", "rid", "s", "t", max_distance=1
        ).collect()
    }
    want = {
        (r.id, r.rid, r.distance)
        for r in edit_distance_join_bruteforce(
            left, right, "id", "rid", "s", "t", max_distance=1
        ).collect()
    }
    assert got == want
    assert (1, 101, 0) in got and (1, 102, 1) in got and (2, 103, 1) in got
