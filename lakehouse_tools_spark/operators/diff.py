"""Snapshot diff — the change-data-feed between two table versions.

Delta's CDF (``table_changes``) answers "what changed between version
A and B": inserts, deletes, and updates as pre/post image pairs. On a
plain-parquet backend the same answer comes from ONE full-outer join
of the two snapshots on the key — the merge engine's join shape
(operators/merge.py), reused for reads. Emitting pre+post update rows
without a second scan is a ``when(...)`` that builds a 0-, 1- or
2-element array of (change_type, row-struct) and explodes it — the
explode multiplies only changed keys, so output volume tracks churn,
not table size.

At scale: the join shuffles both snapshots on the key once; the
row-compare is a codegen'd null-safe conjunction, no UDF anywhere.

Change types follow Delta CDF naming: ``insert``,
``update_preimage``, ``update_postimage``, ``delete``.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from lakehouse_tools_spark.functions.portable import _col

CHANGE_COL = "_change_type"


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    keys: list[str],
    compare_cols: list[str] | None = None,
) -> DataFrame:
    """Rows that differ between ``old`` and ``new``, with Delta-CDF
    change types. Output schema: the snapshots' columns +
    ``_change_type``; update rows appear twice (pre + post image).

    ``compare_cols`` narrows which non-key columns define an update
    (default: all of them). Unchanged keys are dropped — at 100 TB
    the diff's output is proportional to churn, and the
    null-rejecting filter lets the optimizer skip materializing
    unchanged rows early.
    """
    if set(old.columns) != set(new.columns):
        raise ValueError(
            f"snapshot schemas differ: {old.columns} vs {new.columns}"
        )
    cols = old.columns
    value_cols = [c for c in cols if c not in keys]
    compare = compare_cols if compare_cols is not None else value_cols
    bad = set(compare) - set(value_cols)
    if bad:
        raise ValueError(f"compare_cols not non-key columns: {sorted(bad)}")

    o = old.select(
        F.lit(1).alias("_o_present"),
        *[_col(c).alias(f"_o_{c}") for c in cols],
    )
    n = new.select(
        F.lit(1).alias("_n_present"),
        *[_col(c).alias(f"_n_{c}") for c in cols],
    )
    cond = reduce(
        lambda a, b: a & b,
        [_col(f"_o_{k}").eqNullSafe(_col(f"_n_{k}")) for k in keys],
    )
    j = o.join(n, cond, "full_outer")

    def image(side: str, tag: str) -> Column:
        return F.struct(
            F.lit(tag).alias(CHANGE_COL),
            *[_col(f"_{side}_{c}").alias(c) for c in cols],
        )

    changed: Column | None = None
    for c in compare:
        d = ~_col(f"_o_{c}").eqNullSafe(_col(f"_n_{c}"))
        changed = d if changed is None else (changed | d)
    if changed is None:  # key-only table: matched rows can never differ
        changed = F.lit(False)

    # the otherwise-branch (unchanged key) must be an EMPTY array of
    # the same struct type; slice(arr, 1, 0) builds one without
    # spelling the type out
    events = (
        F.when(F.col("_o_present").isNull(), F.array(image("n", "insert")))
        .when(F.col("_n_present").isNull(), F.array(image("o", "delete")))
        .when(
            changed,
            F.array(image("o", "update_preimage"), image("n", "update_postimage")),
        )
        .otherwise(F.slice(F.array(image("o", "x")), 1, 0))
    )
    return (
        j.select(F.explode(events).alias("_e"))
        .select(F.col(f"_e.{CHANGE_COL}").alias(CHANGE_COL), *[F.col("_e")[c].alias(c) for c in cols])
    )


def to_change_feed(diff: DataFrame, sequence: int) -> DataFrame:
    """Net op-coded CDC feed from a snapshot diff: update preimages
    dropped (the postimage carries the new values), insert /
    update_postimage → ``op='U'``, delete → ``op='D'`` (the deleted
    key's last-known image travels with it), every row tagged with
    the batch's ``sequence`` position in ``_seq``.

    This closes the CDC loop: ``apply_changes_into(old,
    to_change_feed(snapshot_diff(old, new, keys), n), keys, '_seq')``
    reconstructs ``new`` exactly (pinned in tests/test_diff.py and
    driver-verified by ``cdc_roundtrip``) — so a parquet-backend
    pipeline can SHIP diffs instead of snapshots, output ∝ churn."""
    ct = F.col(CHANGE_COL)
    return (
        diff.filter(ct != "update_preimage")
        .withColumn("op", F.when(ct == "delete", "D").otherwise(F.lit("U")))
        .withColumn("_seq", F.lit(sequence))
        .drop(CHANGE_COL)
    )
