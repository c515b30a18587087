"""SCD Type 2 — slowly-changing-dimension history maintenance.

The other half of the lakehouse MERGE family (operators/merge.py is
Type 1, overwrite-in-place): Type 2 keeps every historical version of
a dimension row with a validity interval. Applying a new snapshot at
effective time T:

- changed attrs  → close the current row (``valid_to = T``,
  ``is_current = false``) AND insert the new version
  (``valid_from = T``, open-ended, current)
- new key        → insert a first version
- unchanged key  → row untouched
- key absent from the snapshot → untouched by default;
  ``close_missing=True`` closes it at T (full-snapshot semantics:
  disappearance means deletion).

Shape: history rows pass through untouched; the current slice
full-outer-joins the snapshot ONCE (the merge engine's join), and a
``when()``-built event array explodes into 0/1/2 output rows per key
— the same churn-proportional pattern as operators/diff.py. All
codegen, no UDF; the one shuffle is the key join (zero if dimension
and snapshot are bucketed on the key).

The validity columns (``valid_from``, ``valid_to``, ``is_current``)
are the operator's contract; ``valid_to`` is NULL while open —
point-in-time lookups are ``valid_from <= t AND (valid_to IS NULL OR
t < valid_to)`` (half-open intervals, so versions tile without
overlap).
"""

from __future__ import annotations

import datetime as _dt
from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from lakehouse_tools_spark.functions.portable import _col

VALID_FROM = "valid_from"
VALID_TO = "valid_to"
IS_CURRENT = "is_current"
_META = (VALID_FROM, VALID_TO, IS_CURRENT)


def scd2_init(snapshot: DataFrame, effective_ts: _dt.datetime) -> DataFrame:
    """Bootstrap a Type-2 dimension from a first snapshot: every row
    becomes version 1, open-ended, current."""
    return snapshot.select(
        "*",
        F.lit(effective_ts).cast("timestamp").alias(VALID_FROM),
        F.lit(None).cast("timestamp").alias(VALID_TO),
        F.lit(True).alias(IS_CURRENT),
    )


def scd2_apply(
    dim: DataFrame,
    snapshot: DataFrame,
    keys: list[str],
    effective_ts: _dt.datetime,
    compare_cols: list[str] | None = None,
    close_missing: bool = False,
) -> DataFrame:
    """Apply ``snapshot`` (keys + attributes, no validity columns) to
    a Type-2 ``dim`` at time ``effective_ts``; returns the new full
    dimension. ``compare_cols`` narrows which attributes constitute a
    change (default: all non-key snapshot columns)."""
    attr_cols = [c for c in snapshot.columns]
    missing_meta = [c for c in _META if c not in dim.columns]
    if missing_meta:
        raise ValueError(f"dim lacks SCD2 columns: {missing_meta}")
    if set(dim.columns) - set(_META) != set(attr_cols):
        raise ValueError(
            f"dim/snapshot attribute mismatch: "
            f"{sorted(set(dim.columns) - set(_META))} vs {sorted(attr_cols)}"
        )
    value_cols = [c for c in attr_cols if c not in keys]
    compare = compare_cols if compare_cols is not None else value_cols
    bad = set(compare) - set(value_cols)
    if bad:
        raise ValueError(f"compare_cols not non-key attributes: {sorted(bad)}")

    ts = F.lit(effective_ts).cast("timestamp")
    history = dim.filter(~F.col(IS_CURRENT))
    current = dim.filter(F.col(IS_CURRENT))

    c = current.select(
        F.lit(1).alias("_c_present"),
        *[_col(x).alias(f"_c_{x}") for x in attr_cols + [VALID_FROM]],
    )
    s = snapshot.select(
        F.lit(1).alias("_s_present"),
        *[_col(x).alias(f"_s_{x}") for x in attr_cols],
    )
    cond = reduce(
        lambda a, b: a & b,
        [_col(f"_c_{k}").eqNullSafe(_col(f"_s_{k}")) for k in keys],
    )
    j = c.join(s, cond, "full_outer")

    changed: Column = F.lit(False)
    for x in compare:
        changed = changed | ~_col(f"_c_{x}").eqNullSafe(_col(f"_s_{x}"))

    def row(side: str, vfrom: Column, vto: Column, cur: Column) -> Column:
        return F.struct(
            *[_col(f"_{side}_{x}").alias(x) for x in attr_cols],
            vfrom.alias(VALID_FROM),
            vto.alias(VALID_TO),
            cur.alias(IS_CURRENT),
        )

    null_ts = F.lit(None).cast("timestamp")
    keep_old = row("c", _col(f"_c_{VALID_FROM}"), null_ts, F.lit(True))
    closed_old = row("c", _col(f"_c_{VALID_FROM}"), ts, F.lit(False))
    new_version = row("s", ts, null_ts, F.lit(True))

    events = (
        # new key: first version
        F.when(F.col("_c_present").isNull(), F.array(new_version))
        # key left the snapshot
        .when(
            F.col("_s_present").isNull(),
            F.array(closed_old) if close_missing else F.array(keep_old),
        )
        # changed: close old version, open new one
        .when(changed, F.array(closed_old, new_version))
        # unchanged: pass the current row through
        .otherwise(F.array(keep_old))
    )
    merged = j.select(F.explode(events).alias("_e")).select(
        *[F.col("_e")[x].alias(x) for x in attr_cols + list(_META)]
    )
    return history.select(*[_col(x) for x in attr_cols + list(_META)]).unionByName(
        merged
    )


def scd2_at(dim: DataFrame, t: _dt.datetime) -> DataFrame:
    """Point-in-time slice: the dimension as it looked at ``t``
    (half-open validity intervals)."""
    ts = F.lit(t).cast("timestamp")
    return dim.filter(
        (F.col(VALID_FROM) <= ts)
        & (F.col(VALID_TO).isNull() | (ts < F.col(VALID_TO)))
    ).drop(*_META)
