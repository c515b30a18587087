"""Reshape operators: pivot (long→wide) and melt (wide→long).

Pivot with an EXPLICIT value list is the only scale-safe form: without
it Spark runs a distinct-collect job on the pivot column first and the
output schema depends on the data (nondeterministic column order,
unbounded width). With the list, the pivot compiles to one groupBy
whose aggregates are ``count/sum(CASE WHEN pivot = v)`` branches —
single shuffle, map-side combined, schema fixed at plan time.

Melt is the inverse: Spark's ``DataFrame.unpivot`` (one Expand, zero
shuffle) — the same primitive the profiler's one-scan-per-table design
is built on, exposed as a public operator.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from lakehouse_tools_spark.functions.portable import _col


def pivot_counts(
    df: DataFrame,
    group_col: str,
    pivot_col: str,
    values: list[str],
    agg_col: str | None = None,
) -> DataFrame:
    """Wide table of per-``values`` counts (or sums of ``agg_col``)
    per group. Absent (group, value) cells are 0, not null, so the
    wide relation joins/compares cleanly."""
    agg = F.count(F.lit(1)) if agg_col is None else F.sum(_col(agg_col))
    # GroupedData.pivot parses a column name as SQL: pivot on an alias
    wide = (
        df.withColumn("__pivot", _col(pivot_col))
        .groupBy(_col(group_col))
        .pivot("__pivot", values)
        .agg(agg)
    )
    return wide.select(
        _col(group_col),
        *[F.coalesce(_col(v), F.lit(0)).cast("long").alias(v) for v in values],
    )


def melt(
    df: DataFrame,
    id_cols: list[str],
    value_cols: list[str],
    var_name: str = "variable",
    value_name: str = "value",
) -> DataFrame:
    """Wide→long: one output row per (id, value column). All
    ``value_cols`` must share (or be castable to) one type; values
    are cast to their least common type. Pure projection+expand — no
    shuffle, parallelism and partitioning preserved."""
    if not value_cols:
        raise ValueError("melt needs at least one value column")
    return df.unpivot(
        [_col(c) for c in id_cols], [_col(c) for c in value_cols], var_name, value_name
    )
