"""Golden-record survivorship — one master row per entity cluster.

After matching/dedup assigns records a cluster id (ext/dedup,
ext/fuzzy, ext/graph produce exactly that), master-data management
needs ONE surviving value per attribute, chosen by per-column rules:

- ``latest``  — value of the most recent NON-NULL observation
                (recency column supplied; null observations never win)
- ``max`` / ``min`` — extremal value (e.g. highest balance)
- ``most_common`` — the modal value, ties broken toward the SMALLEST
                value so the verdict is deterministic on any engine

Everything reduces in ONE groupBy over the cluster key — one shuffle
for all columns together, no self-joins:

- latest: ``max_by(value, when(value notnull, recency))`` — the null
  guard keeps null observations out of the argmax (max_by ignores
  rows whose ordering expression is null).
- most_common: the cluster's values fold into a sorted array
  (``array_sort ∘ collect_list`` — sorting makes the result
  independent of collection order), and the mode is picked by
  counting occurrences of each distinct value JVM-side. That inner
  count is O(distinct × n) per cluster — fine for entity clusters,
  which are duplicate groups of bounded size, and documented here so
  nobody points it at million-row clusters (for those, a per-column
  count+rank pass is the shape).

Recency ties on ``latest`` are broken by the larger value (a total
order over (recency, value)), so two engines always elect the same
survivor.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from lakehouse_tools_spark.functions.portable import _col

Rules = dict[str, str]


def _mode_smallest(c: Column) -> Column:
    arr = F.array_sort(F.collect_list(c))
    d = F.array_distinct(arr)
    counts = F.transform(d, lambda v: F.size(F.filter(arr, lambda x: x == v)))
    return F.element_at(d, F.array_position(counts, F.array_max(counts)).cast("int"))


def golden_records(
    df: DataFrame,
    cluster_col: str,
    rules: Rules,
    recency_col: str | None = None,
) -> DataFrame:
    """One row per ``cluster_col`` with each rule's surviving value,
    output columns named ``<col>_<rule>``. ``recency_col`` is
    required iff any rule is ``latest``."""
    aggs = []
    for col, rule in rules.items():
        c = _col(col)
        if rule == "latest":
            if recency_col is None:
                raise ValueError("rule 'latest' needs recency_col")
            order = F.when(
                c.isNotNull(),
                F.struct(_col(recency_col).alias("r"), c.alias("v")),
            )
            aggs.append(F.max_by(c, order).alias(f"{col}_latest"))
        elif rule == "max":
            aggs.append(F.max(c).alias(f"{col}_max"))
        elif rule == "min":
            aggs.append(F.min(c).alias(f"{col}_min"))
        elif rule == "most_common":
            aggs.append(_mode_smallest(c).alias(f"{col}_most_common"))
        else:
            raise ValueError(f"unknown survivorship rule {rule!r} for {col}")
    return df.groupBy(_col(cluster_col)).agg(*aggs)
