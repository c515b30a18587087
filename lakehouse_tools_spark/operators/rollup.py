"""Incremental rollup maintenance — algebraic partial aggregates.

The materialized-view answer to "keep a per-key summary current as
batches land, without rescanning history": store PARTIALS (count, sum,
min, max — the algebraic decompositions), merge each new batch's
partials into the stored ones (count+count, sum+sum, min(min),
max(max) — associative and commutative, so batch boundaries and
arrival order are invisible), and derive the final statistics (avg =
sum/count) only at read time. This is exactly what Spark's own partial
aggregation does *within* one job, lifted across jobs/days/batches as
a stored relation — and the same algebra the mergeable sketches
(operators/sketches.py) apply to the non-algebraic statistics
(distinct → HLL, frequency → count-min).

Scale shape: each batch pays one scan + one shuffle of its OWN rows
(map-side combined to ≤ |keys| rows); the merge is a groupBy over
summary-sized relations — history is never touched. Doubles sum in
decimal then cast back (functions/portable convention) so the merged
sum is bit-identical regardless of how rows were split into batches —
the law ``merge(partials(A), partials(B)) == partials(A ∪ B)`` holds
EXACTLY, not within float noise (pinned in tests/test_rollup.py).
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from lakehouse_tools_spark.functions.portable import _col

#: partial columns per measure m: m__cnt, m__sum, m__min, m__max
_STATS = ("cnt", "sum", "min", "max")


def _pcol(measure: str, stat: str) -> str:
    return f"{measure}__{stat}"


def rollup_partials(
    df: DataFrame, keys: list[str], measures: list[str]
) -> DataFrame:
    """Per-key algebraic partials of ``measures`` over one batch.
    Sums accumulate in decimal(38,6) so later merges are order- and
    split-invariant (float addition is not associative; decimal is)."""
    aggs = []
    for m in measures:
        c = _col(m)
        aggs += [
            F.count(c).alias(_pcol(m, "cnt")),
            F.sum(c.cast(T.DecimalType(38, 6))).alias(_pcol(m, "sum")),
            F.min(c).alias(_pcol(m, "min")),
            F.max(c).alias(_pcol(m, "max")),
        ]
    return df.groupBy(*[_col(k) for k in keys]).agg(*aggs)


def merge_rollups(parts: list[DataFrame], keys: list[str]) -> DataFrame:
    """Merge batch partials into one partial relation: count and sum
    add, min and max fold — associative, commutative, exact."""
    unioned = reduce(lambda a, b: a.unionByName(b), parts)
    measures = sorted(
        {c.rsplit("__", 1)[0] for c in unioned.columns if "__" in c}
    )
    aggs = []
    for m in measures:
        aggs += [
            F.sum(_col(_pcol(m, "cnt"))).alias(_pcol(m, "cnt")),
            F.sum(_col(_pcol(m, "sum"))).alias(_pcol(m, "sum")),
            F.min(_col(_pcol(m, "min"))).alias(_pcol(m, "min")),
            F.max(_col(_pcol(m, "max"))).alias(_pcol(m, "max")),
        ]
    return unioned.groupBy(*[_col(k) for k in keys]).agg(*aggs)


def rollup_result(partials: DataFrame, keys: list[str]) -> DataFrame:
    """Final statistics from a partial relation: per measure —
    ``n``, ``sum`` (double), ``min``, ``max``, ``avg`` (sum/count,
    derived at read time so it merges correctly — averaging averages
    would weight batches wrongly)."""
    measures = sorted(
        {c.rsplit("__", 1)[0] for c in partials.columns if "__" in c}
    )
    out = []
    for m in measures:
        cnt = _col(_pcol(m, "cnt"))
        s = _col(_pcol(m, "sum"))
        out += [
            cnt.alias(f"{m}_n"),
            s.cast("double").alias(f"{m}_sum"),
            _col(_pcol(m, "min")).alias(f"{m}_min"),
            _col(_pcol(m, "max")).alias(f"{m}_max"),
            # divide in double (exact-sum ÷ exact-count), not decimal:
            # decimal division scale rules differ across engines
            (s.cast("double") / cnt).alias(f"{m}_avg"),
        ]
    return partials.select(*[_col(k) for k in keys], *out)
