"""Distribution drift between two snapshots of a table.

The profiler answers "what does this table look like"; monitoring
needs "how far has it MOVED since the baseline" — the check that
gates retraining and alerts on upstream breakage. The standard
metric is PSI (population stability index): equi-width-bin both
snapshots with the SAME edges and sum (p−q)·ln(p/q) over bins.
Rule-of-thumb thresholds: <0.1 stable, 0.1–0.25 drifting, >0.25
shifted.

Scale shape: the profiler's bin helpers, shared with
:func:`profile.numeric_histogram` — one tiny min/max aggregate on the
baseline (``profile._numeric_bounds``; bounds become plan literals),
then ONE melt + groupBy(column, bin) count per side
(``profile._bin_counts``); the shuffle carries ≤ columns × bins
rows. The PSI join runs on those bounded count relations, never on
data. Bin edges come from the BASELINE only (current values outside
the baseline range clamp into the edge bins) — drift must be
measured against the reference distribution, not a moving target.

Determinism: bin membership is the same IEEE double ops any engine
computes; smoothing is Laplace-0.5 (portable arithmetic, no epsilon
magic); every (column, bin) cell is emitted whether observed or not,
so both engines sum the identical term set.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from lakehouse_tools_spark.functions.memo import expr_memo
from lakehouse_tools_spark.functions.portable import _col
from lakehouse_tools_spark.operators.profile import (
    _bin_counts,
    _bin_exprs,
    _labels,
    _numeric_bounds,
)


def histogram_drift(
    baseline: DataFrame,
    current: DataFrame,
    database: str,
    table: str,
    bins: int = 16,
) -> DataFrame:
    """Per-numeric-column PSI between ``baseline`` and ``current``.

    Output: ``databaseName, tableName, columnName, n_base, n_curr,
    psi`` (psi rounded to 6 — the cross-engine float-parity
    contract). Columns are those numeric in BOTH schemas; all-null
    baseline columns are skipped (no reference distribution to bin
    against).
    """
    cur_types = dict(current.dtypes)
    fields = [
        f
        for f in baseline.schema.fields
        if isinstance(f.dataType, T.NumericType) and f.name in cur_types
    ]
    bounds = _numeric_bounds(baseline, fields)
    if not bounds:
        return baseline.sparkSession.createDataFrame(
            [],
            "databaseName string, tableName string, columnName string,"
            " n_base long, n_curr long, psi double",
        )
    # the melt is memoized on (bounds, bins) — same baseline -> memo
    # hit, changed data -> fresh build (functions/memo.py)
    bundle = expr_memo(
        ("drift_bin_counts", bins, bounds), lambda: _bin_exprs(bounds, bins)
    )
    base_counts = _bin_counts(baseline, bundle)
    curr_counts = _bin_counts(current, bundle).select(
        "columnName", "bin", F.col("cnt").alias("cnt_c")
    )
    # the full (column × bin) frame — tiny plan literals — so both
    # engines always sum the same term set, observed or not
    frame = (
        baseline.sparkSession.range(1)
        .select(
            F.explode(F.array(*[F.lit(name) for name, _, _ in bounds])).alias(
                "columnName"
            )
        )
        .select(
            "columnName",
            F.explode(F.sequence(F.lit(0), F.lit(bins - 1))).alias("bin"),
        )
    )
    cells = (
        frame.join(base_counts, ["columnName", "bin"], "left")
        .join(curr_counts, ["columnName", "bin"], "left")
        .select(
            "columnName",
            "bin",
            F.coalesce(F.col("cnt"), F.lit(0)).alias("b"),
            F.coalesce(F.col("cnt_c"), F.lit(0)).alias("c"),
        )
    )
    totals = cells.groupBy("columnName").agg(
        F.sum("b").alias("tb"), F.sum("c").alias("tc")
    )
    half = F.lit(0.5)
    k = F.lit(float(bins)) * half
    with_tot = cells.join(totals, "columnName")
    p = (F.col("b") + half) / (F.col("tb") + k)
    q = (F.col("c") + half) / (F.col("tc") + k)
    terms = with_tot.select(
        "columnName",
        "tb",
        "tc",
        ((p - q) * F.log(p / q)).alias("_term"),
    )
    return terms.groupBy("columnName", "tb", "tc").agg(
        F.round(F.sum("_term"), 6).alias("psi")
    ).select(
        *_labels(database, table),
        "columnName",
        F.col("tb").cast("long").alias("n_base"),
        F.col("tc").cast("long").alias("n_curr"),
        "psi",
    )


def ks_drift(
    baseline: DataFrame,
    current: DataFrame,
    columns: list[str],
) -> DataFrame:
    """Exact two-sample Kolmogorov–Smirnov statistic per column:
    ``D = max_v |F_base(v) − F_curr(v)|`` over the union of observed
    values — the nonparametric companion to PSI (:func:`
    histogram_drift`): binless, so it catches shifts PSI's fixed
    edges can smear, and its null distribution has standard critical
    values.

    Scale shape: ONE melt + groupBy(column, value, side) count per
    side — the shuffle carries each column's DISTINCT values, not the
    rows. The CDFs are cumulative window sums over that distinct-
    values relation, and D is one aggregate over it. For genuinely
    continuous columns at extreme scale the distinct relation IS the
    data; quantize first (round/floor the melt expression) or use the
    binned PSI — exact KS is the audit-grade form.

    Determinism: counts are exact integers; each |F1−F2| term is a
    fixed-order expression over integer-derived doubles, so any
    engine computes identical doubles and the max is exact. Output:
    ``(columnName, n_base, n_curr, ks)``, KS floored to 1e-6 with the
    house 1e-9 boundary nudge.
    """
    if not columns:
        return baseline.sparkSession.createDataFrame(
            [], "columnName string, n_base bigint, n_curr bigint, ks double"
        )

    def melt(df: DataFrame, side: str) -> DataFrame:
        values = [_col(c).cast("double").alias(c) for c in columns]
        return (
            df.unpivot([], values, "columnName", "value")
            .filter(F.col("value").isNotNull())
            .groupBy("columnName", "value")
            .agg(F.count(F.lit(1)).alias(f"c_{side}"))
        )

    b = melt(baseline, "b")
    c = melt(current, "c")
    merged = b.join(c, ["columnName", "value"], "full_outer").select(
        "columnName",
        "value",
        F.coalesce("c_b", F.lit(0)).alias("c_b"),
        F.coalesce("c_c", F.lit(0)).alias("c_c"),
    )
    from pyspark.sql import Window

    wcum = (
        Window.partitionBy("columnName")
        .orderBy(F.col("value").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wtot = Window.partitionBy("columnName")
    cdf = merged.select(
        "columnName",
        F.sum("c_b").over(wcum).alias("cum_b"),
        F.sum("c_c").over(wcum).alias("cum_c"),
        F.sum("c_b").over(wtot).alias("n_b"),
        F.sum("c_c").over(wtot).alias("n_c"),
    )
    term = F.abs(
        F.col("cum_b").cast("double") / F.col("n_b").cast("double")
        - F.col("cum_c").cast("double") / F.col("n_c").cast("double")
    )
    return (
        cdf.select("columnName", F.col("n_b"), F.col("n_c"), term.alias("_t"))
        .groupBy("columnName")
        .agg(
            F.max("n_b").alias("n_base"),
            F.max("n_c").alias("n_curr"),
            (
                F.floor((F.max("_t") + F.lit(1e-9)) * F.lit(1e6)) / F.lit(1e6)
            ).alias("ks"),
        )
    )
