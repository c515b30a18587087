"""Column profiler — the reference's flagship capability, Spark-first.

The reference (``dbc cell@8.0:24-38``, see SURVEY.md §1.4/§3.1) builds
one ``GROUP BY <col> / count(*)`` subquery **per column per table**,
accumulated into a lazy UNION tree. That shape scans each table once
per column and pays a driver round-trip per column. This module
replaces it with **one scan + one shuffle per table**:

    melt (stack) every profiled column to (columnName, value) rows
    → groupBy(columnName, value).count()

Catalyst plans the melt + aggregate as a single whole-stage-codegen'd
pass with map-side partial aggregation, so the shuffle carries only
distinct (column, value) pairs — at 100 TB that is the profile's
information content, not the data volume. No Python UDFs anywhere.

Two semantics modes (SURVEY.md §1.4, §7.3):

- ``intended``: a true per-value frequency histogram — ``value`` is
  the column's value, ``len`` its string length. This is what the
  reference's author meant (evidenced by the overwritten first
  version of the statement, ``dbc cell@8.0:28``).
- ``as_written``: reproduces the reference's quoting bug — ``value``
  is the column *name*, ``len`` the length of the column *name*, one
  row per distinct group with UNION set-dedup collapsing equal rows
  (verified against the stored run, ``dbc results@12.0``).

Output schemas match the reference's public contract
(``dbc cell@7.0:2``, ``cell@7.125:1``; nb-readme:18,26).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from lakehouse_tools_spark.functions.memo import expr_memo, fields_key
from lakehouse_tools_spark.functions.portable import _col, floor6
from lakehouse_tools_spark.sources.tables import ensure_parallelism

PROFILE_DATA_SCHEMA = T.StructType(
    [
        T.StructField("databaseName", T.StringType(), True),
        T.StructField("tableName", T.StringType(), True),
        T.StructField("columnName", T.StringType(), True),
        T.StructField("dataType", T.StringType(), True),
        T.StructField("value", T.StringType(), True),
        T.StructField("num_records", T.FloatType(), True),
        T.StructField("len", T.FloatType(), True),
    ]
)

SCHEMA_INFORMATION_SCHEMA = T.StructType(
    [
        T.StructField("databaseName", T.StringType(), True),
        T.StructField("tableName", T.StringType(), True),
        T.StructField("columnName", T.StringType(), True),
        T.StructField("dataType", T.StringType(), True),
        T.StructField("comments", T.StringType(), True),
    ]
)

#: Types we can render to a stable cross-engine string. Nested /
#: binary / map columns are skipped by the profiler (the reference
#: never met one; its dynamic SQL would have broken on them anyway).
_ATOMIC_TYPES = (
    T.StringType,
    T.IntegerType,
    T.LongType,
    T.ShortType,
    T.ByteType,
    T.BooleanType,
    T.DateType,
    T.TimestampType,
    T.FloatType,
    T.DoubleType,
    T.DecimalType,
)


def is_profilable(dtype: T.DataType) -> bool:
    return isinstance(dtype, _ATOMIC_TYPES)


def stable_string(col: F.Column, dtype: T.DataType) -> F.Column:
    """Render a value as a string identically across engines.

    Fractional types go through ``round(x, 6) :: decimal(28,6)`` so
    Spark (Java ``Double.toString`` — scientific notation above 1e7)
    and ANSI engines (plain positional notation) agree; timestamps are
    formatted explicitly in the session's UTC zone. Everything else
    casts natively ('true'/'false', ISO dates, integer literals).
    """
    if isinstance(dtype, (T.FloatType, T.DoubleType)):
        return F.round(col, 6).cast(T.DecimalType(28, 6)).cast("string")
    if isinstance(dtype, T.TimestampType):
        return F.date_format(col, "yyyy-MM-dd HH:mm:ss")
    return col.cast("string")


def profilable_columns(df: DataFrame) -> list[T.StructField]:
    return [f for f in df.schema.fields if is_profilable(f.dataType)]


# Each mechanism below exists once: an expression builder, called
# inside the operator's ``expr_memo`` build so its Columns are
# memoized with the operator's bundle, and a relation helper that
# applies the built expressions to the data. Column-labelled melts
# are ``DataFrame.unpivot`` over expressions aliased to the column's
# own name, so the label is the name itself, never parsed: row melts
# unpivot the cast columns; wide-to-long reshapes aggregate one struct
# of measures per column, unpivot the one-row result and expand the
# struct. The rendered melt is the one ``stack`` left
# (:func:`_melt_expr`).


def _labels(database: str, table: str, fields=None) -> list:
    """The catalog label columns every profiler output starts with —
    ``databaseName, tableName`` and, given the profiled ``fields``,
    ``columnName`` plus its ``dataType`` looked up in one
    name→type map."""
    labels = [F.lit(database).alias("databaseName"), F.lit(table).alias("tableName")]
    if fields is None:
        return labels
    dtype_map = F.create_map(
        *[x for f in fields for x in (F.lit(f.name), F.lit(f.dataType.simpleString()))]
    )
    return labels + [
        F.col("columnName"),
        dtype_map[F.col("columnName")].alias("dataType"),
    ]


def _melt_expr(fields) -> F.Column:
    """The rendered melt: every field as (columnName, value) rows,
    value rendered by :func:`stable_string`. The one column-labelled
    melt that stays a ``stack``: on the profiler's hot path a paired
    A/B in one JVM over ``lakebench/base`` (4 vCPU shared with a
    concurrent benchmark run, 10 alternating pairs, noop write)
    measured the unpivot's ``Expand`` slower than ``Generate stack``
    (median 1.97 vs 1.82 s, stack faster in 7 of 10). The labels are
    literals and every column goes through ``_col``, so any name
    works."""
    branches = []
    for f in fields:
        branches.append(F.lit(f.name))
        branches.append(stable_string(_col(f.name), f.dataType))
    return F.stack(F.lit(len(fields)), *branches).alias("columnName", "value")


def _rendered_melt(df: DataFrame, fields, melt: F.Column) -> DataFrame:
    # the melt multiplies rows ×len(fields) and renders every value to
    # text BEFORE the aggregate's map-side combine — spread the scan
    # size-aware (expansion = the melt multiplier) so each task's
    # melted working set fits its execution-memory share; sized by
    # core count alone, the partial-agg map outgrows its share on
    # high-cardinality tables and falls back to sort+spill (measured:
    # stage CPU 319 s -> 1065 s for 2x data at sf10, e(5->10)=2.1,
    # restored to ~linear by this sizing — SCALING.md)
    return ensure_parallelism(
        df.select(*[_col(f.name) for f in fields]), expansion=len(fields)
    ).select(melt)


def _numeric_bounds(df: DataFrame, fields) -> tuple:
    """One min/max aggregate over every field (as double), collected:
    ``(name, min, max)`` per column with a non-null value — the bounds
    become plan literals, and the tuple is a memo key."""
    if not fields:
        return ()
    stats = df.agg(
        *[F.min(_col(f.name).cast("double")) for f in fields],
        *[F.max(_col(f.name).cast("double")) for f in fields],
    ).collect()[0]
    n = len(fields)
    return tuple(
        (f.name, stats[i], stats[n + i])
        for i, f in enumerate(fields)
        if stats[i] is not None
    )


def _bin_exprs(bounds: tuple, bins: int) -> dict:
    """Equi-width bin membership on the given bounds:
    ``least(greatest(floor((x − min)/w), 0), bins−1)`` in double
    precision — the same IEEE ops any engine computes; values outside
    [min, max] clamp to the edge bins, nulls get no bin and a constant
    column lands in bin 0."""
    values = []
    for name, mn, mx in bounds:
        x = _col(name).cast("double")
        w = (mx - mn) / bins
        if w == 0.0:
            b = F.when(x.isNotNull(), F.lit(0).cast("long"))
        else:
            b = F.least(
                F.greatest(
                    F.floor((x - F.lit(mn)) / F.lit(w)).cast("long"), F.lit(0)
                ),
                F.lit(bins - 1).cast("long"),
            )
        values.append(b.alias(name))
    return {
        "bins": values,
        "count": F.count(F.lit(1)).alias("cnt"),
    }


def _bin_counts(df: DataFrame, bundle: dict) -> DataFrame:
    """(columnName, bin, cnt): one melt + groupBy(columnName, bin)
    count for every column — the shuffle carries ≤ columns × bins
    rows."""
    melted = df.unpivot([], bundle["bins"], "columnName", "bin").filter(
        F.col("bin").isNotNull()
    )
    return melted.groupBy("columnName", "bin").agg(bundle["count"])


def _fence_exprs(cols: list[str], k: float) -> dict:
    """Tukey fences ``q1 − k·IQR`` / ``q3 + k·IQR`` per column as
    ``_lo_<c>`` / ``_hi_<c>``, from quartiles pivoted out of
    :func:`exact_quantile_cells` and rounded to 6 BEFORE the fence
    arithmetic, so fences are bit-identical across engines (absent =
    all-null columns get NULL fences)."""
    quart_pivot = [
        F.round(F.max(F.when(F.col("columnName") == c, F.col(f"q{i}"))), 6).alias(
            f"_q{tag}_{c}"
        )
        for c in cols
        for i, tag in ((0, "1"), (1, "3"))
    ]
    fences = []
    for c in cols:
        q1, q3 = _col(f"_q1_{c}"), _col(f"_q3_{c}")
        fences.append((q1 - k * (q3 - q1)).alias(f"_lo_{c}"))
        fences.append((q3 + k * (q3 - q1)).alias(f"_hi_{c}"))
    return {"quart_pivot": quart_pivot, "fences": fences}


def _tukey_fences(df: DataFrame, cols: list[str], bundle: dict) -> DataFrame:
    """The 1-row fence relation, broadcast for a cross join back over
    the data. Quartiles come from the DISTRIBUTED exact path
    (bit-identical to ``F.percentile``, bounded memory, guide §5)."""
    quarts = exact_quantile_cells(df, list(cols), (0.25, 0.75))
    return F.broadcast(quarts.agg(*bundle["quart_pivot"]).select(*bundle["fences"]))


def profile_table(
    df: DataFrame,
    database: str,
    table: str,
    mode: str = "intended",
    top_k: int | None = None,
) -> DataFrame:
    """Profile every (profilable) column of one table in a single pass.

    Replaces the reference's per-column ``GROUP BY`` fan-out
    (``dbc cell@8.0:30-36``) with one melt + aggregate job. Columns are
    melted with ``stack`` (codegen'd, no shuffle), then a single
    ``groupBy(columnName, value)`` aggregates with map-side combine.

    ``top_k`` caps the histogram to the K most frequent values per
    column (ties broken by value ascending, nulls first — a
    deterministic total order). Without it, a key column's profile is
    one row per distinct value — i.e. the size of the input at 100 TB;
    with it, output is bounded by K×n_columns. The cap is one
    row_number window over the already-aggregated (tiny) counts —
    an extra narrow shuffle on columnName, still zero joins.
    """
    fields = profilable_columns(df)
    if not fields:
        return df.sparkSession.createDataFrame([], PROFILE_DATA_SCHEMA)

    if top_k is not None and mode != "intended":
        raise ValueError("top_k is only meaningful for the intended-mode histogram")
    if mode == "as_written":
        # Reference bug fidelity (dbc cell@8.0:34): GROUP BY the *raw*
        # column, but project the quoted column name as value/len.
        # Grouping must be on raw values (not the rendered string) to
        # match the original's group counts exactly. One aggregate
        # branch per column — each scans only its own column thanks to
        # parquet column pruning; the union is one job. Output per
        # branch is the distinct count multiset → tiny. UNION set
        # semantics (cell@8.0:33) = distinct at the end.
        def _build_aw() -> dict:
            return {
                "count": F.count(F.lit(1)).alias("_n"),
                "selects": [
                    [
                        *_labels(database, table),
                        F.lit(f.name).alias("columnName"),
                        F.lit(f.dataType.simpleString()).alias("dataType"),
                        F.lit(f.name).alias("value"),
                        F.col("_n").cast("float").alias("num_records"),
                        F.lit(float(len(f.name))).alias("len"),
                    ]
                    for f in fields
                ],
            }

        aw = expr_memo(
            ("profile_table_aw", database, table, fields_key(fields)), _build_aw
        )
        parts = []
        for f, sel in zip(fields, aw["selects"]):
            parts.append(
                df.groupBy(_col(f.name)).agg(aw["count"]).select(*sel)
            )
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out.distinct()
    if mode != "intended":
        raise ValueError(f"unknown profile mode: {mode!r}")

    # every Column below depends only on (names, types, database,
    # table, top_k) — memoize the built bundle so repeated calls
    # (bench reps, multi-table profile loops, re-profiles) skip the
    # several hundred py4j round trips of rebuilding it (functions/
    # memo.py; the expressions are object-identical, not re-created)
    def _build() -> dict:
        return {
            "melt": _melt_expr(fields),
            "count": F.count(F.lit(1)).alias("_n"),
            "select": [
                *_labels(database, table, fields),
                F.col("value"),
                F.col("_n").cast("float").alias("num_records"),
            ],
            "len": F.length("value").cast("float"),
        }

    bundle = expr_memo(
        ("profile_table", database, table, top_k, fields_key(fields)), _build
    )

    melted = _rendered_melt(df, fields, bundle["melt"])
    counts = melted.groupBy("columnName", "value").agg(bundle["count"])

    if top_k is not None:
        w = Window.partitionBy("columnName").orderBy(
            F.col("_n").desc(), F.col("value").asc_nulls_first()
        )
        counts = (
            counts.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") <= top_k)
            .drop("_rn")
        )

    base = counts.select(*bundle["select"])

    return base.withColumn("len", bundle["len"])


SUMMARY_SCHEMA = T.StructType(
    [
        T.StructField("databaseName", T.StringType(), True),
        T.StructField("tableName", T.StringType(), True),
        T.StructField("columnName", T.StringType(), True),
        T.StructField("dataType", T.StringType(), True),
        T.StructField("n_rows", T.LongType(), True),
        T.StructField("n_nulls", T.LongType(), True),
        T.StructField("n_distinct", T.LongType(), True),
        T.StructField("min_value", T.StringType(), True),
        T.StructField("max_value", T.StringType(), True),
    ]
)


def profile_summary(
    df: DataFrame,
    database: str,
    table: str,
    exact_distinct: bool = True,
) -> DataFrame:
    """Summary statistics per column: rows, nulls, distinct count,
    min/max — the aggregate complement to the per-value histogram.

    Counts/nulls/min/max come from ONE wide aggregate over a single
    scan (no Expand). Distinct counts:

    - ``exact_distinct=True``: a melt + per-column countDistinct —
      exact, but the melt multiplies scanned rows by the column count.
      This is the oracle-checkable mode.
    - ``exact_distinct=False``: ``approx_count_distinct`` (HyperLogLog++)
      inside the same single wide aggregate — the 100 TB path: one
      pass, no row multiplication, ~2% relative error.

    min/max are computed on the typed values then rendered (NOT
    min-of-rendered-strings, which would order numerics
    lexicographically).
    """
    fields = profilable_columns(df)
    if not fields:
        return df.sparkSession.createDataFrame([], SUMMARY_SCHEMA)

    # name/type-derived Columns only — memoized across calls (see
    # profile_table / functions/memo.py)
    def _build() -> dict:
        aggs = []
        for f in fields:
            c = _col(f.name)
            aggs.append(
                F.struct(
                    F.count(F.lit(1)).alias("n_rows"),
                    F.sum(F.when(c.isNull(), 1).otherwise(0))
                    .cast("long")
                    .alias("n_nulls"),
                    stable_string(F.min(c), f.dataType).alias("min_value"),
                    stable_string(F.max(c), f.dataType).alias("max_value"),
                    (
                        F.lit(None).cast("long")
                        if exact_distinct
                        else F.approx_count_distinct(c)
                    ).alias("n_distinct"),
                ).alias(f.name)
            )
        return {
            "melt": _melt_expr(fields),
            "aggs": aggs,
            "long": [_col(f.name) for f in fields],
            "nd": F.count_distinct(F.col("value")).alias("_nd_exact"),
            "select": [
                *_labels(database, table, fields),
                F.col("n_rows"),
                F.col("n_nulls"),
                F.col("n_distinct"),
                F.col("min_value"),
                F.col("max_value"),
            ],
        }

    bundle = expr_memo(
        (
            "profile_summary",
            database,
            table,
            exact_distinct,
            fields_key(fields),
        ),
        _build,
    )

    long = (
        df.agg(*bundle["aggs"])
        .unpivot([], bundle["long"], "columnName", "s")
        .select("columnName", "s.*")
    )

    if exact_distinct:
        melted = _rendered_melt(df, fields, bundle["melt"])
        nd = melted.groupBy("columnName").agg(bundle["nd"])
        long = long.drop("n_distinct").join(nd, "columnName", "left").withColumn(
            "n_distinct", F.col("_nd_exact")
        )

    return long.select(*bundle["select"])


QUANTILE_SCHEMA = T.StructType(
    [
        T.StructField("databaseName", T.StringType()),
        T.StructField("tableName", T.StringType()),
        T.StructField("columnName", T.StringType()),
        T.StructField("dataType", T.StringType()),
        T.StructField("q25", T.DoubleType()),
        T.StructField("q50", T.DoubleType()),
        T.StructField("q75", T.DoubleType()),
    ]
)


def numeric_quantiles(
    df: DataFrame,
    database: str,
    table: str,
    probs: tuple[float, ...] = (0.25, 0.5, 0.75),
    accuracy: int = 10000,
) -> DataFrame:
    """Approximate quartiles per numeric column — the sketch profiler.

    All columns' Greenwald-Khanna sketches (``percentile_approx``)
    build in ONE wide aggregate over a single scan: mergeable partial
    sketches per partition, merged at the driver-side final aggregate
    — the only shape that works at 100 TB (an exact percentile needs
    a full sort per column). Rank error ≤ n/accuracy. Returned values
    are real data elements, melted to one row per column.
    """
    fields = [
        f for f in df.schema.fields if isinstance(f.dataType, T.NumericType)
    ]
    if not fields:
        return df.sparkSession.createDataFrame([], QUANTILE_SCHEMA)

    def _build() -> dict:
        qs = F.array(*[F.lit(float(p)) for p in probs])
        aggs = []
        for f in fields:
            q = F.percentile_approx(_col(f.name), qs, F.lit(accuracy))
            aggs.append(
                F.struct(
                    q[0].cast("double").alias("q25"),
                    q[1].cast("double").alias("q50"),
                    q[2].cast("double").alias("q75"),
                ).alias(f.name)
            )
        return {
            "aggs": aggs,
            "long": [_col(f.name) for f in fields],
            "select": [
                *_labels(database, table, fields),
                F.col("q25"),
                F.col("q50"),
                F.col("q75"),
            ],
        }

    bundle = expr_memo(
        (
            "numeric_quantiles",
            database,
            table,
            tuple(probs),
            accuracy,
            fields_key(fields),
        ),
        _build,
    )
    return (
        df.agg(*bundle["aggs"])
        .unpivot([], bundle["long"], "columnName", "s")
        .select("columnName", "s.*")
        .select(*bundle["select"])
    )


def exact_quantile_cells(
    df: DataFrame,
    cols: list[str],
    probs: tuple[float, ...],
) -> DataFrame:
    """Distributed EXACT percentiles for many columns in one pass —
    bit-identical to ``F.percentile(col, array(*probs))`` without its
    unbounded aggregation buffer. Spark's ``Percentile`` keeps a
    value→count map per aggregate expression and merges every
    distinct value of a column into ONE reducer's memory — the last
    shape in this package that cannot run on a 100 TB
    high-cardinality column (optimization guide §5).

    Shape (guide §2/§5): melt the columns to (columnName, value)
    rows — the map-side-combined groupBy compresses the shuffle to
    DISTINCT values with counts; a per-column cumulative count
    (streaming ROWS frame over the value-sorted distinct rows — the
    window sort is disk-backed) assigns each value its rank interval
    ``[cum−cnt, cum)``; each requested percentile rank picks its
    bracketing values and interpolates with ``Percentile``'s own
    arithmetic — ``(higher−pos)·lowerKey + (pos−lower)·higherKey`` at
    ``pos = p·(n−1)``, evaluated in the same IEEE operation order the
    JVM aggregate uses, so results are bit-identical (values are
    compared/grouped after the same cast-to-double ``Percentile``
    applies in ``toDoubleValue``; double-equal inputs interpolate to
    the same double either way). Bit identity holds modulo −0.0: the
    groupBy normalizes −0.0 to 0.0 while ``Percentile`` keeps them as
    distinct keys, so a column holding both can differ in the sign
    of zero — numerically equal, repr may differ (the parity proof,
    tools/percentile_parity.py, compares bit-level for doubles modulo
    −0.0). Memory is bounded everywhere: the
    hash aggregate and the window sort both spill; no task ever
    holds a column's full distinct set. Parallelism: the melt scan
    and first aggregate are fully parallel; the cumulative pass is
    one task per column over distinct values only.

    Returns one row per column with ≥1 non-null value:
    ``(columnName, q0..q{len(probs)−1})`` as doubles — callers
    left-join a column spine when all-null columns must surface as
    NULL rows (what ``F.percentile`` yields there).
    """

    def _build() -> dict:
        aggs = [F.max("_n").alias("_n")]
        for i, p in enumerate(probs):
            # rank arithmetic exactly as Percentile.getPercentile:
            # pos = p * (count − 1); lower/higher = floor/ceil(pos);
            # value-at-rank r = the row whose [cum−cnt, cum) covers r
            pos = F.lit(float(p)) * (F.col("_n") - F.lit(1))
            lo, hi = F.floor(pos), F.ceil(pos)
            lo_ok = (F.col("_cum") - F.col("_cnt") <= lo) & (F.col("_cum") > lo)
            hi_ok = (F.col("_cum") - F.col("_cnt") <= hi) & (F.col("_cum") > hi)
            aggs.append(F.max(F.when(lo_ok, F.col("value"))).alias(f"_lk_{i}"))
            aggs.append(F.max(F.when(hi_ok, F.col("value"))).alias(f"_hk_{i}"))
        outs = [F.col("columnName")]
        for i, p in enumerate(probs):
            pos = F.lit(float(p)) * (F.col("_n") - F.lit(1))
            lo, hi = F.floor(pos), F.ceil(pos)
            lk, hk = F.col(f"_lk_{i}"), F.col(f"_hk_{i}")
            outs.append(
                F.when(hi == lo, lk)
                .when(hk == lk, lk)
                .otherwise((hi - pos) * lk + (pos - lo) * hk)
                .alias(f"q{i}")
            )
        return {
            "aggs": aggs,
            "outs": outs,
        }

    bundle = expr_memo(
        ("exact_quantile_cells", tuple(cols), tuple(probs)), _build
    )
    ranked = ranked_value_counts(df, cols)
    return ranked.groupBy("columnName").agg(*bundle["aggs"]).select(
        *bundle["outs"]
    )


def ranked_value_counts(df: DataFrame, cols: list[str]) -> DataFrame:
    """The distinct-value rank relation shared by the exact rank-pick
    operators (:func:`exact_quantile_cells`,
    :func:`equi_depth_histogram`): melt ``cols`` to (columnName,
    value-as-double), drop nulls, count distinct values with map-side
    combine, and assign each value its rank interval —
    ``(columnName, value, _cnt, _cum, _n)`` where ``[ _cum−_cnt,
    _cum )`` is the 0-based sorted-rank range the value occupies and
    ``_n`` is the column's non-null count. Memory is bounded
    everywhere (hash aggregate and window sort both spill); the
    cumulative pass is one task per column over DISTINCT values only.

    NO ensure_parallelism guard on the melt, deliberately: it only
    casts to double (no string render), so the pre-shuffle stage is
    I/O-bound, and a partial-agg-spread A/B showed the
    round-robin exchange (with its mandatory sort-before-repartition)
    costs more than the parallelism returns on these cheap melts. At
    real scale inputs arrive with enough splits.
    """

    def _build() -> dict:
        w_cum = (
            Window.partitionBy("columnName")
            .orderBy("value")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        w_n = Window.partitionBy("columnName")
        return {
            "melt": [_col(c).cast("double").alias(c) for c in cols],
            "ranked": [
                F.col("columnName"),
                F.col("value"),
                F.col("_cnt"),
                F.sum("_cnt").over(w_cum).alias("_cum"),
                F.sum("_cnt").over(w_n).alias("_n"),
            ],
        }

    bundle = expr_memo(("ranked_value_counts", tuple(cols)), _build)
    melted = df.unpivot([], bundle["melt"], "columnName", "value").where(
        F.col("value").isNotNull()
    )
    counts = melted.groupBy("columnName", "value").agg(
        F.count(F.lit(1)).alias("_cnt")
    )
    return counts.select(*bundle["ranked"])


def numeric_quantiles_exact(
    df: DataFrame,
    database: str,
    table: str,
    probs: tuple[float, ...] = (0.25, 0.5, 0.75),
) -> DataFrame:
    """EXACT quartiles per numeric column, same output contract as
    :func:`numeric_quantiles`. Values linearly interpolate at rank
    p·(n−1) — the same definition ``F.percentile`` implements and
    DuckDB's ``quantile_cont`` uses, which is what makes this the
    oracle-checkable variant (values rounded to 6 decimals on both
    sides to absorb summation-order float drift).

    The quantiles come from the DISTRIBUTED exact path
    (:func:`exact_quantile_cells` — melt → distinct-value counts →
    per-column cumulative rank → interpolated rank-pick,
    bit-identical to an ``F.percentile`` wide aggregate, which would
    buffer every distinct value of every column in a single
    reducer's memory). The sketch variant (:func:`numeric_quantiles`)
    is the cheap 100 TB default; this is the audit path, with
    bounded memory.

    The output schema labels exactly three quantiles q25/q50/q75, so
    ``probs`` must be exactly three probabilities; non-quartile probs
    are allowed (the labels then name positions, not percentages) but
    a different count is rejected rather than silently mislabeled.
    """
    if len(probs) != 3:
        raise ValueError(
            f"probs must have exactly 3 entries (output schema is "
            f"q25/q50/q75); got {len(probs)}"
        )
    fields = [
        f for f in df.schema.fields if isinstance(f.dataType, T.NumericType)
    ]
    if not fields:
        return df.sparkSession.createDataFrame([], QUANTILE_SCHEMA)

    def _build() -> dict:
        return {
            # all-null columns yield no exact_quantile_cells row; the
            # column spine restores them as NULL-quartile rows (what
            # the former F.percentile aggregate produced)
            "spine": F.explode(
                F.array(*[F.lit(f.name) for f in fields])
            ).alias("columnName"),
            "select": [
                *_labels(database, table, fields),
                F.round(F.col("q0"), 6).alias("q25"),
                F.round(F.col("q1"), 6).alias("q50"),
                F.round(F.col("q2"), 6).alias("q75"),
            ],
        }

    bundle = expr_memo(
        (
            "numeric_quantiles_exact",
            database,
            table,
            tuple(probs),
            fields_key(fields),
        ),
        _build,
    )
    cells = exact_quantile_cells(df, [f.name for f in fields], tuple(probs))
    spine = df.sparkSession.range(1).select(bundle["spine"])
    return spine.join(F.broadcast(cells), "columnName", "left").select(
        *bundle["select"]
    )


def numeric_correlations(
    df: DataFrame,
    database: str,
    table: str,
    cols: list[str] | None = None,
) -> DataFrame:
    """Pearson correlation for every pair of numeric columns — the
    redundancy/leakage screen of a feature-profiling pass (a |r| ≈ 1
    pair is a duplicated signal; an unexpectedly correlated pair is a
    leak).

    All C(n,2) coefficients build in ONE wide aggregate over a single
    scan: ``F.corr`` is an algebraic aggregate (co-moment partials
    merge associatively), so partial states combine map-side and the
    final aggregate sees one row per partition — the same
    everything-in-one-pass shape as the quantile and summary
    profilers. Pair count grows quadratically in column count, but
    each state is O(1); 50 columns = 1225 states ≈ 60 KB per
    partition. Values round to 6 decimals to absorb summation-order
    float drift across engines.
    """
    if cols is None:
        cols = [
            f.name
            for f in df.schema.fields
            if isinstance(f.dataType, T.NumericType)
        ]
    pairs = [(a, b) for i, a in enumerate(cols) for b in cols[i + 1 :]]
    if not pairs:
        return df.sparkSession.createDataFrame(
            [],
            "databaseName string, tableName string, col1 string,"
            " col2 string, corr double",
        )
    wide = df.agg(
        *[
            F.struct(
                F.lit(a).alias("col1"),
                F.lit(b).alias("col2"),
                F.round(F.corr(_col(a), _col(b)), 6).alias("corr"),
            ).alias(str(i))
            for i, (a, b) in enumerate(pairs)
        ]
    )
    return (
        wide.unpivot([], [_col(str(i)) for i in range(len(pairs))], "_pair", "s")
        .select(*_labels(database, table), "s.*")
    )


def numeric_outliers(
    df: DataFrame,
    database: str,
    table: str,
    cols: list[str] | None = None,
    k: float = 1.5,
) -> DataFrame:
    """Tukey-fence outlier counts per numeric column: values outside
    ``[q1 − k·IQR, q3 + k·IQR]`` — the standard data-quality screen
    for sensor glitches, unit mixups, and fat-tailed columns that need
    clipping before training.

    Two passes by necessity (the fences depend on the quartiles): the
    1-row fence relation of :func:`_tukey_fences` for all columns,
    then one wide conditional-count aggregate with it broadcast back —
    never a per-column job pair. The fences (and therefore every
    comparison) are bit-identical across engines, and identical to
    the ones :func:`clip_outliers` clamps to.
    """
    if cols is None:
        cols = [
            f.name
            for f in df.schema.fields
            if isinstance(f.dataType, T.NumericType)
        ]
    if not cols:
        return df.sparkSession.createDataFrame(
            [],
            "databaseName string, tableName string, columnName string,"
            " lo_fence double, hi_fence double, n_outliers bigint,"
            " n_values bigint",
        )

    # Columns are (cols, k, db, table)-derived — memoized.
    def _build() -> dict:
        count_aggs = []
        for c in cols:
            x, lo, hi = _col(c), _col(f"_lo_{c}"), _col(f"_hi_{c}")
            count_aggs.append(
                F.struct(
                    F.round(F.first(lo), 6).alias("lo_fence"),
                    F.round(F.first(hi), 6).alias("hi_fence"),
                    F.sum(F.when((x < lo) | (x > hi), 1).otherwise(0))
                    .cast("long")
                    .alias("n_outliers"),
                    F.count(x).cast("long").alias("n_values"),
                ).alias(c)
            )
        return {
            **_fence_exprs(cols, k),
            "count_aggs": count_aggs,
            "long": [_col(c) for c in cols],
            "select": [*_labels(database, table), "columnName", "s.*"],
        }

    bundle = expr_memo(
        ("numeric_outliers", database, table, tuple(cols), k), _build
    )
    fences = _tukey_fences(df, cols, bundle)
    counts = df.crossJoin(fences).agg(*bundle["count_aggs"])
    return counts.unpivot([], bundle["long"], "columnName", "s").select(
        *bundle["select"]
    )


def grouped_quantiles(
    df: DataFrame,
    group_col: str,
    value_col: str,
    database: str,
    table: str,
    exact: bool = True,
    accuracy: int = 10000,
) -> DataFrame:
    """Quartiles of one measure per group — the per-segment profile
    (doc length by language, price by region) that a single-table
    quantile can't answer. One ``groupBy(group).agg(percentile)``
    aggregate: partial states combine map-side, the shuffle carries
    groups×state, never rows. ``exact=True`` interpolates like
    ``quantile_cont`` (oracle-parity, buffers values per group — use
    on bounded-cardinality groups); ``exact=False`` uses the GK
    sketch (mergeable, the 100 TB default)."""
    qs = F.array(F.lit(0.25), F.lit(0.5), F.lit(0.75))
    agg = (
        F.percentile(_col(value_col), qs)
        if exact
        else F.percentile_approx(_col(value_col), qs, F.lit(accuracy))
    )
    g = df.groupBy(_col(group_col).alias("groupValue")).agg(
        agg.alias("_q"), F.count(_col(value_col)).alias("n_values")
    )
    return g.select(
        *_labels(database, table),
        F.lit(value_col).alias("columnName"),
        "groupValue",
        F.round(F.col("_q")[0].cast("double"), 6).alias("q25"),
        F.round(F.col("_q")[1].cast("double"), 6).alias("q50"),
        F.round(F.col("_q")[2].cast("double"), 6).alias("q75"),
        F.col("n_values").cast("long").alias("n_values"),
    )


def clip_outliers(
    df: DataFrame,
    cols: list[str],
    k: float = 1.5,
) -> DataFrame:
    """Winsorize numeric columns to their Tukey fences: values outside
    ``[q1 − k·IQR, q3 + k·IQR]`` clamp to the fence — the repair
    action for what :func:`numeric_outliers` reports (clip the fat
    tail before training instead of dropping rows).

    Same two-pass shape as the report: the 1-row fence relation of
    :func:`_tukey_fences` broadcast back into a pure projection (no
    second shuffle), so the clamped values are bit-identical across
    engines. Nulls pass through unchanged.
    """
    if not cols:
        return df

    # Columns are (cols, k)-derived — memoized.
    def _build() -> dict:
        clips = []
        for c in cols:
            x, lo, hi = _col(c), _col(f"_lo_{c}"), _col(f"_hi_{c}")
            clips.append((c, F.when(x < lo, lo).when(x > hi, hi).otherwise(x)))
        return {**_fence_exprs(cols, k), "clips": clips}

    bundle = expr_memo(("clip_outliers", tuple(cols), k), _build)
    out = df.crossJoin(_tukey_fences(df, cols, bundle))
    for c, clip in bundle["clips"]:
        out = out.withColumn(c, clip)
    return out.drop(*[f"_{tag}_{c}" for c in cols for tag in ("lo", "hi")])


def column_entropy(
    df: DataFrame,
    database: str,
    table: str,
    cols: list[str],
) -> DataFrame:
    """Shannon entropy (nats) per categorical column — the
    information-content profile: ≈0 flags a near-constant column
    (dead feature, broken upstream join), ln(k) means uniform over k
    values. Complements distinct counts: two columns with 5 values
    can carry very different signal.

    One melt over the chosen columns, one (column, value) count with
    map-side combine — the shuffle carries distinct values, exactly
    the profiler's shape — then one per-column aggregate folding
    −Σ p·ln p. Null is a legitimate category (counted, not dropped).
    floor6 keeps the sum engine-portable.
    """
    n_cols = len(cols)
    if not n_cols:
        return df.sparkSession.createDataFrame(
            [],
            "databaseName string, tableName string, columnName string,"
            " n_values bigint, entropy double",
        )
    melted = df.unpivot(
        [], [_col(c).cast("string").alias(c) for c in cols], "columnName", "_v"
    )
    counts = melted.groupBy("columnName", "_v").agg(
        F.count(F.lit(1)).alias("_c")
    )
    return (
        counts.groupBy("columnName")
        .agg(
            # counts has one row per distinct (column, value) INCLUDING
            # the null category, so a plain row count is the distinct
            # count (countDistinct would skip the null row)
            F.count(F.lit(1)).alias("_nv"),
            F.sum("_c").alias("_n"),
            F.sum(F.col("_c") * F.log(F.col("_c"))).alias("_clogc"),
        )
        .select(
            *_labels(database, table),
            "columnName",
            F.col("_nv").cast("long").alias("n_values"),
            # H = ln(n) − (Σ c·ln c)/n  — algebraically −Σ p ln p, but
            # with ONE division so the float path is short and stable
            floor6(
                F.log(F.col("_n").cast("double"))
                - F.col("_clogc") / F.col("_n")
            ).alias("entropy"),
        )
    )


HISTOGRAM_SCHEMA = T.StructType(
    [
        T.StructField("databaseName", T.StringType()),
        T.StructField("tableName", T.StringType()),
        T.StructField("columnName", T.StringType()),
        T.StructField("bin", T.IntegerType()),
        T.StructField("lo", T.DoubleType()),
        T.StructField("hi", T.DoubleType()),
        T.StructField("cnt", T.LongType()),
    ]
)


def numeric_histogram(
    df: DataFrame, database: str, table: str, bins: int = 16
) -> DataFrame:
    """Equi-width histograms for every numeric column — the bounded
    distribution profile (≤ ``bins`` rows per column, vs one row per
    distinct value in the full histogram).

    Two jobs total for ALL columns: one min/max aggregate (tiny
    collect — the bounds become plan literals), then one melt +
    ``groupBy(columnName, bin)`` count — the profiler's single-scan
    shape, never an aggregate per column. Bin membership is
    :func:`_bin_exprs` (``greatest(…, 0)`` is a no-op on the column's
    own bounds), so counts are exactly reproducible (nulls excluded; a
    constant column lands in bin 0).
    """
    fields = [
        f for f in df.schema.fields if isinstance(f.dataType, T.NumericType)
    ]
    bounds = _numeric_bounds(df, fields)
    if not bounds:  # no numeric or only all-null columns: no rows
        return df.sparkSession.createDataFrame([], HISTOGRAM_SCHEMA)

    # keyed on the COLLECTED bounds as well as the schema: same data
    # -> same bounds -> memo hit on repeat profiles; changed data ->
    # new key -> fresh expressions (functions/memo.py)
    def _build() -> dict:
        mn_map, w_map = [], []
        for name, mn, mx in bounds:
            mn_map.extend([F.lit(name), F.lit(mn)])
            w_map.extend([F.lit(name), F.lit((mx - mn) / bins)])
        mns = F.create_map(*mn_map)[F.col("columnName")]
        ws = F.create_map(*w_map)[F.col("columnName")]
        return {
            **_bin_exprs(bounds, bins),
            "select": [
                *_labels(database, table),
                F.col("columnName"),
                F.col("bin").cast("int").alias("bin"),
                (mns + F.col("bin") * ws).alias("lo"),
                (mns + (F.col("bin") + 1) * ws).alias("hi"),
                F.col("cnt").cast("long").alias("cnt"),
            ],
        }

    bundle = expr_memo(
        ("numeric_histogram", database, table, bins, bounds), _build
    )
    return _bin_counts(df, bundle).select(*bundle["select"])


NESTED_SCHEMA = T.StructType(
    [
        T.StructField("databaseName", T.StringType()),
        T.StructField("tableName", T.StringType()),
        T.StructField("columnName", T.StringType()),
        T.StructField("dataType", T.StringType()),
        T.StructField("n_rows", T.LongType()),
        T.StructField("n_null", T.LongType()),
        T.StructField("len_min", T.LongType()),
        T.StructField("len_max", T.LongType()),
        T.StructField("len_avg", T.DoubleType()),
        T.StructField("n_elements", T.LongType()),
        T.StructField("n_null_elements", T.LongType()),
    ]
)


def profile_nested(df: DataFrame, database: str, table: str) -> DataFrame:
    """Profile NON-ATOMIC columns (array / map / struct) — the columns
    :func:`profile_table` skips — as one bounded wide aggregate.

    Per column: null count, length min/max/avg, total element count
    and null-element count, where "length" is ``size()`` for arrays
    and maps and the (constant) field count for structs; null elements
    are null array elements / null map values / null struct fields.
    Everything is a single ``df.agg`` over one scan — array elements
    are NEVER melted (a 100 TB embedding table would explode ×dim),
    the per-row terms are ``size``/``filter`` codegen expressions and
    the shuffle carries one row. ``len_avg`` is rounded to 6 decimals
    for cross-engine comparability (DuckDB ``len``/``list_filter``
    express the same stats — the driver oracle).
    """
    specs: list[tuple[T.StructField, F.Column, F.Column]] = []
    for f in df.schema.fields:
        c = _col(f.name)
        if isinstance(f.dataType, T.ArrayType):
            ln = F.size(c).cast("long")
            nullel = F.size(F.filter(c, lambda x: x.isNull())).cast("long")
        elif isinstance(f.dataType, T.MapType):
            ln = F.size(c).cast("long")
            nullel = F.size(
                F.filter(F.map_values(c), lambda x: x.isNull())
            ).cast("long")
        elif isinstance(f.dataType, T.StructType):
            nf = len(f.dataType.fields)
            ln = F.when(c.isNotNull(), F.lit(nf).cast("long"))
            nullel = F.when(
                c.isNotNull(),
                sum(
                    (c[sf.name].isNull().cast("long") for sf in f.dataType.fields),
                    start=F.lit(0).cast("long"),
                ),
            )
        else:
            continue
        specs.append((f, ln, nullel))
    if not specs:
        return df.sparkSession.createDataFrame([], NESTED_SCHEMA)
    wide = df.agg(
        *[
            F.struct(
                F.count(F.lit(1)).cast("long").alias("n_rows"),
                F.sum(_col(f.name).isNull().cast("long")).cast("long").alias("n_null"),
                F.min(ln).cast("long").alias("len_min"),
                F.max(ln).cast("long").alias("len_max"),
                F.round(F.avg(ln), 6).cast("double").alias("len_avg"),
                F.sum(ln).cast("long").alias("n_elements"),
                F.sum(nullel).cast("long").alias("n_null_elements"),
            ).alias(f.name)
            for f, ln, nullel in specs
        ]
    )
    return (
        wide.unpivot([], [_col(f.name) for f, _, _ in specs], "columnName", "s")
        .select(*_labels(database, table, [f for f, _, _ in specs]), "s.*")
    )


def profile_data(
    tables: dict[str, DataFrame],
    database: str,
    mode: str = "intended",
    top_k: int | None = None,
) -> DataFrame:
    """Profile a set of tables → one ``profileData`` DataFrame.

    One independent scan+aggregate branch per table, unioned lazily —
    Spark schedules the branches concurrently inside one job. The
    cross-table UNION set-dedup of the reference is a no-op in
    ``intended`` mode (rows carry their table name) and is applied
    per-table in ``as_written`` mode, so a cheap ``unionByName`` chain
    suffices here (no global distinct shuffle).
    """
    parts = [
        profile_table(df, database, name, mode, top_k=top_k)
        for name, df in tables.items()
    ]
    if not parts:
        raise ValueError("no tables to profile")
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def schema_information(
    tables: dict[str, DataFrame],
    database: str,
    spark: SparkSession | None = None,
) -> DataFrame:
    """Harvest every table's schema into one ``SchemaInformation`` DF.

    The reference drives this with per-table ``DESCRIBE`` + temp-view
    UNION accumulation (``dbc cell@8.0:8-20``); here it is pure
    ``df.schema`` reflection — zero scans, zero jobs until the result
    is consumed. Partition-metadata leakage rows (SURVEY.md §7.3) are
    intentionally absent in this primary mode; see
    ``catalog.describe_columns(include_partition_rows=True)`` for the
    behavioral-fidelity variant.
    """
    rows = []
    for name, df in tables.items():
        for f in df.schema.fields:
            rows.append(
                (
                    database,
                    name,
                    f.name,
                    f.dataType.simpleString(),
                    f.metadata.get("comment") if f.metadata else None,
                )
            )
    ss = spark or next(iter(tables.values())).sparkSession
    return ss.createDataFrame(rows, SCHEMA_INFORMATION_SCHEMA)


def equi_depth_histogram(
    df: DataFrame,
    database: str,
    table: str,
    cols: list[str],
    bins: int = 8,
) -> DataFrame:
    """Equal-count (quantile) binning per column: every bucket holds
    n/bins rows (±1), with its observed [lo, hi] value range — the
    histogram that stays informative on skewed distributions where
    equi-width piles everything into one bar. Output ≤ bins rows per
    column: (columnName, bucket, n_rows, lo, hi).

    AUDIT MODE, like numeric_quantiles_exact: ``ntile`` needs each
    column's rows sorted in ONE window partition, so per-column data
    must fit a task — exact and ANSI-reproducible (bucket sizes and
    bounds are deterministic even under value ties, because a sorted
    multiset is unique as a sequence), which is what makes it the
    oracle-checkable companion. The 100 TB path is GK-sketch
    boundaries (numeric_quantiles) + one bounded groupBy on the
    precomputed edges.

    One melt feeds every column through the same two windows —
    columns sort in parallel, one shuffle total. (A rank-pick
    rewrite over the distinct-value rank relation
    (:func:`ranked_value_counts`) was built, proven output-identical
    on every case incl. ties and n < bins, and MEASURED WORSE —
    2.6→4.1 and 1.9→2.9 s in two A/B pairs at sf0.1: the measure
    columns are near-unique, so the "distinct" compression saves
    nothing and the extra groupBy shuffle plus 2·bins conditional
    aggregates cost more than ntile's single sorted pass. Reverted
    per the measure-first rule.)
    """
    if not cols:
        return df.sparkSession.createDataFrame(
            [],
            "databaseName string, tableName string, columnName string,"
            " bucket int, n_rows bigint, lo double, hi double",
        )
    melted = df.unpivot(
        [], [_col(c).cast("double").alias(c) for c in cols], "columnName", "x"
    ).filter(F.col("x").isNotNull())
    w = Window.partitionBy("columnName").orderBy(F.col("x").asc())
    return (
        melted.withColumn("bucket", F.ntile(bins).over(w))
        .groupBy("columnName", "bucket")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("x").alias("lo"),
            F.max("x").alias("hi"),
        )
        .select(
            *_labels(database, table),
            "columnName",
            "bucket",
            "n_rows",
            "lo",
            "hi",
        )
    )
