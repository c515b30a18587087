"""Profiler semantics (SURVEY.md §1.4, §7.3; reference dbc cell@8.0)."""

from __future__ import annotations

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from lakehouse_tools_spark.operators.profile import (
    profile_data,
    profile_table,
    schema_information,
)


def test_intended_is_value_histogram(spark):
    df = spark.createDataFrame(
        [Row(c="x"), Row(c="x"), Row(c="y"), Row(c=None)]
    )
    out = {
        (r.value, r.num_records, r.len)
        for r in profile_table(df, "db", "t").collect()
    }
    assert out == {("x", 2.0, 1.0), ("y", 1.0, 1.0), (None, 1.0, None)}


def test_intended_carries_dtype_and_names(spark):
    df = spark.createDataFrame([Row(a=1, b="s")])
    rows = profile_table(df, "mydb", "mytab").collect()
    assert {(r.databaseName, r.tableName) for r in rows} == {("mydb", "mytab")}
    dtypes = {r.columnName: r.dataType for r in rows}
    assert dtypes == {"a": "bigint", "b": "string"}


def test_as_written_reproduces_quoting_bug(spark):
    # value must be the column NAME, len the length of the name, one
    # row per distinct (column, group-count) after UNION set-dedup
    # (dbc cell@8.0:34, results@12.0).
    df = spark.createDataFrame([Row(col1="x"), Row(col1="x"), Row(col1="y")])
    rows = profile_table(df, "db", "t", mode="as_written").collect()
    assert {(r.value, r.len) for r in rows} == {("col1", 4.0)}
    assert sorted(r.num_records for r in rows) == [1.0, 2.0]


def test_as_written_union_dedup_collapses_equal_counts(spark):
    # 3 distinct values, each appearing twice -> identical rows after
    # name-masking -> UNION set semantics keeps ONE row.
    df = spark.createDataFrame([Row(c=v) for v in ["a", "a", "b", "b", "c", "c"]])
    rows = profile_table(df, "db", "t", mode="as_written").collect()
    assert len(rows) == 1 and rows[0].num_records == 2.0


def test_non_atomic_columns_skipped(spark, tables):
    out = profile_data({"embeddings": tables["embeddings"]}, "db")
    cols = {r.columnName for r in out.select("columnName").distinct().collect()}
    assert cols == {"vec_id", "label"}  # array<float> embedding skipped


def test_profile_is_single_shuffle_per_table(spark, tables):
    # One scan + one aggregate exchange: no join/union-of-aggregates
    # fan-out like the reference's per-column GROUP BY shape.
    plan = profile_table(tables["orders"], "db", "orders")._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") <= 2  # partial/final agg boundary only
    assert "Join" not in plan


def test_schema_information_shape(spark, tables):
    out = schema_information({"nation": tables["nation"]}, "db", spark)
    rows = {(r.columnName, r.dataType) for r in out.collect()}
    assert rows == {
        ("n_nationkey", "int"),
        ("n_name", "string"),
        ("n_regionkey", "int"),
    }


def test_timestamp_rendering_seconds_utc(spark, tables):
    out = profile_data({"orders": tables["orders"]}, "db")
    val = (
        out.filter(F.col("columnName") == "o_orderdate")
        .select("value")
        .first()
        .value
    )
    assert len(val) == 19 and val[4] == "-" and val[13] == ":"


def test_quantiles_exact_rejects_non_quartile_prob_count(spark, tables):
    import pytest as _pytest

    from lakehouse_tools_spark.operators.profile import numeric_quantiles_exact

    with _pytest.raises(ValueError, match="exactly 3"):
        numeric_quantiles_exact(
            tables["orders"], "db", "orders", probs=(0.5,)
        )


def test_profile_nested_array_map_struct(spark):
    from pyspark.sql import functions as F  # noqa: F401

    from lakehouse_tools_spark.operators.profile import profile_nested

    df = spark.createDataFrame(
        [
            (1, [1.0, None, 3.0], {"a": 1, "b": None}, (10, None)),
            (2, None, None, (None, None)),
            (3, [], {"a": 2}, None),
        ],
        "id int, arr array<double>, mp map<string,int>, st struct<x:int,y:int>",
    )
    out = {r.columnName: r for r in profile_nested(df, "db", "t").collect()}
    assert set(out) == {"arr", "mp", "st"}  # atomic 'id' skipped
    a = out["arr"]
    assert (a.n_rows, a.n_null, a.len_min, a.len_max, a.len_avg) == (3, 1, 0, 3, 1.5)
    assert (a.n_elements, a.n_null_elements) == (3, 1)
    m = out["mp"]
    assert (m.n_null, m.len_min, m.len_max, m.n_null_elements) == (1, 1, 2, 1)
    s = out["st"]
    # struct length = field count; null fields counted per non-null row
    assert (s.n_null, s.len_min, s.len_max, s.n_elements, s.n_null_elements) == (
        1, 2, 2, 4, 3,
    )


def test_profile_nested_no_nested_columns_empty(spark, tables):
    from lakehouse_tools_spark.operators.profile import profile_nested

    out = profile_nested(tables["nation"], "db", "nation")
    assert out.count() == 0


def test_numeric_correlations(spark):
    import math

    from pyspark.sql import Row

    from lakehouse_tools_spark.operators.profile import numeric_correlations

    rows = [Row(a=float(i), b=2.0 * i + 1, c=float(-i), d=float(i * i)) for i in range(10)]
    df = spark.createDataFrame(rows)
    out = {(r.col1, r.col2): r.corr for r in numeric_correlations(df, "db", "t").collect()}
    # perfectly linear pairs
    assert out[("a", "b")] == 1.0
    assert out[("a", "c")] == -1.0
    # quadratic pair: strong but not perfect
    assert 0.9 < out[("a", "d")] < 1.0
    # C(4,2) = 6 pairs, each labeled db/t
    assert len(out) == 6


def test_numeric_correlations_no_numeric(spark):
    from pyspark.sql import Row

    from lakehouse_tools_spark.operators.profile import numeric_correlations

    df = spark.createDataFrame([Row(s="x")])
    assert numeric_correlations(df, "db", "t").count() == 0


def test_numeric_outliers_fences(spark):
    from pyspark.sql import Row

    from lakehouse_tools_spark.operators.profile import numeric_outliers

    # 1..8 plus two extreme points; quartiles of the 10 values set the
    # fences, the extremes land outside
    vals = [float(v) for v in range(1, 9)] + [100.0, -100.0]
    df = spark.createDataFrame([Row(x=v) for v in vals])
    r = numeric_outliers(df, "db", "t").collect()[0]
    assert r.columnName == "x" and r.n_values == 10
    assert r.n_outliers == 2
    assert r.lo_fence < 1.0 and r.hi_fence > 8.0
    # nulls are not counted as values or outliers
    df2 = spark.createDataFrame([Row(x=v) for v in vals] + [Row(x=None)])
    r2 = numeric_outliers(df2, "db", "t").collect()[0]
    assert r2.n_values == 10 and r2.n_outliers == 2


def test_grouped_quantiles_exact_and_sketch(spark):
    from pyspark.sql import Row

    from lakehouse_tools_spark.operators.profile import grouped_quantiles

    rows = [Row(g="a", v=float(i)) for i in range(1, 6)] + [
        Row(g="b", v=10.0),
        Row(g="b", v=20.0),
        Row(g="c", v=None),
    ]
    df = spark.createDataFrame(rows)
    out = {r.groupValue: r for r in grouped_quantiles(df, "g", "v", "db", "t").collect()}
    # group a = 1..5: interpolated quartiles 2, 3, 4
    assert (out["a"].q25, out["a"].q50, out["a"].q75) == (2.0, 3.0, 4.0)
    assert out["a"].n_values == 5
    # two-point group interpolates the midpoint median
    assert out["b"].q50 == 15.0 and out["b"].n_values == 2
    # all-null group: zero values, null quartiles
    assert out["c"].n_values == 0 and out["c"].q50 is None
    # sketch mode returns real elements within the group's range
    sk = {r.groupValue: r for r in grouped_quantiles(
        df, "g", "v", "db", "t", exact=False
    ).collect()}
    assert 1.0 <= sk["a"].q50 <= 5.0


def test_column_entropy(spark):
    import math

    from pyspark.sql import Row

    from lakehouse_tools_spark.operators.profile import column_entropy

    df = spark.createDataFrame(
        [Row(a="x", b="u"), Row(a="x", b="v"), Row(a="x", b=None), Row(a="x", b="u")]
    )
    out = {r.columnName: r for r in column_entropy(df, "db", "t", ["a", "b"]).collect()}
    # constant column: zero entropy, one value
    assert out["a"].n_values == 1 and out["a"].entropy == 0.0
    # b: u,u,v,null -> p = (2/4, 1/4, 1/4); null is a category
    assert out["b"].n_values == 3
    expected = -(0.5 * math.log(0.5) + 2 * 0.25 * math.log(0.25))
    assert abs(out["b"].entropy - math.floor(expected * 1e6) / 1e6) < 2e-6


def _column_list_ops():
    from lakehouse_tools_spark.operators import drift, profile

    return {
        "column_entropy": lambda df, cols: profile.column_entropy(df, "db", "t", cols),
        "numeric_correlations": lambda df, cols: profile.numeric_correlations(
            df, "db", "t", cols=cols
        ),
        "numeric_outliers": lambda df, cols: profile.numeric_outliers(
            df, "db", "t", cols=cols
        ),
        "clip_outliers": lambda df, cols: profile.clip_outliers(df, cols),
        "equi_depth_histogram": lambda df, cols: profile.equi_depth_histogram(
            df, "db", "t", cols
        ),
        "ks_drift": lambda df, cols: drift.ks_drift(df, df, cols),
    }


@pytest.mark.parametrize("op", sorted(_column_list_ops()))
def test_empty_column_list(spark, op):
    """Every operator that takes a column list accepts an empty one:
    the profilers return their empty typed frame (same columns and
    types as a non-empty call), and clip_outliers returns its input."""
    run = _column_list_ops()[op]
    df = spark.createDataFrame([Row(a="x", b=1.0, c=2.0)])
    empty = run(df, [])
    if op == "clip_outliers":
        assert empty.collect() == df.collect()
        return
    assert empty.count() == 0
    assert empty.dtypes == run(df, ["b", "c"]).dtypes


def test_fence_and_correlation_operators_quote_dotted_names(spark):
    from lakehouse_tools_spark.operators.profile import (
        clip_outliers,
        numeric_correlations,
        numeric_outliers,
    )

    vals = [float(v) for v in range(1, 9)] + [100.0, -100.0]
    df = spark.createDataFrame([(v, 2.0 * v) for v in vals], "`a.x` double, b double")
    out = {r.columnName: r for r in numeric_outliers(df, "db", "t").collect()}
    assert out["a.x"].n_values == 10 and out["a.x"].n_outliers == 2
    clipped = [r["a.x"] for r in clip_outliers(df, ["a.x"]).collect()]
    assert -100.0 < min(clipped) and max(clipped) < 100.0
    corr = {(r.col1, r.col2): r.corr for r in numeric_correlations(df, "db", "t").collect()}
    assert corr == {("a.x", "b"): 1.0}


def test_clip_bounds_equal_outlier_fences(spark):
    """clip_outliers clamps to exactly the fences numeric_outliers
    reports: on data with outliers on both tails, the clipped min/max
    rounded to 6 places are the reported lo/hi fences."""
    from lakehouse_tools_spark.operators.profile import clip_outliers, numeric_outliers

    vals = [1.3 * i for i in range(1, 21)] + [-97.7, 123.4, 250.1]
    df = spark.createDataFrame([Row(x=v) for v in vals])
    r = numeric_outliers(df, "db", "t", ["x"]).collect()[0]
    assert r.n_outliers == 3
    lo, hi = (
        clip_outliers(df, ["x"])
        .agg(F.round(F.min("x"), 6), F.round(F.max("x"), 6))
        .first()
    )
    assert min(vals) < lo and hi < max(vals)
    assert (lo, hi) == (r.lo_fence, r.hi_fence)


def test_clip_outliers(spark):
    from pyspark.sql import Row

    from lakehouse_tools_spark.operators.profile import clip_outliers

    vals = [float(v) for v in range(1, 9)] + [100.0, -100.0, None]
    df = spark.createDataFrame([Row(x=v) for v in vals])
    out = [r.x for r in clip_outliers(df, ["x"]).collect()]
    # extremes clamp to the fences, inliers and nulls untouched
    assert None in out
    clipped = [v for v in out if v is not None]
    assert max(clipped) < 100.0 and min(clipped) > -100.0
    for v in range(1, 9):
        assert float(v) in clipped
    # idempotent: clipping the clipped relation changes nothing...
    # (fences recompute on clipped data but all values are inside)
    again = [r.x for r in clip_outliers(clip_outliers(df, ["x"]), ["x"]).collect()]
    assert sorted(clipped) == sorted(v for v in again if v is not None)


def test_equi_depth_buckets_balanced_and_ordered(spark, tables):
    """Bucket sizes differ by ≤1 and value ranges are non-overlapping
    and ordered — the definition of equal-count binning."""
    from lakehouse_tools_spark.operators.profile import equi_depth_histogram

    out = equi_depth_histogram(
        tables["orders"], "db1", "orders", ["o_totalprice"], bins=10
    ).collect()
    assert len(out) == 10
    sizes = [r.n_rows for r in out]
    assert max(sizes) - min(sizes) <= 1
    by_bucket = sorted(out, key=lambda r: r.bucket)
    for a, b in zip(by_bucket, by_bucket[1:]):
        assert a.hi <= b.lo
        assert a.lo <= a.hi


def test_exact_quantile_cells_bit_matches_percentile(spark, tables):
    """Optimization r13: the distributed exact-percentile path
    (melt → distinct-value counts → per-column cumulative rank →
    interpolated rank-pick) must be BIT-identical to Spark's own
    ``F.percentile`` aggregate — repr equality of the doubles, no
    tolerance — including endpoints, ties, int columns, and nulls.
    All-null columns yield no row (callers spine-join them back)."""
    from pyspark.sql import functions as F

    from lakehouse_tools_spark.operators.profile import exact_quantile_cells

    probs = (0.0, 0.25, 1.0 / 3.0, 0.5, 0.75, 0.999, 1.0)
    li = tables["lineitem"]
    cols = ["l_quantity", "l_extendedprice", "l_discount", "l_linenumber"]
    qs = F.array(*[F.lit(float(p)) for p in probs])
    ref = li.agg(
        *[F.percentile(F.col(c), qs).alias(c) for c in cols]
    ).collect()[0]
    got = {r["columnName"]: r for r in exact_quantile_cells(li, cols, probs).collect()}
    for c in cols:
        for i in range(len(probs)):
            assert repr(float(ref[c][i])) == repr(float(got[c][f"q{i}"])), (
                c,
                probs[i],
            )

    # nulls ignored, ties interpolate identically, all-null absent
    syn = spark.createDataFrame(
        [(None, 7.0, 1), (None, 7.0, 1), (None, 3.0, 2)],
        "a double, b double, c int",
    )
    sref = syn.agg(
        *[F.percentile(F.col(c), qs).alias(c) for c in ("a", "b", "c")]
    ).collect()[0]
    sgot = {
        r["columnName"]: r
        for r in exact_quantile_cells(syn, ["a", "b", "c"], probs).collect()
    }
    assert "a" not in sgot and sref["a"] is None
    for c in ("b", "c"):
        for i in range(len(probs)):
            assert repr(float(sref[c][i])) == repr(float(sgot[c][f"q{i}"]))


#: Column names that break SQL parsing when spliced unquoted: a
#: backtick, a dot, a quote, unicode, a comma, a conf-substitution
#: token, and the profilers' own label column.
_ANY_NAMES = ["x`y", "p.q", "it's", "wert_ä名", "a,b", "${spark.sql.shuffle.partitions}", "columnName"]
_PLAIN_NAMES = [f"v{i}" for i in range(len(_ANY_NAMES))]


def _any_name_frame(spark, names, nested=False):
    """``k``, ``s`` and one column per name, each with its own values
    (doubles with a null and an outlier, or arrays with null
    elements), so a label bound to the wrong column shows."""
    from pyspark.sql import types as T

    def value(k, i):
        if nested:
            return [k, None][: 1 + (k + i) % 2] if (k + i) % 4 else None
        return None if k == 5 else (100.0 if k == 11 else 1.5 * k) * (i + 1)

    kind = T.ArrayType(T.IntegerType()) if nested else T.DoubleType()
    schema = T.StructType(
        [T.StructField("k", T.LongType()), T.StructField("s", T.StringType())]
        + [T.StructField(n, kind) for n in names]
    )
    rows = [(k, f"s{k % 3}", *[value(k, i) for i in range(len(names))]) for k in range(12)]
    return spark.createDataFrame(rows, schema)


def _any_name_ops():
    """op -> run(df, names). Operators that take one column run once
    per name and union the results."""
    import datetime as dt
    from functools import reduce

    from lakehouse_tools_spark.functions.portable import _col
    from lakehouse_tools_spark.operators import (
        diff,
        drift,
        golden,
        reshape,
        rollup,
        scd,
        sketches,
    )
    from lakehouse_tools_spark.operators import profile as P
    from lakehouse_tools_spark.sources.tables import _normalize_types

    def per_name(run):
        def each(df, names):
            return reduce(
                lambda a, b: a.unionByName(b),
                [run(df, n).withColumn("_name", F.lit(n)) for n in names],
            )

        return each

    def snapshot_diff(df, names):
        old = df.select("k", *[_col(n) for n in names])
        new = old.where(F.col("k") != 1)
        for n in names:
            new = new.withColumn(n, F.when(F.col("k") == 2, _col(n) + 1).otherwise(_col(n)))
        return diff.snapshot_diff(old, new, ["k"])

    def scd2_apply(df, names):
        snap = df.select("k", *[_col(n) for n in names])
        dim = scd.scd2_init(snap, dt.datetime(2024, 1, 1))
        new = snap.where(F.col("k") != 1).withColumn(names[0], _col(names[0]) + 1)
        return scd.scd2_apply(dim, new, ["k"], dt.datetime(2024, 2, 1))

    def rollups(df, names):
        p = rollup.rollup_partials(df, ["s"], names)
        return rollup.rollup_result(rollup.merge_rollups([p, p], ["s"]), ["s"])

    def pivot_counts(group_and_pivot):
        def run(df, names):
            (g, p), labels = group_and_pivot(names), [f"{n}!" for n in names]
            pivot = F.array(*map(F.lit, labels))[F.col("k") % len(names)]
            return reshape.pivot_counts(df.withColumn(p, pivot), g, p, labels)

        return run

    def normalize_types(df, names):
        ntz = F.to_timestamp_ntz(F.format_string("2024-01-%02d", F.col("k") + 1))
        d = df.select("k", *[ntz.alias(n) for n in names])
        return _normalize_types(d, d.schema, "t")

    return {
        "profile_table": lambda df, names: P.profile_table(df, "db", "t"),
        # as_written's len is the length of the column NAME itself
        "profile_table_as_written": lambda df, names: P.profile_table(
            df, "db", "t", mode="as_written"
        ).drop("len"),
        "profile_summary": lambda df, names: P.profile_summary(df, "db", "t"),
        "profile_summary_approx": lambda df, names: P.profile_summary(
            df, "db", "t", exact_distinct=False
        ),
        "numeric_quantiles": lambda df, names: P.numeric_quantiles(df, "db", "t"),
        "numeric_quantiles_exact": lambda df, names: P.numeric_quantiles_exact(df, "db", "t"),
        "numeric_histogram": lambda df, names: P.numeric_histogram(df, "db", "t"),
        "numeric_correlations": lambda df, names: P.numeric_correlations(df, "db", "t"),
        "numeric_outliers": lambda df, names: P.numeric_outliers(df, "db", "t"),
        "clip_outliers": lambda df, names: P.clip_outliers(df, names),
        "grouped_quantiles": per_name(
            lambda df, n: P.grouped_quantiles(df, "s", n, "db", "t")
        ),
        "column_entropy": lambda df, names: P.column_entropy(df, "db", "t", [*names, "s"]),
        "equi_depth_histogram": lambda df, names: P.equi_depth_histogram(
            df, "db", "t", names, bins=4
        ),
        "profile_nested": lambda df, names: P.profile_nested(df, "db", "t"),
        "histogram_drift": lambda df, names: drift.histogram_drift(
            df, df.where(F.col("k") > 2), "db", "t"
        ),
        "ks_drift": lambda df, names: drift.ks_drift(df, df.where(F.col("k") > 2), names),
        "distinct_sketches": lambda df, names: sketches.estimate_distinct(
            sketches.distinct_sketches(df, [*names, "s"])
        ),
        "melt": lambda df, names: reshape.melt(df, ["k"], names),
        # named group column; pivot values that become column names
        "pivot_counts": pivot_counts(lambda names: (names[0], "p")),
        # ...and a named pivot column
        "pivot_counts_named_pivot": pivot_counts(lambda names: (names[1], names[0])),
        "snapshot_diff": snapshot_diff,
        "golden_records": lambda df, names: golden.golden_records(
            df, "s", {**{n: "max" for n in names}, "k": "latest"}, recency_col=names[0]
        ),
        "scd2_apply": scd2_apply,
        "rollup": rollups,
        "countmin_sketch": per_name(
            lambda df, n: sketches.countmin_estimate(sketches.countmin_sketch(df, n), df, n)
        ),
        "normalize_types": normalize_types,
    }


@pytest.mark.parametrize("op", sorted(_any_name_ops()))
def test_profilers_accept_any_column_name(spark, op):
    """Every operator gives the same rows for columns named anything
    as for the same frame with plain names: labels, output column
    names and types, and values map back one to one."""
    run = _any_name_ops()[op]
    nested = op == "profile_nested"
    plain_out = run(_any_name_frame(spark, _PLAIN_NAMES, nested), _PLAIN_NAMES)
    fixed = set(plain_out.columns)  # output columns not named after inputs

    def rows(out, names):
        plain = dict(zip(names, _PLAIN_NAMES))

        def back(c):
            for n, p in plain.items():
                c = c if c in fixed else c.replace(n, p)
            return c

        cols = [back(c) for c in out.columns]
        return sorted(zip(cols, [t for _, t in out.dtypes])), sorted(
            repr(sorted(zip(cols, (plain.get(x, x) if isinstance(x, str) else x for x in r))))
            for r in out.collect()
        )

    want = rows(plain_out, _PLAIN_NAMES)
    assert want[1], op  # the case is not vacuous
    assert rows(run(_any_name_frame(spark, _ANY_NAMES, nested), _ANY_NAMES), _ANY_NAMES) == want
