"""Summary-stats profiler: exact vs approx (HLL) modes."""

from __future__ import annotations

from pyspark.sql import functions as F

from lakehouse_tools_spark.operators.profile import profile_summary


def _melts_only_the_aggregate(plan: str) -> bool:
    """One wide aggregate, no row multiplication: the plan's only
    Expand (the unpivot) sits above every aggregate, so it reshapes
    the one-row aggregate output, never the scanned rows."""
    lines = plan.splitlines()
    expands = [i for i, line in enumerate(lines) if "Expand" in line]
    aggs = [i for i, line in enumerate(lines) if "Aggregate" in line]
    return len(expands) == 1 and bool(aggs) and expands[0] < min(aggs)


def test_summary_exact_values(spark, tables):
    out = {
        r.columnName: r
        for r in profile_summary(tables["nation"], "db", "nation").collect()
    }
    nk = out["n_nationkey"]
    assert (nk.n_rows, nk.n_nulls, nk.n_distinct) == (25, 0, 25)
    assert (nk.min_value, nk.max_value) == ("0", "24")
    assert out["n_regionkey"].n_distinct == 5


def test_summary_typed_minmax_not_lexicographic(spark, tables):
    out = {
        r.columnName: r
        for r in profile_summary(tables["orders"], "db", "orders").collect()
    }
    # typed numeric min/max: lexicographic string ordering would put
    # e.g. "999" above "1000"; the typed path must agree with F.min/max
    expected = tables["orders"].agg(
        F.min("o_orderkey").alias("lo"), F.max("o_orderkey").alias("hi")
    ).first()
    assert int(out["o_orderkey"].min_value) == expected.lo
    assert int(out["o_orderkey"].max_value) == expected.hi


def test_summary_approx_single_pass_and_close(spark, tables):
    li = tables["lineitem"]
    exact = {
        r.columnName: r.n_distinct
        for r in profile_summary(li, "db", "lineitem").collect()
    }
    approx_df = profile_summary(li, "db", "lineitem", exact_distinct=False)
    plan = approx_df._jdf.queryExecution().executedPlan().toString()
    assert _melts_only_the_aggregate(plan)
    approx = {r.columnName: r.n_distinct for r in approx_df.collect()}
    # approx_count_distinct default rsd is 5% (1 sigma) — bound at 3x
    for col, nd in exact.items():
        assert abs(approx[col] - nd) <= max(0.15 * nd, 2), col


def test_numeric_quantiles_within_rank_error(spark, tables):
    from lakehouse_tools_spark.operators.profile import numeric_quantiles

    li = tables["lineitem"]
    out = {r.columnName: r for r in numeric_quantiles(li, "db", "lineitem").collect()}
    n = li.count()
    for col in ("l_quantity", "l_extendedprice"):
        vals = sorted(r[0] for r in li.select(col).collect())
        for prob, attr in ((0.25, "q25"), (0.5, "q50"), (0.75, "q75")):
            got = getattr(out[col], attr)
            # rank of the returned element must be within n/accuracy
            # (+1 slack for ties/rounding) of the target rank
            import bisect

            lo = bisect.bisect_left(vals, got)
            hi = bisect.bisect_right(vals, got)
            target = prob * n
            tol = n / 10000 + 2
            assert lo - tol <= target <= hi + tol, (col, prob, got)
    # quartiles are ordered
    for r in out.values():
        assert r.q25 <= r.q50 <= r.q75


def test_numeric_quantiles_single_pass(spark, tables):
    from lakehouse_tools_spark.operators.profile import numeric_quantiles

    plan = (
        numeric_quantiles(tables["orders"], "db", "orders")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert _melts_only_the_aggregate(plan)


def test_numeric_histogram_counts_and_bounds(spark, tables):
    from pyspark.sql import functions as F

    from lakehouse_tools_spark.operators.profile import numeric_histogram

    li = tables["lineitem"]
    out = numeric_histogram(li, "db1", "lineitem", bins=8)
    rows = out.collect()
    per_col = {}
    for r in rows:
        per_col.setdefault(r.columnName, []).append(r)
    numeric = [
        "l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
        "l_quantity", "l_extendedprice", "l_discount", "l_tax",
    ]
    assert set(per_col) == set(numeric)
    n = li.count()
    for c, rs in per_col.items():
        assert len(rs) <= 8                       # bounded output
        assert sum(r.cnt for r in rs) == n        # every non-null counted
        assert all(r.lo < r.hi or r.bin == 7 for r in rs)


def test_numeric_histogram_edge_columns(spark):
    from pyspark.sql import Row

    from lakehouse_tools_spark.operators.profile import numeric_histogram

    df = spark.createDataFrame(
        [Row(a=1.0, b=None, c=5), Row(a=1.0, b=None, c=5)],
        "a double, b double, c long",
    )
    rows = numeric_histogram(df, "db1", "t", bins=4).collect()
    by_col = {}
    for r in rows:
        by_col.setdefault(r.columnName, []).append(r)
    assert "b" not in by_col                      # all-null: no rows
    assert [ (r.bin, r.cnt) for r in by_col["a"] ] == [(0, 2)]  # constant col
    assert [ (r.bin, r.cnt) for r in by_col["c"] ] == [(0, 2)]


def test_numeric_histogram_no_numeric_columns(spark):
    from lakehouse_tools_spark.operators.profile import numeric_histogram

    df = spark.createDataFrame([("x",)], "s string")
    assert numeric_histogram(df, "db1", "t").count() == 0
