"""Distribution drift / PSI (operators/drift.py)."""

from __future__ import annotations

from pyspark.sql import Row
from pyspark.sql import functions as F

from lakehouse_tools_spark.operators.drift import histogram_drift


def _df(spark, vals, col="x"):
    return spark.createDataFrame([Row(**{col: float(v), "k": i}) for i, v in enumerate(vals)])


def test_identical_snapshots_zero_psi(spark):
    base = _df(spark, range(100))
    out = histogram_drift(base, base, "db", "t").collect()
    assert len(out) == 2  # x and k
    for r in out:
        assert r.psi == 0.0
        assert r.n_base == r.n_curr == 100


def test_shift_lights_up_only_the_shifted_column(spark):
    base = _df(spark, range(1000))
    cur = base.withColumn("x", F.col("x") + 500.0)
    got = {r.columnName: r.psi for r in histogram_drift(base, cur, "db", "t").collect()}
    assert got["k"] == 0.0
    assert got["x"] > 0.25  # "shifted" per the standard PSI rule of thumb


def test_out_of_range_values_clamp_not_vanish(spark):
    base = _df(spark, range(10))
    cur = _df(spark, [1e6] * 10)  # far beyond the baseline max
    out = {r.columnName: r for r in histogram_drift(base, cur, "db", "t").collect()}
    assert out["x"].n_curr == 10  # clamped into the top bin, not dropped
    assert out["x"].psi > 0.25


def test_all_null_baseline_column_skipped(spark):
    base = spark.createDataFrame(
        [Row(x=None, k=i) for i in range(5)], "x double, k long"
    )
    out = histogram_drift(base, base, "db", "t").collect()
    assert {r.columnName for r in out} == {"k"}


def test_partitioning_invariant(spark):
    base = _df(spark, range(200))
    cur = base.withColumn("x", F.col("x") * 1.3)
    a = sorted(map(tuple, histogram_drift(base, cur, "db", "t").collect()))
    b = sorted(
        map(
            tuple,
            histogram_drift(base.repartition(7), cur.repartition(3), "db", "t").collect(),
        )
    )
    assert a == b


# --- ks_drift --------------------------------------------------------


def test_ks_identical_snapshots_zero(spark):
    from lakehouse_tools_spark.operators.drift import ks_drift

    base = _df(spark, range(100))
    out = {r.columnName: r for r in ks_drift(base, base, ["x", "k"]).collect()}
    assert set(out) == {"x", "k"}
    for r in out.values():
        assert r.n_base == r.n_curr == 100
        # the 1e-9 nudge floors exact-zero D to 0.0
        assert r.ks == 0.0


def test_ks_disjoint_supports_is_one(spark):
    from lakehouse_tools_spark.operators.drift import ks_drift

    base = _df(spark, range(50))
    cur = _df(spark, range(1000, 1050))
    out = {r.columnName: r.ks for r in ks_drift(base, cur, ["x"]).collect()}
    assert out["x"] == 1.0


def test_ks_matches_scipy_formula_hand_case(spark):
    from lakehouse_tools_spark.operators.drift import ks_drift

    # base {1,2,3,4}, cur {3,4,5,6}: D is attained at v=2
    # (F_b=0.5, F_c=0) and at v=4 (F_b=1, F_c=0.5) -> 0.5
    base = _df(spark, [1, 2, 3, 4])
    cur = _df(spark, [3, 4, 5, 6])
    out = {r.columnName: r.ks for r in ks_drift(base, cur, ["x"]).collect()}
    assert out["x"] == 0.5


def test_ks_partitioning_invariant_and_null_safe(spark):
    from pyspark.sql import Row

    from lakehouse_tools_spark.operators.drift import ks_drift

    base = spark.createDataFrame(
        [Row(x=float(i) if i % 7 else None, k=i) for i in range(200)],
        "x double, k long",
    )
    cur = base.withColumn("x", F.col("x") * 1.5)
    a = sorted(map(tuple, ks_drift(base, cur, ["x", "k"]).collect()))
    b = sorted(
        map(
            tuple,
            ks_drift(
                base.repartition(7), cur.repartition(3), ["x", "k"]
            ).collect(),
        )
    )
    assert a == b
    got = {r[0]: r for r in a}
    # nulls are excluded from both CDFs, not counted as a value
    assert got["x"][1] == got["x"][2] == 200 - len(range(0, 200, 7))
    assert got["x"][3] > 0.0
    assert got["k"][3] == 0.0


def test_no_common_numeric_column_gives_empty_frame(spark):
    base = spark.createDataFrame([Row(x=1.0, s="a")])
    cur = spark.createDataFrame([Row(y=1.0, s="a")])
    out = histogram_drift(base, cur, "db", "t")
    assert out.count() == 0
    assert out.columns == ["databaseName", "tableName", "columnName", "n_base", "n_curr", "psi"]
