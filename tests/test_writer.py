"""Durable table layer: create/replace, atomic MERGE INTO, OPTIMIZE."""

from __future__ import annotations

import pytest
from pyspark.sql import Row

from lakehouse_tools_spark.operators.merge import not_in
from lakehouse_tools_spark.operators.writer import (
    create_or_replace,
    optimize_clustered,
    upsert_into,
)


def test_create_or_replace_and_upsert_roundtrip(spark):
    tbl = "t_writer_roundtrip"
    create_or_replace(
        spark, spark.createDataFrame([Row(k="a", v=1), Row(k="b", v=2)]), tbl
    )
    assert spark.table(tbl).count() == 2

    upsert_into(
        spark,
        tbl,
        spark.createDataFrame([Row(k="b", v=20), Row(k="c", v=30)]),
        ["k"],
    )
    assert {(r.k, r.v) for r in spark.table(tbl).collect()} == {
        ("a", 1),
        ("b", 20),
        ("c", 30),
    }
    # no staging/retired leftovers
    leftovers = [
        t.name for t in spark.catalog.listTables() if t.name.startswith(f"{tbl}__")
    ]
    assert leftovers == []


def test_upsert_into_with_residual(spark):
    tbl = "t_writer_residual"
    create_or_replace(spark, spark.createDataFrame([Row(k="", v=1)]), tbl)
    upsert_into(
        spark,
        tbl,
        spark.createDataFrame([Row(k="", v=10)]),
        ["k"],
        not_in("k", ["", "Not partitioned"]),
    )
    # residual-failing source row inserted alongside the kept target row
    assert sorted(r.v for r in spark.table(tbl).collect()) == [1, 10]


def test_optimize_clustered_preserves_rows(spark, tables):
    tbl = "t_writer_zorder"
    create_or_replace(spark, tables["nation"], tbl)
    before = sorted(map(tuple, spark.table(tbl).collect()))
    optimize_clustered(spark, tbl, ["n_regionkey", "n_name"], num_partitions=2)
    assert sorted(map(tuple, spark.table(tbl).collect())) == before


def test_versioned_upserts_time_travel(spark):
    from lakehouse_tools_spark.operators.writer import read_version, table_history

    tbl = "t_writer_versioned"
    for t in spark.catalog.listTables():
        if t.name.startswith(tbl):
            spark.sql(f"DROP TABLE `{t.name}`")
    create_or_replace(spark, spark.createDataFrame([Row(k="a", v=1), Row(k="b", v=2)]), tbl)
    upsert_into(
        spark, tbl, spark.createDataFrame([Row(k="b", v=20)]), ["k"], keep_versions=2
    )
    upsert_into(
        spark, tbl, spark.createDataFrame([Row(k="c", v=30)]), ["k"], keep_versions=2
    )
    hist = {(r.version, r.is_current) for r in table_history(spark, tbl).collect()}
    assert hist == {(1, False), (2, False), (3, True)}
    assert {(r.k, r.v) for r in read_version(spark, tbl, 1).collect()} == {
        ("a", 1),
        ("b", 2),
    }
    assert {(r.k, r.v) for r in read_version(spark, tbl, 2).collect()} == {
        ("a", 1),
        ("b", 20),
    }
    assert {(r.k, r.v) for r in read_version(spark, tbl, 3).collect()} == {
        ("a", 1),
        ("b", 20),
        ("c", 30),
    }


def test_version_pruning_and_unknown_version(spark):
    import pytest

    from lakehouse_tools_spark.operators.writer import read_version

    tbl = "t_writer_pruned"
    for t in spark.catalog.listTables():
        if t.name.startswith(tbl):
            spark.sql(f"DROP TABLE `{t.name}`")
    create_or_replace(spark, spark.createDataFrame([Row(k="a", v=1)]), tbl)
    for i in range(3):
        upsert_into(
            spark,
            tbl,
            spark.createDataFrame([Row(k="a", v=10 + i)]),
            ["k"],
            keep_versions=1,
        )
    # only the newest archive (v3) survives keep_versions=1
    names = {t.name for t in spark.catalog.listTables() if t.name.startswith(f"{tbl}__v")}
    assert names == {f"{tbl}__v3"}
    with pytest.raises(ValueError):
        read_version(spark, tbl, 1)
    assert [r.v for r in read_version(spark, tbl, 4).collect()] == [12]


def test_version_counter_survives_keep_versions_zero(spark):
    """A keep_versions=0 upsert between two versioned ones must not
    re-bind version numbers: the counter is a table property, not
    'newest archive + 1'."""
    from lakehouse_tools_spark.operators.writer import read_version, table_history

    tbl = "t_writer_counter"
    for t in spark.catalog.listTables():
        if t.name.startswith(tbl):
            spark.sql(f"DROP TABLE `{t.name}`")
    create_or_replace(spark, spark.createDataFrame([Row(k="a", v=1)]), tbl)
    upsert_into(
        spark, tbl, spark.createDataFrame([Row(k="a", v=2)]), ["k"], keep_versions=2
    )  # archives v1, live v2
    upsert_into(
        spark, tbl, spark.createDataFrame([Row(k="a", v=3)]), ["k"]
    )  # keep_versions=0: drops the v2 generation but MUST advance to v3
    upsert_into(
        spark, tbl, spark.createDataFrame([Row(k="a", v=4)]), ["k"], keep_versions=2
    )  # archives v3, live v4
    hist = {(r.version, r.is_current) for r in table_history(spark, tbl).collect()}
    assert hist == {(1, False), (3, False), (4, True)}
    # v1 still reads the original state; v2 is a gap (dropped), not re-bound
    assert [r.v for r in read_version(spark, tbl, 1).collect()] == [1]
    assert [r.v for r in read_version(spark, tbl, 3).collect()] == [3]
    assert [r.v for r in read_version(spark, tbl, 4).collect()] == [4]
    import pytest as _pytest

    with _pytest.raises(ValueError):
        read_version(spark, tbl, 2)


def test_vacuum_versions_never_drops_current(spark):
    from lakehouse_tools_spark.operators.writer import (
        read_version,
        vacuum_versions,
    )

    tbl = "t_writer_vacuum"
    for t in spark.catalog.listTables():
        if t.name.startswith(tbl):
            spark.sql(f"DROP TABLE `{t.name}`")
    create_or_replace(spark, spark.createDataFrame([Row(k="a", v=1)]), tbl)
    for i in range(3):
        upsert_into(
            spark,
            tbl,
            spark.createDataFrame([Row(k="a", v=10 + i)]),
            ["k"],
            keep_versions=10,
        )
    dropped = vacuum_versions(spark, tbl, keep_last=1)
    assert dropped == [1, 2]
    names = {
        t.name for t in spark.catalog.listTables() if t.name.startswith(f"{tbl}__v")
    }
    assert names == {f"{tbl}__v3"}
    # live table untouched, version numbering unaffected
    assert [r.v for r in read_version(spark, tbl, 4).collect()] == [12]
    assert [r.v for r in read_version(spark, tbl, 3).collect()] == [11]
    # keep_last=0 empties the archive but never the live generation
    assert vacuum_versions(spark, tbl, keep_last=0) == [3]
    assert [r.v for r in spark.table(tbl).collect()] == [12]


def _drop_all(spark, tbl):
    for t in spark.catalog.listTables():
        if t.name.startswith(tbl):
            spark.sql(f"DROP TABLE `{t.name}`")


def test_optimize_keeps_version_number(spark):
    """OPTIMIZE rewrites the layout, not the rows: the version counter
    must carry through, so the next versioned MERGE archives the
    optimized state under the number it was read as."""
    from lakehouse_tools_spark.operators.writer import read_version, table_history

    tbl = "t_writer_opt_version"
    _drop_all(spark, tbl)
    create_or_replace(spark, spark.createDataFrame([Row(k="a", v=1)]), tbl)
    upsert_into(spark, tbl, spark.createDataFrame([Row(k="b", v=2)]), ["k"])
    upsert_into(spark, tbl, spark.createDataFrame([Row(k="c", v=3)]), ["k"])
    optimize_clustered(spark, tbl, ["k"], num_partitions=2)
    current = [r.version for r in table_history(spark, tbl).collect() if r.is_current]
    assert current == [3]
    optimized = sorted(map(tuple, spark.table(tbl).collect()))
    upsert_into(
        spark, tbl, spark.createDataFrame([Row(k="d", v=4)]), ["k"], keep_versions=1
    )
    assert sorted(map(tuple, read_version(spark, tbl, 3).collect())) == optimized
    assert [r.v for r in read_version(spark, tbl, 4).where("k = 'd'").collect()] == [4]


@pytest.mark.parametrize("op", ["upsert_into", "optimize_clustered"])
def test_failed_swap_rolls_back(spark, monkeypatch, op):
    """If the staging→live rename fails, the old generation is live
    again with its rows and version, and no staging or retired table
    is left behind."""
    from lakehouse_tools_spark.operators.writer import table_history

    tbl = f"t_writer_rollback_{op}"
    _drop_all(spark, tbl)
    create_or_replace(spark, spark.createDataFrame([Row(k="a", v=1)]), tbl)
    upsert_into(spark, tbl, spark.createDataFrame([Row(k="b", v=2)]), ["k"])
    before = sorted(map(tuple, spark.table(tbl).collect()))

    real_sql = spark.sql

    def failing_sql(query, *args, **kwargs):
        if "__stage_" in query and "RENAME TO" in query:
            raise RuntimeError("rename failed")
        return real_sql(query, *args, **kwargs)

    monkeypatch.setattr(spark, "sql", failing_sql)
    with pytest.raises(RuntimeError, match="rename failed"):
        if op == "upsert_into":
            upsert_into(spark, tbl, spark.createDataFrame([Row(k="c", v=3)]), ["k"])
        else:
            optimize_clustered(spark, tbl, ["k"], num_partitions=2)
    monkeypatch.undo()

    assert sorted(map(tuple, spark.table(tbl).collect())) == before
    assert [(r.version, r.is_current) for r in table_history(spark, tbl).collect()] == [
        (2, True)
    ]
    leftovers = [
        t.name
        for t in spark.catalog.listTables()
        if t.name.startswith(f"{tbl}__stage_") or t.name.startswith(f"{tbl}__old_")
    ]
    assert leftovers == []


def test_vacuum_versions_keeps_all_when_fewer_than_keep_last(spark):
    from lakehouse_tools_spark.operators.writer import vacuum_versions

    tbl = "t_writer_vacuum_few"
    _drop_all(spark, tbl)
    create_or_replace(spark, spark.createDataFrame([Row(k="a", v=1)]), tbl)
    for i in range(3):
        upsert_into(
            spark,
            tbl,
            spark.createDataFrame([Row(k="a", v=10 + i)]),
            ["k"],
            keep_versions=4,
        )
    names = {t.name for t in spark.catalog.listTables() if t.name.startswith(f"{tbl}__v")}
    assert names == {f"{tbl}__v1", f"{tbl}__v2", f"{tbl}__v3"}
    assert vacuum_versions(spark, tbl, keep_last=4) == []
