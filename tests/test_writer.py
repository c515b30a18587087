"""Durable table layer: create/replace, atomic MERGE INTO, OPTIMIZE."""

from __future__ import annotations

import pytest
from pyspark.sql import Row

from lakehouse_tools_spark.operators.merge import not_in
from lakehouse_tools_spark.operators.layout import file_stats, skipping_effectiveness
from lakehouse_tools_spark.operators.writer import (
    _table_state,
    create_or_replace,
    optimize_clustered,
    read_version,
    table_history,
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
    optimize_clustered(spark, tbl, ["k"])
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
            optimize_clustered(spark, tbl, ["v", "k"], num_partitions=2)
    monkeypatch.undo()

    assert sorted(map(tuple, spark.table(tbl).collect())) == before
    assert [(r.version, r.is_current) for r in table_history(spark, tbl).collect()] == [
        (2, True)
    ]
    # the old generation's clustering declaration is live again
    assert _table_state(spark, tbl) == (2, ["k"])
    leftovers = [
        t.name
        for t in spark.catalog.listTables()
        if t.name.startswith(f"{tbl}__stage_") or t.name.startswith(f"{tbl}__old_")
    ]
    assert leftovers == []


def test_archives_found_for_mixed_case_table(spark):
    """The session catalog lower-cases table names; archives of a
    mixed-case table must still be found by history and time travel."""
    tbl = "T_Writer_MixedCase"
    _drop_all(spark, tbl.lower())
    create_or_replace(spark, spark.createDataFrame([Row(k="a", v=1)]), tbl)
    upsert_into(spark, tbl, spark.createDataFrame([Row(k="a", v=2)]), ["k"], keep_versions=1)
    assert sorted(map(tuple, table_history(spark, tbl).select("version", "is_current").collect())) == [
        (1, False),
        (2, True),
    ]
    assert [r.v for r in read_version(spark, tbl, 1).collect()] == [1]


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


def _files(spark, tbl):
    return set(spark.table(tbl).inputFiles())


def _rows(spark, tbl):
    return sorted(map(tuple, spark.table(tbl).collect()))


@pytest.fixture
def no_coalesce(spark):
    """Write 8 range partitions as 8 files, so a layout shows in the
    file count and per-file min/max (AQE would otherwise merge this
    small table into one file)."""
    confs = {
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
        "spark.sql.shuffle.partitions": "8",
    }
    old = {k: spark.conf.get(k) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    yield
    for k, v in old.items():
        spark.conf.set(k, v)


def _skipping(spark, tbl, col, values):
    """Per value of ``col``: the share of the table's files a min/max
    reader skips for ``col = value``."""
    path = spark.table(tbl).inputFiles()[0].rsplit("/", 1)[0]
    stats = file_stats(spark, path, [col])
    return [skipping_effectiveness(stats, col, v, v) for v in values]


def test_upsert_keeps_declared_clustering(spark, no_coalesce):
    """MERGE into a clustered table writes through the declared layout:
    its files prune the leading column exactly as a freshly optimized
    copy does, and the next OPTIMIZE writes nothing and keeps history."""
    tbl, fresh = "t_writer_declared", "t_writer_declared_fresh"
    _drop_all(spark, tbl)
    # 16 leading values over ~200 rows: the range sample sees every row,
    # so both layouts draw the same partition bounds
    rows = [Row(g=i % 16, k=i, v=i * 10) for i in range(160)]
    create_or_replace(spark, spark.createDataFrame(rows).repartition(4), tbl)
    optimize_clustered(spark, tbl, ["g", "k"])
    upsert_into(
        spark,
        tbl,
        spark.createDataFrame([Row(g=i % 16, k=i, v=-i) for i in range(150, 200)]),
        ["k"],
        keep_versions=1,
    )
    create_or_replace(spark, spark.table(tbl), fresh)
    optimize_clustered(spark, fresh, ["g", "k"])

    values = list(range(16))
    assert len(_files(spark, tbl)) > 1
    assert _skipping(spark, tbl, "g", values) == _skipping(spark, fresh, "g", values)
    assert min(_skipping(spark, tbl, "g", values)) > 0.5

    files, rows_before = _files(spark, tbl), _rows(spark, tbl)
    history = sorted(map(tuple, table_history(spark, tbl).collect()))
    assert _table_state(spark, tbl) == (2, ["g", "k"])
    optimize_clustered(spark, tbl, ["g", "k"])
    assert _files(spark, tbl) == files
    assert _rows(spark, tbl) == rows_before
    assert sorted(map(tuple, table_history(spark, tbl).collect())) == history
    assert sorted(map(tuple, read_version(spark, tbl, 1).collect())) == sorted(
        map(tuple, rows)
    )
    assert sorted(map(tuple, read_version(spark, tbl, 2).collect())) == rows_before


@pytest.mark.parametrize(
    "cols, num_partitions", [(["v"], None), (["k"], 2)], ids=["new_columns", "num_partitions"]
)
def test_optimize_rewrites_on_new_layout(spark, cols, num_partitions):
    """New columns, or an explicit partition count, rewrite the table
    and re-declare; the version counter stays."""
    tbl = "t_writer_relayout"
    _drop_all(spark, tbl)
    create_or_replace(spark, spark.createDataFrame([Row(k=i, v=-i) for i in range(8)]), tbl)
    upsert_into(spark, tbl, spark.createDataFrame([Row(k=9, v=-9)]), ["k"])
    optimize_clustered(spark, tbl, ["k"])
    files, rows = _files(spark, tbl), _rows(spark, tbl)
    optimize_clustered(spark, tbl, cols, num_partitions)
    assert _files(spark, tbl).isdisjoint(files)
    assert _rows(spark, tbl) == rows
    assert _table_state(spark, tbl) == (2, cols)


def test_create_or_replace_clears_clustering(spark):
    tbl = "t_writer_replace_clears"
    _drop_all(spark, tbl)
    create_or_replace(spark, spark.createDataFrame([Row(k=1, v=1)]), tbl)
    optimize_clustered(spark, tbl, ["k"])
    assert _table_state(spark, tbl)[1] == ["k"]
    create_or_replace(spark, spark.createDataFrame([Row(k=2, v=2)]), tbl)
    assert _table_state(spark, tbl)[1] is None
    # undeclared again, so the next OPTIMIZE rewrites
    files = _files(spark, tbl)
    optimize_clustered(spark, tbl, ["k"])
    assert _files(spark, tbl).isdisjoint(files)


def test_clustering_declaration_quotes_column_names(spark):
    """Column names that are SQL-significant (comma, quote, backtick,
    dot, variable reference) or non-ASCII survive the declaration as
    written: clustering, MERGE and a no-op re-OPTIMIZE all work."""
    tbl = "t_writer_odd_names"
    _drop_all(spark, tbl)
    odd = ["a,b", "it's", "x`y", "p.q", "wert_ä名", "${spark.sql.shuffle.partitions}"]
    ddl = ", ".join(["k int"] + [f"`{c.replace('`', '``')}` string" for c in odd])
    base = [(i, *[f"{c}-{i}" for c in odd]) for i in range(6)]
    create_or_replace(spark, spark.createDataFrame(base, ddl), tbl)
    optimize_clustered(spark, tbl, odd)
    assert _table_state(spark, tbl)[1] == odd
    upsert_into(
        spark,
        tbl,
        spark.createDataFrame([(5, *["new"] * len(odd)), (9, *["ins"] * len(odd))], ddl),
        ["k"],
    )
    assert _rows(spark, tbl) == sorted(
        base[:5] + [(5, *["new"] * len(odd)), (9, *["ins"] * len(odd))]
    )
    assert _table_state(spark, tbl) == (2, odd)
    files = _files(spark, tbl)
    optimize_clustered(spark, tbl, odd)
    assert _files(spark, tbl) == files
