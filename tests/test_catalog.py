"""Catalog layer (SURVEY.md §2.1 C1–C7)."""

from __future__ import annotations

from lakehouse_tools_spark.catalog import (
    DEFAULT_EXCLUSIONS,
    describe_columns,
    current_database,
    drop_temp_view,
    list_databases,
    list_tables,
    table_names,
)


def test_drop_temp_view(spark, tables):
    tables["region"].createOrReplaceTempView("t_c11_view")
    assert spark.catalog.tableExists("t_c11_view")
    assert drop_temp_view(spark, "t_c11_view") is True
    assert not spark.catalog.tableExists("t_c11_view")
    assert drop_temp_view(spark, "t_c11_view") is False  # IF EXISTS shape


def test_list_databases(spark):
    names = {r[0] for r in list_databases(spark).collect()}
    assert "default" in names


def test_current_database(spark):
    assert current_database(spark) == "default"


def test_default_exclusions_match_reference(spark):
    # dbc cell@4.0:8-9 — the profiler's self-exclusion list.
    assert DEFAULT_EXCLUSIONS == (
        "profiledata",
        "schemainformation",
        "tableoptimizations",
    )


def test_list_tables(spark):
    """The reference's SHOW TABLES shape minus the exclusion list
    (compared case-insensitively); temp views never list; an empty
    database gives an empty frame of the same shape."""
    spark.sql("DROP DATABASE IF EXISTS t_c6_db CASCADE")
    spark.sql("CREATE DATABASE t_c6_db")
    spark.sql("CREATE DATABASE IF NOT EXISTS t_c6_empty")
    try:
        for t in ("orders", "ProfileData", "Audit"):
            spark.sql(f"CREATE TABLE t_c6_db.{t} (a int) USING parquet")
        spark.range(1).createOrReplaceTempView("t_c6_view")
        shape = [("database", "string"), ("tableName", "string"), ("isTemporary", "boolean")]

        df = list_tables(spark, "t_c6_db", exclusions=("PROFILEDATA", "audit"))
        assert [(f.name, f.dataType.simpleString()) for f in df.schema.fields] == shape
        assert [tuple(r) for r in df.collect()] == [("t_c6_db", "orders", False)]
        # the default exclusions drop profileData but keep audit
        assert sorted(table_names(spark, "t_c6_db")) == ["audit", "orders"]

        empty = list_tables(spark, "t_c6_empty")
        assert [(f.name, f.dataType.simpleString()) for f in empty.schema.fields] == shape
        assert empty.collect() == []
    finally:
        spark.catalog.dropTempView("t_c6_view")
        spark.sql("DROP DATABASE t_c6_db CASCADE")
        spark.sql("DROP DATABASE t_c6_empty")


def test_describe_columns_shape(spark, tables):
    out = describe_columns(spark, tables["nation"])
    assert out.columns == ["col_name", "data_type", "comment"]
    assert {(r.col_name, r.data_type) for r in out.collect()} == {
        ("n_nationkey", "int"),
        ("n_name", "string"),
        ("n_regionkey", "int"),
    }


def test_describe_partition_row_leakage_modes(spark, tables):
    # Behavioral fidelity (SURVEY.md §7.3): the reference's
    # instr(col_name,'#')=0 filter lets ''/'Not partitioned'/'Part N'
    # rows leak through (observed dbc results@11.0).
    plain = describe_columns(spark, tables["nation"], include_partition_rows=True)
    names = [r.col_name for r in plain.collect()]
    assert "" in names and "Not partitioned" in names

    parted = describe_columns(
        spark,
        tables["orders"],
        include_partition_rows=True,
        partition_columns=("o_orderdate",),
    )
    rows = {(r.col_name, r.data_type) for r in parted.collect()}
    assert ("Part 0", "o_orderdate") in rows


def test_schema_changes(spark):
    from pyspark.sql import Row

    from lakehouse_tools_spark.catalog import schema_changes
    from pyspark.sql import functions as F

    old = spark.createDataFrame([Row(a=1, b="x", c=1.5)])
    new = old.drop("b").withColumn("a", F.col("a").cast("string")).withColumn(
        "d", F.lit(True)
    )
    out = {r.columnName: r for r in schema_changes(old, new, "db", "t").collect()}
    assert out["b"].change == "removed" and out["b"].old_type == "string"
    assert out["a"].change == "type_changed" and out["a"].new_type == "string"
    assert out["d"].change == "added" and out["d"].new_type == "boolean"
    # unchanged column emits nothing
    assert "c" not in out and len(out) == 3


def test_schema_changes_identical_is_empty(spark):
    from pyspark.sql import Row

    from lakehouse_tools_spark.catalog import schema_changes

    df = spark.createDataFrame([Row(a=1)])
    assert schema_changes(df, df, "db", "t").count() == 0
