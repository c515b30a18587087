"""Catalog introspection layer (SURVEY.md §2.1 C1–C7).

The reference discovers its workload from the catalog at run time:
``SHOW DATABASES`` feeds a widget (dbc cell@2.0), ``SHOW TABLES``
enumerates the profiling targets minus a self-exclusion list
(dbc cell@4.0:5-11), and per-table ``DESCRIBE`` output is treated as
data (dbc cell@8.0:8-10). This module re-expresses each step with the
``spark.catalog`` API, one parameter-bound ``SHOW TABLES`` command, or
``df.schema`` reflection — zero data scans —
while keeping a DESCRIBE-parsing mode for behavioral fidelity
(partition-information rows leaking into output, SURVEY.md §7.3).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Row, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

# Reference self-exclusion list, dbc cell@4.0:8-9 ("exclusion list
# provided", nb-readme:20). Lower-cased comparison like the original.
DEFAULT_EXCLUSIONS: tuple[str, ...] = (
    "profiledata",
    "schemainformation",
    "tableoptimizations",
)

SHOW_TABLES_SCHEMA = T.StructType(
    [
        T.StructField("database", T.StringType(), True),
        T.StructField("tableName", T.StringType(), False),
        T.StructField("isTemporary", T.BooleanType(), False),
    ]
)

DESCRIBE_SCHEMA = T.StructType(
    [
        T.StructField("col_name", T.StringType(), False),
        T.StructField("data_type", T.StringType(), False),
        T.StructField("comment", T.StringType(), True),
    ]
)


def list_databases(spark: SparkSession) -> DataFrame:
    """C1 — ``SHOW DATABASES`` as a DataFrame (one string column)."""
    return spark.sql("SHOW DATABASES")


def set_current_database(spark: SparkSession, database: str) -> None:
    """C3 — ``USE <db>`` without SQL string splicing."""
    spark.catalog.setCurrentDatabase(database)


def current_database(spark: SparkSession) -> str:
    """C4 — ``current_database()``."""
    return spark.catalog.currentDatabase()


def list_tables(
    spark: SparkSession,
    database: str | None = None,
    exclusions: tuple[str, ...] = DEFAULT_EXCLUSIONS,
) -> DataFrame:
    """C6 + P5 — enumerate tables minus the self-exclusion list.

    Matches the reference's SHOW TABLES schema
    ``(database, tableName, isTemporary)`` (dbc results@4.0) and its
    filter ``tableName not in (...) and database != ''``
    (dbc cell@4.0:8-9). One ``SHOW TABLES`` command, with the database
    bound as a parameter: catalog metadata only, no per-table lookups
    and no data scan. Temporary views list under database ``''`` and are
    filtered out.
    """
    db = database or current_database(spark)
    df = (
        spark.sql(
            "SHOW TABLES IN IDENTIFIER(:db)",
            args={"db": "`" + db.replace("`", "``") + "`"},
        )
        .withColumnRenamed("namespace", "database")
        .to(SHOW_TABLES_SCHEMA)
    )
    lowered = F.lower(F.col("tableName"))
    return df.filter(~lowered.isin([e.lower() for e in exclusions]) & (F.col("database") != ""))


def drop_temp_view(spark: SparkSession, name: str) -> bool:
    """C11 — ``DROP TEMPORARY VIEW`` (reference ``dbc cell@8.875:1-2``,
    its post-run cleanup). Returns whether the view existed; no SQL
    string splicing, no error on a missing view (IF EXISTS shape)."""
    return spark.catalog.dropTempView(name)


def table_names(
    spark: SparkSession,
    database: str | None = None,
    exclusions: tuple[str, ...] = DEFAULT_EXCLUSIONS,
) -> list[str]:
    """A2 — the reference's ``collect_list("tableName")`` driver hop
    (dbc cell@4.0:11); one tiny catalog-metadata collect, not a scan."""
    return [r.tableName for r in list_tables(spark, database, exclusions).collect()]


def describe_columns(
    spark: SparkSession,
    df: DataFrame,
    include_partition_rows: bool = False,
    partition_columns: tuple[str, ...] = (),
) -> DataFrame:
    """C7 — column metadata as a DataFrame, from ``df.schema``.

    Returns the reference's DESCRIBE shape
    ``(col_name, data_type, comment)`` (dbc results@8.0) without a
    DESCRIBE round-trip or ``LIMIT 1`` probe scan (replaces S2,
    dbc cell@8.0:22). ``include_partition_rows=True`` reproduces the
    as-written leakage of the ``# Partition Information`` section
    after the reference's ``instr(col_name,'#')=0`` filter: the
    ``''``/``'Not partitioned'``/``'Part N'`` rows survive
    (SURVEY.md §7.3, observed dbc results@11.0).
    """
    rows = [
        Row(
            col_name=f.name,
            data_type=f.dataType.simpleString(),
            comment=f.metadata.get("comment") if f.metadata else None,
        )
        for f in df.schema.fields
    ]
    if include_partition_rows:
        if partition_columns:
            rows.append(Row(col_name="", data_type="", comment=""))
            for i, pc in enumerate(partition_columns):
                rows.append(Row(col_name=f"Part {i}", data_type=pc, comment=""))
        else:
            rows.append(Row(col_name="", data_type="", comment=""))
            rows.append(Row(col_name="Not partitioned", data_type="", comment=""))
    return spark.createDataFrame(rows, DESCRIBE_SCHEMA)


def schema_changes(
    old: DataFrame, new: DataFrame, database: str, table: str
) -> DataFrame:
    """Schema drift between two versions of a relation: one row per
    column added / removed / type-changed — the catalog-level
    companion of the row-level ``operators/diff.snapshot_diff`` (the
    reference's harvest loop re-reads every schema each run; diffing
    versions is how a real catalog monitor alerts on drift).

    Deliberately driver-side: schemas ARE driver metadata
    (``df.schema`` costs zero scans at any data size), so building
    the diff from the StructTypes is the scale-correct plan — a
    distributed join over two ≤-few-hundred-row relations would
    shuffle for nothing. Unchanged columns are omitted; column order
    changes are not reported (Spark relations are order-insensitive
    on read).
    """
    spark = old.sparkSession
    o = [(f.name, f.dataType.simpleString()) for f in old.schema.fields]
    n = [(f.name, f.dataType.simpleString()) for f in new.schema.fields]
    om, nm = dict(o), dict(n)
    rows: list[tuple] = []
    for name, dt in o:
        if name not in nm:
            rows.append((database, table, name, "removed", dt, None))
        elif nm[name] != dt:
            rows.append((database, table, name, "type_changed", dt, nm[name]))
    for name, dt in n:
        if name not in om:
            rows.append((database, table, name, "added", None, dt))
    return spark.createDataFrame(
        rows,
        "databaseName string, tableName string, columnName string,"
        " change string, old_type string, new_type string",
    )
