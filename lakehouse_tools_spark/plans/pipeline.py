"""End-to-end profiler pipeline — the reference's "Run All" flow.

Reproduces SURVEY.md §3.1 as one function: discover tables → harvest
schemas → profile every column → MERGE-upsert both outputs into their
accumulated targets → (optionally) rewrite with clustering layout.
The reference drove this with notebook cells, temp-view accumulators
and per-column driver round-trips (``dbc cell@4.0``–``cell@10.0``);
here it is a handful of lazy DataFrame plans with exactly two
materialization points (the two upserts), same as the reference's two
MERGE statements — but each table is scanned once, not once per
column, and the driver never blocks on a per-column ``.collect()``.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

from lakehouse_tools_spark.operators.merge import not_in, upsert
from lakehouse_tools_spark.operators.profile import (
    PROFILE_DATA_SCHEMA,
    SCHEMA_INFORMATION_SCHEMA,
    profile_data,
    schema_information,
)

#: J1's ON-clause residual values (dbc cell@8.5:3).
MERGE_EXCLUDED_COLUMN_NAMES = ["", "Not partitioned"]

#: The reference merges BOTH outputs on (db, table, column)
#: (dbc cell@8.5/8.75) — correct for SchemaInformation (one row per
#: column) but ill-defined for profileData, whose source has one row
#: per (column, value): Delta MERGE would abort on any non-empty
#: target ("multiple source rows matched"). The reference never hits
#: this because it re-CREATEs the targets before every run. We keep
#: its keys for schema info and extend the profile key to row
#: granularity so re-runs are well-defined and idempotent.
MERGE_KEYS = ["databaseName", "tableName", "columnName"]
PROFILE_MERGE_KEYS = MERGE_KEYS + ["value"]
PROFILE_MERGE_KEYS_AS_WRITTEN = PROFILE_MERGE_KEYS + ["num_records"]


@dataclass
class ProfileResult:
    schema_information: DataFrame
    profile_data: DataFrame


def create_data_profile(
    spark: SparkSession,
    tables: dict[str, DataFrame],
    database: str,
    mode: str = "intended",
    existing_schema_info: DataFrame | None = None,
    existing_profile_data: DataFrame | None = None,
) -> ProfileResult:
    """Run the full profiler over ``tables``.

    ``existing_*`` are the current contents of the two target tables
    (the reference re-CREATEs them each run so they are empty on the
    golden path — ``dbc cell@7.0``; pass non-empty frames to exercise
    true upsert re-run semantics, SURVEY.md §7.3).
    """
    schema_src = schema_information(tables, database, spark)
    profile_src = profile_data(tables, database, mode=mode)

    schema_tgt = (
        existing_schema_info
        if existing_schema_info is not None
        else spark.createDataFrame([], SCHEMA_INFORMATION_SCHEMA)
    )
    profile_tgt = (
        existing_profile_data
        if existing_profile_data is not None
        else spark.createDataFrame([], PROFILE_DATA_SCHEMA)
    )

    residual = not_in("columnName", MERGE_EXCLUDED_COLUMN_NAMES)
    profile_keys = (
        PROFILE_MERGE_KEYS_AS_WRITTEN if mode == "as_written" else PROFILE_MERGE_KEYS
    )
    merged_schema = upsert(schema_tgt, schema_src, MERGE_KEYS, residual)
    merged_profile = upsert(profile_tgt, profile_src, profile_keys, residual)

    return ProfileResult(
        schema_information=merged_schema, profile_data=merged_profile
    )


def incremental_reprofile(
    spark: SparkSession,
    changed_tables: dict[str, DataFrame],
    database: str,
    existing_profile_data: DataFrame,
    mode: str = "intended",
) -> DataFrame:
    """Re-profile ONLY ``changed_tables`` and merge into the existing
    ``profileData`` — the incremental run a 100 TB catalog needs (a
    full re-profile touches every table; a snapshot/transaction log
    tells you which actually changed).

    Scans are proportional to the CHANGED data; correctness is full:
    the merge runs with ``full_sync`` *scoped by delete_condition to
    the changed tables*, so values that disappeared from a changed
    table are deleted, while other tables' rows are untouched — the
    reference's own To-Do (``dbc cell@1.0:37`` "remove databases and
    columns when removed in catalog"; its MERGE lacks the clause).
    The result equals a full recompute over the new catalog state —
    which is exactly what the driver oracle checks.
    """
    profile_src = profile_data(changed_tables, database, mode=mode)
    residual = not_in("columnName", MERGE_EXCLUDED_COLUMN_NAMES)
    keys = (
        PROFILE_MERGE_KEYS_AS_WRITTEN if mode == "as_written" else PROFILE_MERGE_KEYS
    )
    names = sorted(changed_tables)

    def changed_rows(t: DataFrame):
        return (t["databaseName"] == database) & t["tableName"].isin(names)

    return upsert(
        existing_profile_data,
        profile_src,
        keys,
        residual,
        full_sync=True,
        delete_condition=changed_rows,
    )
