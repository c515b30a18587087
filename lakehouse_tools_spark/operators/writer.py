"""Durable table persistence: the reference's Delta write path on a
plain-parquet backend (SURVEY.md §7.5).

The reference persists via ``CREATE OR REPLACE TABLE … USING DELTA``
(dbc cell@7.0/7.125), ``MERGE INTO`` (cell@8.5/8.75) and ``OPTIMIZE …
ZORDER BY`` (cell@9.0/10.0). Backend selection is runtime-detected
(:mod:`lakehouse_tools_spark.backend`): with delta-spark importable
every operator here routes to the native Delta implementation
(``DeltaTable.merge`` / ``optimize().executeZOrderBy``); without it —
this environment has no delta-spark and no PyPI route, see
``backend.py`` — the durable layer is managed parquet tables with the
same semantics:

- ``create_or_replace``: saveAsTable(overwrite) with an explicit
  schema — the C8 contract. The new table declares no clustering.
- ``upsert_into``: read target ⟗ merge (operators.merge).
- ``optimize_clustered``: declares the table clustered on its Z
  columns (maintenance.zorder_layout) — the data-skipping payoff
  OPTIMIZE ZORDER buys.

Every parquet rewrite of a stored table goes through ONE generation
swap, :func:`_swap_in` — a staging table plus two metastore-only
renames, rolled back if the second fails — so readers see the old or
the new table, never a partial write. MERGE advances the version
counter; OPTIMIZE keeps it (a layout rewrite keeps the row set).

Clustering is a declared property of the stored table, as in Delta's
liquid clustering: OPTIMIZE stamps the Z columns next to the version
counter, and every later swap writes its generation through that
layout. So a MERGE into a clustered table leaves it clustered, and an
OPTIMIZE that finds its columns already declared is a metadata check
that writes nothing — one write per refresh instead of two.

All table names are backtick-quoted, and property values are bound as
query parameters; nothing here interpolates user data into SQL text
(the reference's F6 injection weakness).
"""

from __future__ import annotations

import json
import re
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lakehouse_tools_spark.backend import table_format
from lakehouse_tools_spark.operators.maintenance import zorder_layout
from lakehouse_tools_spark.operators.merge import (
    SourcePredicate,
    TargetPredicate,
    upsert,
)


def _q(name: str) -> str:
    return ".".join(f"`{p}`" for p in name.split("."))


def create_or_replace(spark: SparkSession, df: DataFrame, table: str) -> None:
    """C8 — ``CREATE OR REPLACE TABLE`` as a managed table (Delta when
    delta-spark is present, else parquet — backend.table_format()).
    Like Delta's ``CREATE OR REPLACE`` without ``CLUSTER BY``, the new
    table declares no clustering: the overwrite drops every table
    property of the replaced one."""
    df.write.mode("overwrite").format(table_format()).saveAsTable(table)


def _delta_merge(
    spark: SparkSession,
    table: str,
    source: DataFrame,
    keys: list[str],
    source_residual: SourcePredicate | None,
    full_sync: bool,
    delete_condition: TargetPredicate | None,
) -> None:
    """Native ``DeltaTable.merge`` path — semantically identical to
    :func:`operators.merge.upsert` + swap (residual in ON ⇒
    residual-failing source rows INSERT; null-safe key equality;
    full_sync ⇒ WHEN NOT MATCHED BY SOURCE [AND cond] THEN DELETE).
    Only reachable when delta-spark is importable (backend.py)."""
    from delta.tables import DeltaTable

    s = source.alias("s")
    cond = F.lit(True)
    for k in keys:
        cond = cond & F.expr(f"t.`{k}` <=> s.`{k}`")
    if source_residual is not None:
        cond = cond & source_residual(s)
    builder = (
        DeltaTable.forName(spark, table)
        .alias("t")
        .merge(s, cond)
        .whenMatchedUpdateAll()
        .whenNotMatchedInsertAll()
    )
    if full_sync:
        t_view = spark.table(table).alias("t")
        builder = builder.whenNotMatchedBySourceDelete(
            condition=delete_condition(t_view) if delete_condition else None
        )
    builder.execute()


_VERSION_PROP = "lakehouse_tools.version"
_CLUSTER_PROP = "lakehouse_tools.cluster_by"


def _table_state(spark: SparkSession, table: str) -> tuple[int, list[str] | None]:
    """The live table's version number and declared clustering
    columns (None when undeclared), from one ``SHOW TBLPROPERTIES``.

    The version's authoritative source is the
    ``lakehouse_tools.version`` table property — a monotone counter
    stamped by every swap, so dropping archives (or never keeping any)
    can't re-bind a version number to a different state. Tables
    written before the counter existed fall back to the legacy rule
    (newest archive + 1)."""
    props = {}
    try:
        # read on the driver: a DataFrame filter re-plans the
        # command's result and costs about 3x the collect itself
        props = {
            r["key"]: r["value"]
            for r in spark.sql(f"SHOW TBLPROPERTIES {_q(table)}").collect()
        }
    except Exception:
        pass
    cluster_by = json.loads(props[_CLUSTER_PROP]) if _CLUSTER_PROP in props else None
    if _VERSION_PROP in props:
        return int(props[_VERSION_PROP]), cluster_by
    have = _archived_versions(spark, table)
    return (have[-1] + 1) if have else 1, cluster_by


def _stamp(
    spark: SparkSession, table: str, version: int, cluster_by: list[str] | None
) -> None:
    """Set the version counter and, when given, the clustering
    declaration in one ``ALTER``. The column list is stored as JSON and
    bound as a query parameter: column names never enter the SQL text,
    so quotes, backslashes and ``${...}`` (which variable substitution
    would expand) are stored as written."""
    args = {"version": str(int(version))}
    props = [f"'{_VERSION_PROP}' = :version"]
    if cluster_by:
        args["cluster_by"] = json.dumps(list(cluster_by))
        props.append(f"'{_CLUSTER_PROP}' = :cluster_by")
    spark.sql(
        f"ALTER TABLE {_q(table)} SET TBLPROPERTIES ({', '.join(props)})", args=args
    )


def _archived_versions(spark: SparkSession, table: str) -> list[int]:
    """Version numbers archived for ``table`` (``<table>__v<n>``
    metastore entries), from one ``SHOW TABLES`` command. Simple
    (un-databased) table names only — the durable layer's convention
    throughout. The session catalog stores names lower-cased, so the
    match ignores case."""
    pat = re.compile(re.escape(table) + r"__v(\d+)", re.IGNORECASE)
    out = []
    for row in spark.sql("SHOW TABLES").collect():
        m = pat.fullmatch(row["tableName"])
        if m:
            out.append(int(m.group(1)))
    return sorted(out)


def _swap_in(
    spark: SparkSession,
    table: str,
    df: DataFrame,
    version: int,
    cluster_by: list[str] | None,
    archive: int | None = None,
    num_partitions: int | None = None,
) -> None:
    """Replace stored ``table`` with ``df``, stamped ``version``.

    ``df`` is staged first (computing it over the target while
    overwriting the target would read-after-delete the very files
    being replaced). With ``cluster_by`` the staged generation is
    written through ``zorder_layout(df, cluster_by, num_partitions)``
    and the columns are declared on the new generation. The retired
    generation becomes ``<table>__v<archive>``, or is dropped when
    ``archive`` is None."""
    if cluster_by:
        df = zorder_layout(df, cluster_by, num_partitions)
    staging = f"{table}__stage_{uuid.uuid4().hex[:8]}"
    retired = f"{table}__old_{uuid.uuid4().hex[:8]}"
    df.write.mode("overwrite").format(table_format()).saveAsTable(staging)
    spark.sql(f"ALTER TABLE {_q(table)} RENAME TO {_q(retired)}")
    try:
        spark.sql(f"ALTER TABLE {_q(staging)} RENAME TO {_q(table)}")
    except Exception:
        spark.sql(f"ALTER TABLE {_q(retired)} RENAME TO {_q(table)}")
        spark.sql(f"DROP TABLE IF EXISTS {_q(staging)}")
        raise
    _stamp(spark, table, version, cluster_by)
    if archive is None:
        spark.sql(f"DROP TABLE {_q(retired)}")
    else:
        spark.sql(
            f"ALTER TABLE {_q(retired)} RENAME TO {_q(f'{table}__v{archive}')}"
        )
    # drop any cached file listing for the old generation — readers in
    # other sessions sharing this catalog (e.g. a streaming micro-batch
    # clone) would otherwise resolve the name to deleted files
    spark.catalog.refreshTable(table)


def upsert_into(
    spark: SparkSession,
    table: str,
    source: DataFrame,
    keys: list[str],
    source_residual: SourcePredicate | None = None,
    full_sync: bool = False,
    delete_condition: TargetPredicate | None = None,
    keep_versions: int = 0,
) -> None:
    """J1 — MERGE INTO a stored table, atomically.

    Delta backend: one ACID ``DeltaTable.merge``. Parquet backend: the
    merged relation replaces the table through :func:`_swap_in`.

    ``keep_versions > 0`` retains the replaced generation as
    ``<table>__v<n>`` instead of dropping it, pruning archives beyond
    the newest ``keep_versions`` — Delta-style time travel on the
    parquet backend, readable via :func:`read_version` /
    :func:`table_history`. Retention is a metastore rename: zero data
    movement per version. (The Delta backend gets this natively via
    the transaction log.)

    Every upsert advances the version counter, ``keep_versions=0``
    ones included. A table declared clustered by
    :func:`optimize_clustered` stays clustered: the merged generation
    is written through the declared layout.
    """
    if table_format() == "delta":
        _delta_merge(
            spark, table, source, keys, source_residual, full_sync, delete_condition
        )
        return
    target = spark.table(table)
    merged = upsert(
        target,
        source,
        keys,
        source_residual,
        full_sync=full_sync,
        delete_condition=delete_condition,
    )
    old, cluster_by = _table_state(spark, table)
    # the retired generation IS version ``old``
    _swap_in(
        spark, table, merged, old + 1, cluster_by, old if keep_versions > 0 else None
    )
    if keep_versions > 0:
        vacuum_versions(spark, table, keep_versions)


def table_history(spark: SparkSession, table: str) -> DataFrame:
    """``(version, is_current, table_name)`` — archived generations
    plus the live table (version from the monotone counter, so gaps
    appear where ``keep_versions=0`` upserts dropped generations). The
    parquet stand-in for ``DESCRIBE HISTORY``."""
    have = _archived_versions(spark, table)
    rows = [(v, False, f"{table}__v{v}") for v in have]
    rows.append((_table_state(spark, table)[0], True, table))
    return spark.createDataFrame(
        rows, "version int, is_current boolean, table_name string"
    )


def read_version(spark: SparkSession, table: str, version: int) -> DataFrame:
    """Time travel: the table as of archived ``version`` (or the live
    table for the current version) — ``VERSION AS OF`` on the parquet
    backend. Raises for pruned/unknown versions."""
    have = _archived_versions(spark, table)
    current = _table_state(spark, table)[0]
    if version == current:
        return spark.table(table)
    if version in have:
        return spark.table(f"{table}__v{version}")
    raise ValueError(
        f"version {version} of {table!r} not retained "
        f"(have {have + [current]}; raise keep_versions)"
    )


def vacuum_versions(spark: SparkSession, table: str, keep_last: int = 1) -> list[int]:
    """Prune archived generations beyond the newest ``keep_last`` —
    the parquet stand-in for ``VACUUM`` retention. Never touches the
    live table (the current generation is not an archive), so pruning
    can't drop current state; version numbering is unaffected because
    the counter lives in a table property, not the archive list.
    Returns the version numbers dropped."""
    if keep_last < 0:
        raise ValueError("keep_last must be >= 0")
    have = _archived_versions(spark, table)
    drop = have[: max(0, len(have) - keep_last)]
    for v in drop:
        spark.sql(f"DROP TABLE {_q(f'{table}__v{v}')}")
    return drop


def save_bucketed(
    df: DataFrame,
    table: str,
    bucket_cols: list[str],
    num_buckets: int = 32,
    sort_cols: list[str] | None = None,
) -> None:
    """Persist ``df`` hash-bucketed (and optionally sorted) on the
    join/agg key.

    Bucketing is the storage-side half of shuffle elimination: two
    tables bucketed on the same key with the same bucket count join
    with ZERO Exchange — each task zips bucket i with bucket i — and
    a groupBy on the bucket key skips its shuffle too. At 100 TB this
    converts every recurring fact⋈dim or fact⋈fact join on the key
    into a local join; the one-time cost is the bucketed write's own
    shuffle. ``sort_cols`` additionally pre-sorts within buckets so
    sort-merge joins skip the sort. (Delta/Iceberg expose the same
    idea as clustered/partition-transform writes; Delta has no
    ``bucketBy``, so this writer stays parquet on every backend.)
    """
    w = df.write.mode("overwrite").format("parquet")
    w = w.bucketBy(num_buckets, *bucket_cols)
    if sort_cols:
        w = w.sortBy(*sort_cols)
    w.saveAsTable(table)


def optimize_clustered(
    spark: SparkSession,
    table: str,
    zorder_cols: list[str],
    num_partitions: int | None = None,
) -> None:
    """O1 — OPTIMIZE … ZORDER BY: cluster the stored table on
    ``zorder_cols`` (row set unchanged; parquet min/max row-group
    stats then skip-prune predicates on prefixes of the Z columns).

    Parquet backend: the columns become the table's declared
    clustering, stamped in the same ``ALTER`` as the version counter,
    and every later swap (each :func:`upsert_into`) writes through that
    layout. So when ``zorder_cols`` is already declared and no
    ``num_partitions`` is given, the layout is current and this is a
    metadata check that writes nothing. A first call, new columns or an
    explicit ``num_partitions`` rewrite the table and re-declare the
    columns. Writes that bypass this module (a raw ``INSERT INTO``)
    are not seen; pass ``num_partitions`` to force a rewrite after
    one. :func:`create_or_replace` drops the declaration.

    Delta backend: the native ``optimize().executeZOrderBy``. The
    version number is kept: history and time travel read the same."""
    if table_format() == "delta":
        from delta.tables import DeltaTable

        DeltaTable.forName(spark, table).optimize().executeZOrderBy(*zorder_cols)
        return
    cols = list(zorder_cols)
    version, declared = _table_state(spark, table)
    if declared == cols and not num_partitions:
        return
    _swap_in(spark, table, spark.table(table), version, cols, num_partitions=num_partitions)
