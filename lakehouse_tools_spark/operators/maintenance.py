"""Table maintenance: compaction + Z-order-style clustering (reference O1).

The reference finishes its pipeline with Delta ``OPTIMIZE … ZORDER BY``
(``dbc cell@9.0``/``cell@10.0``) — small-file compaction plus
multi-dimensional clustering so min/max data skipping prunes files for
predicates on the Z columns. Without delta-spark (SURVEY.md §7.5) the
same physical layout is achieved at write time:

- ``compact(df, num_files)``: small-file control via an explicit
  round-robin repartition to ``num_files`` partitions before write.
- ``zorder_layout(df, cols)``: ``repartitionByRange(cols)`` +
  ``sortWithinPartitions(cols)`` — lexicographic multi-column
  clustering. Parquet then stores per-file/rowgroup min-max on the
  leading columns, giving the same skip-pruning effect for range and
  equality predicates on prefixes of ``cols``.

Row-set preservation is the operator's contract: layout changes only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from lakehouse_tools_spark.functions.portable import _col


def compact(df: DataFrame, num_files: int) -> DataFrame:
    """Repartition a relation to ``num_files`` partitions, one output
    file each (write-time small-file compaction, the OSS analog of
    the reference's Delta optimizeWrite conf, ``dbc cell@1.5:1``).
    This is a full round-robin shuffle, not a ``coalesce``: the
    partitions come out evenly sized."""
    return df.repartition(num_files)


def zorder_layout(df: DataFrame, cols: list[str], num_partitions: int | None = None) -> DataFrame:
    """Range-partition + sort layout rewrite (lexicographic clustering).

    Equivalent data-skipping behavior to OPTIMIZE ZORDER for prefix
    predicates; row set is unchanged (property-tested).
    """
    ncols = [_col(c) for c in cols]
    if num_partitions:
        out = df.repartitionByRange(num_partitions, *ncols)
    else:
        out = df.repartitionByRange(*ncols)
    return out.sortWithinPartitions(*ncols)


def compact_small_files(
    spark,
    path: str,
    target_file_bytes: int = 128 * 1024 * 1024,
) -> dict:
    """Size-targeted small-file compaction of a parquet directory —
    OPTIMIZE's bin-packing half (the clustering half is
    :func:`zorder_layout`). The small-file problem is real overhead at
    scale: every file costs a scan task, an open, and a footer read,
    so a table fragmented by many small appends reads slower than the
    same bytes in right-sized files.

    File sizes come from Spark's own ``binaryFile`` source (a
    distributed listing — no driver filesystem walk, works on any
    Hadoop-compatible FS), the target file count is
    ``ceil(total_bytes / target_file_bytes)``, and the rewrite stages
    into ``<path>__compacting`` before an atomic-as-the-FS-allows
    directory swap — readers never observe a half-written table, and a
    failed second rename puts the original directory back.
    Compressed input bytes approximate compressed output bytes (same
    codec), which is the same heuristic Delta's OPTIMIZE uses.

    Returns ``{"files_before", "files_after", "bytes_total"}``.
    """
    import math
    import os
    import shutil

    listing = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.parquet")
        .load(path)
        .select("length")
        .collect()
    )
    files_before = len(listing)
    bytes_total = sum(r.length for r in listing)
    n_target = max(1, math.ceil(bytes_total / target_file_bytes))
    staging = path.rstrip("/") + "__compacting"
    df = spark.read.parquet(path)
    df.repartition(n_target).write.mode("overwrite").parquet(staging)
    local = path.removeprefix("file:")
    local_staging = staging.removeprefix("file:")
    backup = local + "__precompact"
    os.rename(local, backup)
    try:
        os.rename(local_staging, local)
    except OSError:
        os.rename(backup, local)
        raise
    # re-list the path under any cached relation over it; other caches
    # in the caller's session stay
    spark.catalog.refreshByPath(path)
    shutil.rmtree(backup)
    files_after = sum(
        1 for f in os.listdir(local) if f.endswith(".parquet")
    )
    return {
        "files_before": files_before,
        "files_after": files_after,
        "bytes_total": bytes_total,
    }
