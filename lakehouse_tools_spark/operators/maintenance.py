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
  equality predicates on prefixes of ``cols``. A true Z-curve
  (bit-interleaved) option is provided for workloads that filter on
  *non-prefix* dimensions, built from plain integer expressions so it
  stays inside whole-stage codegen.

Row-set preservation is the operator's contract: layout changes only.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

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


def _interleave_bits(cols: list[Column], bits: int) -> Column:
    """Bit-interleave normalized integer columns into one Z-value.

    Pure integer Catalyst expressions (shifts/masks/ors) — no UDF, so
    the whole computation stays in codegen.
    """
    z = F.lit(0).cast("long")
    n = len(cols)
    for b in range(bits):
        for i, c in enumerate(cols):
            bit = F.shiftrightunsigned(c, b).bitwiseAND(F.lit(1))
            z = z.bitwiseOR(F.shiftleft(bit, b * n + i))
    return z


def _orderable_key(df: DataFrame, col: str) -> Column:
    """An order-PRESERVING numeric key for a column, for Z-value
    normalization. Hashing here would destroy value locality — files
    would carry near-full-range min/max on the original columns and
    parquet stats-based skipping (the entire point of the layout)
    would be lost. So:

    - numeric / boolean → the value itself
    - date / timestamp → epoch seconds
    - string → first 7 UTF-8 bytes as a big-endian integer (UTF-8
      byte order == code-point order, so the key is monotone in the
      string's lexicographic order; shorter strings zero-pad and sort
      before longer ones with the same prefix)
    - anything non-orderable (arrays, structs, maps) → hash, the only
      remaining option; callers clustering on such a column get
      grouping, not range locality
    """
    dt = dict(df.dtypes)[col]
    c = F.col(col)
    if dt in ("tinyint", "smallint", "int", "bigint", "float", "double") or dt.startswith(
        "decimal"
    ):
        return c.cast("double")
    if dt == "boolean":
        return c.cast("int").cast("double")
    if dt in ("date", "timestamp", "timestamp_ntz"):
        return c.cast("timestamp").cast("double")
    if dt == "string":
        # 7 bytes = 14 hex digits < 2^56: exact in a long and a double
        return F.conv(
            F.rpad(F.hex(F.encode(F.substring(c, 1, 7), "utf-8")), 14, "0"), 16, 10
        ).cast("double")
    return F.hash(c).cast("double")


def zorder_curve_layout(
    df: DataFrame,
    cols: list[str],
    bits: int = 12,
    num_partitions: int | None = None,
) -> DataFrame:
    """True Z-curve clustering: normalize each dimension to a
    ``bits``-wide integer by min/max-scaling an order-preserving
    numeric key (one aggregate for all columns — no per-column jobs,
    no double shuffle an ``ntile``-over-sort would cost), then
    range-partition + sort by the interleaved Z-value.

    Used when queries filter on non-prefix dimensions; for the
    reference's workload (filters on databaseName/tableName prefixes)
    ``zorder_layout`` is the right default.
    """
    keys = {c: _orderable_key(df, c) for c in cols}
    stats = df.agg(
        *[F.min(k).alias(f"_min_{c}") for c, k in keys.items()],
        *[F.max(k).alias(f"_max_{c}") for c, k in keys.items()],
    ).collect()[0]
    scaled = []
    for c, k in keys.items():
        lo, hi = stats[f"_min_{c}"], stats[f"_max_{c}"]
        if lo is None:  # all-null column: constant dimension
            scaled.append(F.lit(0).cast("long"))
            continue
        span = max(hi - lo, 1e-300)
        scaled.append(
            # nulls sort first (lo); clamp guards float rounding at hi
            F.least(
                ((F.coalesce(k, F.lit(lo)) - F.lit(lo)) * F.lit(((1 << bits) - 1) / span))
                .cast("long"),
                F.lit((1 << bits) - 1).cast("long"),
            )
        )
    z = _interleave_bits(scaled, bits)
    out = df.withColumn("_z", z)
    if num_partitions:
        # explicit count also opts out of AQE partition coalescing,
        # which would otherwise merge small outputs and widen each
        # file's min/max span
        out = out.repartitionByRange(num_partitions, F.col("_z"))
    else:
        out = out.repartitionByRange(F.col("_z"))
    return out.sortWithinPartitions("_z").drop("_z")


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
