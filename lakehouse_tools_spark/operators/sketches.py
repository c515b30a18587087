"""Mergeable distinct-count sketches (Apache DataSketches HLL).

The profiler's distinct counts are its most expensive statistic: the
exact form shuffles every distinct value, and even the single-pass
``approx_count_distinct`` must re-scan history whenever the window
grows. HLL SKETCHES make distinct-count profiling INCREMENTAL: build
one small (≈ 2^lg_k bytes) sketch per column per batch/partition/day,
persist the sketches, and answer "distinct over any union of
batches" by merging sketches — no rescan of data, ever. This is the
standard warehouse pattern for 100 TB+ incremental profiling: the
data is touched once per batch, and the union is register-wise,
associative and commutative. One honesty note: DataSketches sketches
promote sparse→dense lazily, so sketches built under different
partitionings can merge to estimates differing in the last ulp —
the contract is staying inside the sketch's own error band (±2×RSE,
pinned in tests), not bitwise
determinism; accuracy vs exact is the usual HLL ±1.6% at lg_k=12.

Built on Spark's native ``hll_sketch_agg`` / ``hll_union_agg`` /
``hll_sketch_estimate`` (JVM DataSketches — no UDF). Sketch bytes
are engine-specific, so driver queries over these are rows-only; the
mergeability law (union-of-batch-sketches answers like the
whole-table sketch) and accuracy vs exact distinct are asserted in
tests/test_sketches.py.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from lakehouse_tools_spark.functions.portable import _col


def distinct_sketches(
    df: DataFrame, cols: list[str] | None = None, lg_k: int = 12
) -> DataFrame:
    """One HLL sketch per column over ``df``: ``(columnName, sketch)``.
    All columns build in ONE wide aggregate over a single scan (the
    profiler's shape — never a job per column); values are cast to
    string so any atomic type sketches uniformly (the same
    canonicalization the exact profiler applies)."""
    cols = cols or df.columns
    wide = df.agg(
        *[
            F.hll_sketch_agg(_col(c).cast("string"), F.lit(lg_k)).alias(c)
            for c in cols
        ]
    )
    return wide.unpivot([], [_col(c) for c in cols], "columnName", "sketch")


def merge_sketches(parts: list[DataFrame]) -> DataFrame:
    """Merge per-batch sketch relations into one sketch per column:
    union the (columnName, sketch) rows and ``hll_union_agg`` per
    column. Registers merge pointwise — associative, commutative,
    deterministic."""
    unioned = reduce(lambda a, b: a.unionByName(b), parts)
    return unioned.groupBy("columnName").agg(
        F.hll_union_agg("sketch").alias("sketch")
    )


def estimate_distinct(sketches: DataFrame) -> DataFrame:
    """``(columnName, n_distinct_est)`` from a sketch relation."""
    return sketches.select(
        "columnName",
        F.hll_sketch_estimate("sketch").cast("long").alias("n_distinct_est"),
    )


def countmin_sketch(
    df: DataFrame, key_col: str, width: int = 512, depth: int = 3
) -> DataFrame:
    """Count-min sketch of ``key_col`` frequencies: ``(d, bucket,
    cnt)``, ``depth × width`` counters. The frequency companion to the
    HLL distinct sketch: build one per batch, MERGE by summing
    counters (:func:`merge_countmin`), and answer "how often does key
    k appear across any union of batches" without rescanning — with
    one-sided error (never undercounts; overcount ≤ εN with
    ε = e/width at probability 1−e^−depth).

    Shuffle is ≤ ``depth × width`` rows after map-side combine
    regardless of input size — the whole sketch is broadcast-sized.
    Row ``d``'s bucket is the first 8 hex digits of
    ``md5(d || ':' || key)`` read as a bigint, modulo ``width`` — md5,
    not Murmur3 — so the sketch is DETERMINISTIC ACROSS ENGINES: an
    ANSI engine building the same sketch gets identical counters,
    which is what lets the driver hash-verify estimates end-to-end
    (unlike the HLL sketches, whose bytes are engine-specific)."""
    rows = df.select(_col(key_col).cast("string").alias("_k")).select(
        "_k",
        F.explode(F.sequence(F.lit(0), F.lit(depth - 1))).alias("d"),
    )
    bucket = (
        F.conv(
            F.substring(F.md5(F.concat_ws(":", F.col("d"), F.col("_k"))), 1, 8),
            16,
            10,
        ).cast("long")
        % width
    )
    return (
        rows.select("d", bucket.alias("bucket"))
        .groupBy("d", "bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def merge_countmin(parts: list[DataFrame]) -> DataFrame:
    """Merge per-batch count-min sketches by summing counters
    pointwise — associative, commutative, deterministic (integer
    sums)."""
    unioned = reduce(lambda a, b: a.unionByName(b), parts)
    return unioned.groupBy("d", "bucket").agg(F.sum("cnt").alias("cnt"))


def countmin_estimate(
    sketch: DataFrame,
    keys: DataFrame,
    key_col: str,
    width: int = 512,
    depth: int = 3,
) -> DataFrame:
    """Point-frequency estimates ``(key, cnt_est)`` for each distinct
    key in ``keys``: min over the key's ``depth`` counters. The sketch
    side is ≤ depth×width rows → broadcast join; the candidate side
    never touches the original data. ``width``/``depth`` must match
    the sketch's build parameters."""
    cand = (
        keys.select(_col(key_col).cast("string").alias("key"))
        .distinct()
        .select(
            "key",
            F.explode(F.sequence(F.lit(0), F.lit(depth - 1))).alias("d"),
        )
    )
    bucket = (
        F.conv(
            F.substring(
                F.md5(F.concat_ws(":", F.col("d"), F.col("key"))), 1, 8
            ),
            16,
            10,
        ).cast("long")
        % width
    )
    joined = cand.withColumn("bucket", bucket).join(
        F.broadcast(sketch), ["d", "bucket"], "left"
    )
    return joined.groupBy("key").agg(
        F.min(F.coalesce(F.col("cnt"), F.lit(0))).alias("cnt_est")
    )
