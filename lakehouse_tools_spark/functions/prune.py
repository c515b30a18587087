"""Join pruning via broadcast key fingerprints (bloom-style semi-join).

The scale problem: a selective dimension filter should also shrink the
FACT side's shuffle, but the fact rows only learn they're irrelevant
*after* shuffling to the join. Catalyst already solves the common cases
— broadcast hash join when the dim side fits
``spark.sql.autoBroadcastJoinThreshold``, and the AQE runtime bloom
filter (``spark.sql.optimizer.runtime.bloomFilter.enabled``) which
injects exactly this pattern automatically when its size thresholds
allow. This module is the EXPLICIT form for when the planner can't see
it (the dim side is a computed relation whose post-filter size the
optimizer can't estimate, or the join is staged across jobs):

    pruned = semi_prune(lineitem, "l_orderkey", hot_orders, "o_orderkey")
    result = pruned.join(hot_orders, ...)      # the real join, now smaller

``key_fingerprint`` reduces the build side's keys to DISTINCT md5
buckets — at ``num_buckets`` = 2^20 that is ≤ 1M bigint rows (≈8 MB)
to broadcast no matter how many keys the build side has, i.e. a
one-hash-function bloom filter materialized as a relation instead of a
bit array (bucket-granular membership, never a false negative, false
positives at rate ≈ n_keys/num_buckets prune nothing but cost
nothing). The probe side then drops non-member rows in a broadcast
LEFT SEMI join *before* its shuffle — map-side, no exchange added.

md5-derived buckets (the first 8 hex digits of md5 as a bigint,
ANSI ``('0x' || substr(md5(x), 1, 8))::bigint``) keep the
fingerprint deterministic across engines, so pruned results are
oracle-checkable: pruning is semantically transparent — the pruned
join EQUALS the plain join (pinned in tests/test_prune.py, driver-
verified by ``bloom_join_prune``'s plain-SQL oracle).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _bucket(cols: list[str], num_buckets: int):
    joined = F.concat_ws("\x01", *[F.col(c).cast("string") for c in cols])
    return (
        F.conv(F.substring(F.md5(joined), 1, 8), 16, 10).cast("long")
        % num_buckets
    )


def key_fingerprint(
    df: DataFrame, keys: list[str] | str, num_buckets: int = 1 << 20
) -> DataFrame:
    """Distinct md5 buckets of ``keys`` — a broadcastable membership
    summary bounded by ``num_buckets`` rows regardless of input size.
    Multi-column keys concatenate with an unprintable separator so
    ``("ab","c")`` and ``("a","bc")`` fingerprint differently."""
    keys = [keys] if isinstance(keys, str) else list(keys)
    return df.select(_bucket(keys, num_buckets).alias("__fp_bucket")).distinct()


def semi_prune(
    probe: DataFrame,
    probe_keys: list[str] | str,
    build: DataFrame,
    build_keys: list[str] | str,
    num_buckets: int = 1 << 20,
) -> DataFrame:
    """Drop ``probe`` rows whose key bucket is absent from ``build``'s
    fingerprint: a broadcast LEFT SEMI join on the bucket, evaluated
    map-side before any shuffle ``probe`` feeds. Never drops a row
    that would join (no false negatives); keeps ≈ n_build/num_buckets
    of the non-joining rows as false positives, which the real join
    then discards. Schema of ``probe`` is returned unchanged."""
    probe_keys = [probe_keys] if isinstance(probe_keys, str) else list(probe_keys)
    fp = key_fingerprint(build, build_keys, num_buckets)
    tagged = probe.withColumn("__fp_bucket", _bucket(probe_keys, num_buckets))
    return tagged.join(F.broadcast(fp), "__fp_bucket", "left_semi").drop(
        "__fp_bucket"
    )
