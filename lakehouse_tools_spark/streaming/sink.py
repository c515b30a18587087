"""Streaming sink into the durable table layer.

Structured Streaming's file sinks are append-only; landing a stream
into a keyed table (the reference's MERGE INTO contract, SURVEY.md
§2.4 J1) needs ``foreachBatch``: each micro-batch is a plain batch
DataFrame handed to :func:`operators.writer.upsert_into`, so the
stream inherits the batch path's semantics exactly — matched keys
overwritten, unmatched inserted, atomic blue/green swap per batch.

Exactly-once: foreachBatch is *at-least-once* (a batch can be
replayed after a crash before the checkpoint commits), but upsert by
key is idempotent — replaying batch N re-writes the same rows — so
the combination is effectively exactly-once for keyed upserts. The
checkpoint directory tracks source progress; pass a stable path to
resume across restarts.

At scale each micro-batch rewrite costs one full-outer join against
the target (parquet backend). With delta-spark present
``upsert_into`` runs ``DeltaTable.merge`` and this sink is unchanged
— that is the point of routing streams through the batch writer
instead of a bespoke streaming path.
"""

from __future__ import annotations

import contextlib
import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from lakehouse_tools_spark.operators.merge import SourcePredicate
from lakehouse_tools_spark.operators.writer import upsert_into

#: Source bytes one streaming state partition is sized to absorb.
#: Stateful operators keep per-key state ≪ source volume (sessions,
#: window aggregates, join buffers are keyed reductions), so a 32 MB
#: source slice stays far inside one state-store instance's comfort
#: zone — while every EXTRA instance pays a fixed per-micro-batch
#: cost (store open, delta/snapshot commit, maintenance; RocksDB
#: instances additionally own memtables and SSTs). Measured at sf0.1
#: (optimization r12): a warm availableNow drain of the tumbling-
#: window aggregation costs 2.7 s with 32 near-empty state
#: partitions vs 1.6 s with a data-sized count — pure instance
#: overhead, identical results.
_STATE_PARTITION_BYTES = 32 << 20

#: Lower bound: keep commit parallelism across cores even for tiny
#: backfills. Upper bound mirrors ensure_parallelism's 64× fan-out cap.
_STATE_PARTITION_FLOOR = 4


def sized_state_partitions(
    spark: SparkSession, source_path: str | None
) -> int:
    """Number of shuffle (= state-store) partitions for a streaming
    query, derived from the SOURCE volume rather than pinned to the
    core count — the streaming twin of
    :func:`~lakehouse_tools_spark.sources.tables.ensure_parallelism`.

    ``spark.sql.shuffle.partitions`` is read at stream start and
    baked into the checkpoint as the state-partition count; a fixed
    core-count default therefore spins up one state-store instance
    per core for ANY input, and each instance pays fixed open/commit/
    maintenance I/O per micro-batch. Deriving the count from source
    bytes (one partition per 32 MB, floor 4, cap 64×cores) keeps the
    instance count proportional to the state the query can actually
    accumulate — at real scale the derivation reaches and passes the
    core count long before memory pressure does, so a production
    deployment gets the conventional ≥cores sizing, while bounded
    backfills stop paying for near-empty stores. Override with
    ``LTS_STREAM_STATE_PARTITIONS`` (takes precedence when set; use
    it to pin a production value independent of source listing).

    ``source_path`` may be a file or directory local to the driver;
    unreadable/remote paths fall back to the session default, never
    raise.
    """
    env = os.environ.get("LTS_STREAM_STATE_PARTITIONS")
    if env:
        try:
            return max(1, int(env))
        except ValueError:
            pass
    n = spark.sparkContext.defaultParallelism
    try:
        total = 0
        if source_path and os.path.isfile(source_path):
            total = os.path.getsize(source_path)
        elif source_path and os.path.isdir(source_path):
            for root, _dirs, names in os.walk(source_path):
                total += sum(
                    os.path.getsize(os.path.join(root, f)) for f in names
                )
        if total <= 0:
            return int(spark.conf.get("spark.sql.shuffle.partitions", str(n)))
    except OSError:
        return int(spark.conf.get("spark.sql.shuffle.partitions", str(n)))
    sized = -(-total // _STATE_PARTITION_BYTES)
    return max(_STATE_PARTITION_FLOOR, min(int(sized), 64 * n))


@contextlib.contextmanager
def scoped_shuffle_partitions(spark: SparkSession, n: int | None):
    """Set ``spark.sql.shuffle.partitions`` for the duration of a
    stream drain and restore the previous value after. The conf is
    read once at streaming-query start, so the scope only needs to
    cover ``.start()``; restoring keeps concurrent batch work in the
    same session on its session-wide setting. ``n=None`` is a no-op
    scope."""
    if n is None:
        yield
        return
    before = spark.conf.get("spark.sql.shuffle.partitions", None)
    spark.conf.set("spark.sql.shuffle.partitions", str(int(n)))
    try:
        yield
    finally:
        if before is None:
            spark.conf.unset("spark.sql.shuffle.partitions")
        else:
            spark.conf.set("spark.sql.shuffle.partitions", before)


def latest_per_key(
    df: DataFrame, keys: list[str], order_by: list[str] | None = None
) -> DataFrame:
    """One row per key, chosen *deterministically*.

    ``dropDuplicates(keys)`` keeps whichever row a partition happens to
    deliver first — a replayed micro-batch could keep a different
    version of a key, which would break the idempotent-replay argument
    the streaming sink depends on. Instead rank with ``row_number``
    over a total order: ``order_by`` columns descending (newest wins —
    pass the event-time column), then every remaining non-key column
    descending as tiebreak so the order is total even when ``order_by``
    ties. Same shuffle as ``dropDuplicates`` (one hash partition on the
    keys), so determinism is free at scale.
    """
    order_by = list(order_by or [])
    tiebreak = [c for c in df.columns if c not in keys and c not in order_by]
    order_cols = [F.col(c).desc_nulls_last() for c in order_by + tiebreak]
    if not order_cols:
        # every column is a key: duplicates are identical rows
        return df.dropDuplicates(keys)
    w = Window.partitionBy(*keys).orderBy(*order_cols)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def upsert_stream(
    stream_df: DataFrame,
    table: str,
    keys: list[str],
    checkpoint: str,
    source_residual: SourcePredicate | None = None,
    available_now: bool = True,
    order_by: list[str] | None = None,
) -> StreamingQuery:
    """Land a streaming DataFrame into ``table`` by keyed upsert.

    ``available_now=True`` drains everything currently available and
    stops (batch-like backfill); ``False`` runs continuously with the
    default micro-batch trigger. ``order_by`` names the column(s)
    defining "newest" when a micro-batch carries several versions of
    one key (typically the event-time column); the winner is picked by
    :func:`latest_per_key`, so a replayed batch keeps the *same*
    version — that determinism is what upgrades at-least-once replay
    into effectively-exactly-once for keyed upserts.
    """

    owner = stream_df.sparkSession

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        # a micro-batch can contain several versions of one key; keep
        # the newest per key, deterministically, so replay is idempotent
        deduped = latest_per_key(batch_df, keys, order_by)
        upsert_into(batch_df.sparkSession, table, deduped, keys, source_residual)
        # the swap ran in the micro-batch's cloned session; the session
        # that owns the stream has its own relation cache and would
        # keep resolving the table to the replaced files
        owner.catalog.refreshTable(table)

    writer = (
        stream_df.writeStream.foreachBatch(_sink)
        .outputMode("update")
        .option("checkpointLocation", checkpoint)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def run_to_memory(
    stream_df: DataFrame,
    name: str,
    output_mode: str = "append",
    release_terminated: bool = True,
) -> DataFrame:
    """Drain a streaming DataFrame to completion (``availableNow``)
    into an in-memory sink table and return it as a batch DataFrame.

    In ``append`` mode with a watermark, only windows the final
    watermark has passed (window.end <= max event time − delay) are
    emitted — i.e. the result *observably encodes* the late-data
    policy, which is what makes a one-shot streaming run testable
    against a batch oracle. ``availableNow`` runs a trailing no-data
    batch precisely so that the final watermark advance flushes
    everything it owes.

    .. warning:: **Session-global side effect.** With
       ``release_terminated=True`` (default) this calls
       ``spark.streams.resetTerminated()`` after the drain, which
       clears **every** terminated query from the session's shared
       :class:`StreamingQueryManager` — not just this one. A
       concurrent caller blocked in ``awaitAnyTermination()`` in the
       same session can miss a termination it was waiting to
       observe. Pass ``release_terminated=False`` in sessions that
       use ``awaitAnyTermination()``; the trade-off is that each
       drained query's runtime state then stays pinned by the
       manager for the session's lifetime (measured: repeated sf5
       sessionize drains sit flat ~34 s with the release vs climbing
       past 120 s by the 8th drain without it — SCALING.md,
       streaming curve attribution).
    """
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    if release_terminated:
        # drop the manager's reference to the terminated drain: the
        # StreamingQueryManager otherwise pins every finished query's
        # runtime state for awaitAnyTermination() — which a
        # drain-style caller never uses — and a long-lived driver
        # session that drains many one-shot queries (the bench/driver
        # harness runs ~10 per session) accumulates them without
        # bound. The memory-sink table itself is unaffected — it
        # lives in the catalog until replaced by name. NOTE this is
        # session-global (see docstring warning).
        stream_df.sparkSession.streams.resetTerminated()
    return stream_df.sparkSession.table(name)
