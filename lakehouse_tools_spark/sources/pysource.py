"""Custom connector on Spark 4's Python DataSource API.

The engine's table surface is parquet/CSV/JSON/ORC/binaryFile plus
the durable writer (sources/tables.py, operators/writer.py). This
module adds the remaining connector story: a from-scratch DataSource
(`pyspark.sql.datasource`) — the Python-native successor to
DataSourceV2 for custom sources — demonstrating the three things a
REAL connector must get right at scale, each pinned by tests:

- **partition planning**: ``partitions()`` splits the key range into
  ``partitions`` contiguous :class:`InputPartition` slices, so Spark
  schedules one task per slice and the scan parallelizes like any
  file source (``df.rdd.getNumPartitions()`` equals the plan).
- **filter pushdown**: ``pushFilters`` retains range/equality
  predicates on ``event_id`` (the partition key) and prunes
  now-empty slices at PLANNING time — the Python analog of parquet's
  PushedFilters. All filters are also handed back to Spark
  (conservatively "unsupported"), so pruning can only skip rows the
  filter would drop anyway: correctness never depends on the
  source's own predicate evaluation.

  Pruning is OPT-IN (``pushdown=True`` / ``.option("pushdown",
  "true")``) because of a measured Spark 4.1 engine hazard:
  the JVM stores the last filtered scan's Python planning result on
  the SHARED relation, so re-scanning one loaded DataFrame under a
  weaker (or no) filter can silently reuse the stronger scan's
  pruned partitions and LOSE rows — measured: ``df.filter(id<125)``
  then ``df.count()`` returns 125, and a union of two filtered
  branches of one load undercounts. With pushdown enabled the
  relation is single-use by contract: derive each differently-
  filtered scan from a fresh ``.load()``. The default never prunes,
  so arbitrary plan reuse stays correct.
- **Arrow batch reads**: ``read()`` yields ``pyarrow.RecordBatch``
  per slice, not per-row tuples — the vectorized handoff path.

The source itself generates deterministic synthetic events: row i
derives everything from ``md5(str(i))`` (the repo's engine-portable
hash idiom), so the exact same relation is computable in DuckDB SQL
— which is what makes a custom CONNECTOR oracle-verifiable
end-to-end (``source_python_datasource`` in ``__spark_entry__``):

    h(i)       = int(md5(str(i))[:8], 16)
    user_id    = 1 + h % 1000
    event_type = TYPES[h % 5]
    value      = (h % 100000) / 100.0   (exact: 2-decimal double)

Deterministic synthetic sources are also the standard way to feed
scale/soak tests without shipping fixture bytes — rows exist only as
they stream through the scan.
"""

from __future__ import annotations

import hashlib
from typing import Iterator

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    EqualTo,
    Filter,
    GreaterThan,
    GreaterThanOrEqual,
    InputPartition,
    LessThan,
    LessThanOrEqual,
)
from pyspark.sql.types import StructType

SOURCE_NAME = "lakehouse_synthetic_events"
SCHEMA_DDL = (
    "event_id bigint, user_id bigint, event_type string, value double"
)
TYPES = ("click", "view", "purchase", "signup", "error")


class _RangePartition(InputPartition):
    def __init__(self, start: int, end: int) -> None:
        self.start = start
        self.end = end


class SyntheticEventsReader(DataSourceReader):
    def __init__(self, options: dict) -> None:
        self.rows = int(options.get("rows", 20_000))
        self.num_partitions = int(options.get("partitions", 8))
        self.pushdown = str(options.get("pushdown", "false")).lower() == "true"
        # planning-time bounds on event_id == the global row index;
        # tightened by pushFilters (opt-in), consumed by partitions()
        self.lo = 0
        self.hi = self.rows

    def pushFilters(self, filters: list[Filter]) -> Iterator[Filter]:
        """Tighten the planned [lo, hi) index range from range/equality
        predicates on event_id. EVERY filter is yielded back as
        unsupported — Spark re-applies them post-scan — so the pruning
        here is a pure planning optimization (fewer partitions, fewer
        generated rows), never load-bearing for correctness — but see
        the module docstring's Spark 4.1 shared-relation hazard: the
        bounds only tighten when ``pushdown=true`` was passed, making
        the relation single-use by contract."""
        if not self.pushdown:
            yield from filters
            return
        for f in filters:
            if isinstance(
                f,
                (
                    EqualTo,
                    GreaterThan,
                    GreaterThanOrEqual,
                    LessThan,
                    LessThanOrEqual,
                ),
            ) and tuple(f.attribute) == ("event_id",) and isinstance(
                f.value, int
            ):
                if isinstance(f, EqualTo):
                    self.lo = max(self.lo, f.value)
                    self.hi = min(self.hi, f.value + 1)
                elif isinstance(f, GreaterThan):
                    self.lo = max(self.lo, f.value + 1)
                elif isinstance(f, GreaterThanOrEqual):
                    self.lo = max(self.lo, f.value)
                elif isinstance(f, LessThan):
                    self.hi = min(self.hi, f.value)
                else:  # LessThanOrEqual
                    self.hi = min(self.hi, f.value + 1)
            yield f

    def partitions(self) -> list[InputPartition]:
        lo, hi = self.lo, max(self.lo, self.hi)
        if hi <= lo:
            return [_RangePartition(0, 0)]  # planned-empty scan
        # slice the ORIGINAL range grid and keep slices overlapping
        # [lo, hi): pushdown prunes whole slices, surviving slices
        # keep their grid boundaries (stable task sizing either way)
        step = max(1, -(-self.rows // self.num_partitions))
        parts = []
        for s in range(0, self.rows, step):
            e = min(s + step, self.rows)
            s2, e2 = max(s, lo), min(e, hi)
            if s2 < e2:
                parts.append(_RangePartition(s2, e2))
        return parts or [_RangePartition(0, 0)]

    def read(self, partition: _RangePartition):
        import pyarrow as pa

        idx = range(partition.start, partition.end)
        h = [
            int(hashlib.md5(str(i).encode()).hexdigest()[:8], 16)
            for i in idx
        ]
        yield pa.RecordBatch.from_pydict(
            {
                "event_id": pa.array(list(idx), pa.int64()),
                "user_id": pa.array([1 + x % 1000 for x in h], pa.int64()),
                "event_type": pa.array([TYPES[x % 5] for x in h]),
                "value": pa.array(
                    [(x % 100_000) / 100.0 for x in h], pa.float64()
                ),
            }
        )


class SyntheticEventsDataSource(DataSource):
    """``spark.read.format("lakehouse_synthetic_events")`` after
    ``spark.dataSource.register(SyntheticEventsDataSource)``."""

    @classmethod
    def name(cls) -> str:
        return SOURCE_NAME

    def schema(self) -> str:
        return SCHEMA_DDL

    def reader(self, schema: StructType) -> SyntheticEventsReader:
        return SyntheticEventsReader(dict(self.options))


def register(spark) -> None:
    """Idempotently register the source with a session."""
    spark.dataSource.register(SyntheticEventsDataSource)


def read_synthetic_events(
    spark, rows: int = 20_000, partitions: int = 8, pushdown: bool = False
):
    """Register + read in one call (the engine-facing entry point).

    ``pushdown=True`` enables planning-time slice pruning and makes
    the returned relation SINGLE-USE: scan it under one filter
    context only, and call this again for each differently-filtered
    scan (module docstring: Spark 4.1 stores the last filtered
    scan's planning on the shared relation)."""
    register(spark)
    return (
        spark.read.format(SOURCE_NAME)
        .option("rows", str(rows))
        .option("partitions", str(partitions))
        .option("pushdown", "true" if pushdown else "false")
        .load()
    )
