"""The benchmark's three workloads.

Each is one client in a closed loop: the runner issues the next op only
after the previous one returns. Work comes in rounds of fixed content
(one full refresh; one change batch per mutable table; one pass over
the query list), so a round is a fixed amount of work whatever the
seed. The engine is driven only through its public functions.

- ``refresh_full``: the paper's pipeline end to end over the whole
  catalog: list tables, harvest schemas, profile every column,
  MERGE both results into the stored targets, then cluster both.
- ``refresh_incremental``: a seeded change batch lands in one source
  table; only that table is re-profiled and merged into the stored
  ``profileData`` with a delete scoped to that table.
- ``query_mix``: read-only analytics: registered queries, each fully
  materialized with a ``noop`` write, in a seed-shuffled order.
"""

from __future__ import annotations

import os
import sys
import time
from collections.abc import Callable
from dataclasses import dataclass
from functools import partial

import numpy as np

import __spark_entry__ as E
import gen
import oracle
from lakehouse_tools_spark.catalog import list_tables
from lakehouse_tools_spark.operators.merge import not_in
from lakehouse_tools_spark.operators.profile import (
    PROFILE_DATA_SCHEMA,
    SCHEMA_INFORMATION_SCHEMA,
    profile_data,
    schema_information,
)
from lakehouse_tools_spark.operators.writer import (
    create_or_replace,
    optimize_clustered,
    upsert_into,
)
from lakehouse_tools_spark.plans.pipeline import (
    MERGE_EXCLUDED_COLUMN_NAMES,
    MERGE_KEYS,
    PROFILE_MERGE_KEYS,
)
from lakehouse_tools_spark.sources.tables import load_tables

DB = "lake"
PROFILE_TABLE = "profileData"
SCHEMA_TABLE = "SchemaInformation"
RESIDUAL = not_in("columnName", MERGE_EXCLUDED_COLUMN_NAMES)

#: query -> (module of its operator, source tables it reads). Every
#: operator module has a query. ``profile_summary`` and ``profile_topk``
#: are left out so that the benchmark's repeated runs fit its time budget.
QUERIES: dict[str, tuple[str, tuple[str, ...]]] = {
    "tpch_q1": ("entry.tpch", ("lineitem",)),
    "tpch_q18": ("entry.tpch", ("customer", "orders", "lineitem")),
    "tpch_q21": ("entry.tpch", ("supplier", "lineitem", "orders", "nation")),
    "profile_quantiles_exact": ("operators.profile", ("orders", "lineitem")),
    "table_versions": ("operators.writer", ("nation",)),
    "dedup_collapse": ("ext.dedup", ("documents",)),
    "sim_neardup_lsh": ("ext.similarity", ("embeddings",)),
    "text_bigrams": ("ext.text", ("documents",)),
}


@dataclass
class Op:
    """One closed-loop operation: ``fn`` runs it, ``rows`` is the
    number of source rows it processes."""

    label: str
    fn: Callable[[], None]
    rows: int


class RefreshFull:
    name = "refresh_full"
    #: warehouse directories of the live target tables
    live = ("profiledata", "schemainformation")
    #: untimed rounds after ``warm_up`` (op times still fall after two)
    warm_rounds = 3
    #: seconds of the warm-up spent in oracles (none here)
    oracle_s = 0.0

    def __init__(self, ctx):
        self.ctx = ctx
        self.spark = ctx.spark
        self.span = ctx.tracer.span
        #: source rows per table, set by ``prepare``
        self.rows: dict[str, int] = {}
        #: (target, source tables) of every merge, for the rewrite ratio
        self.merges: list[tuple[str, tuple[str, ...]]] = []
        self.ratios: dict[str, float] = {}

    def prepare(self) -> dict:
        """Generate the inputs, register them as the ``lake`` catalog
        and create empty targets. Returns the generated tables."""
        s = self.spark
        frames = gen.generate(self.ctx.data_dir, self.ctx.seed, self.ctx.sf)
        self.rows = {t: tbl.num_rows for t, tbl in frames.items()}
        s.sql(f"DROP DATABASE IF EXISTS {DB} CASCADE")
        s.sql(f"CREATE DATABASE {DB}")
        for t in gen.TABLES:
            cols = ", ".join(f"`{c}` {dt}" for c, dt in gen.SCHEMAS[t])
            path = os.path.join(self.ctx.data_dir, f"{t}.parquet")
            s.sql(f"CREATE TABLE {DB}.{t} ({cols}) USING parquet LOCATION '{path}'")
        create_or_replace(s, s.createDataFrame([], PROFILE_DATA_SCHEMA), PROFILE_TABLE)
        create_or_replace(s, s.createDataFrame([], SCHEMA_INFORMATION_SCHEMA), SCHEMA_TABLE)
        return frames

    def warm_up(self) -> None:
        """Nothing before the warm rounds."""

    def round(self) -> list[Op]:
        return [Op("refresh", self.refresh, sum(self.rows.values()))]

    def refresh(self) -> None:
        s, span, mark = self.spark, self.span, self.ctx.mark
        with span("catalog.list_tables"):
            names = tuple(r.tableName for r in list_tables(s, DB).collect())
        with span("sources.tables.load_tables"):
            tables = load_tables(s, self.ctx.data_dir, names)
        with span("operators.profile.schema_information"):
            schema_src = schema_information(tables, DB, s)
        with span("operators.profile.profile_data"):
            profile_src = profile_data(tables, DB)
        with span("operators.writer.upsert_into", "action"):
            upsert_into(s, SCHEMA_TABLE, schema_src, MERGE_KEYS, RESIDUAL)
        mark()
        with span("operators.writer.upsert_into", "action"):
            upsert_into(s, PROFILE_TABLE, profile_src, PROFILE_MERGE_KEYS, RESIDUAL)
        mark()
        with span("operators.writer.optimize_clustered", "action"):
            optimize_clustered(s, SCHEMA_TABLE, ["databaseName", "tableName"])
        mark()
        with span("operators.writer.optimize_clustered", "action"):
            optimize_clustered(
                s, PROFILE_TABLE, ["databaseName", "tableName", "columnName"]
            )
        if self.ctx.tracer.active:
            self.merges += [(SCHEMA_TABLE, names), (PROFILE_TABLE, names)]

    def verify(self) -> list[str | None]:
        """Stored targets vs a full DuckDB recompute over the current
        inputs. Returns one entry per check: ``None`` or the failure."""
        if self.ctx.corrupt:  # plant one wrong row (plumbing test)
            self.spark.sql(
                f"INSERT INTO {PROFILE_TABLE} VALUES "
                f"('{DB}', 'region', 'r_name', 'string', 'BOGUS', 1.0, 5.0)"
            )
        con = oracle.connect(self.ctx.data_dir)
        stored = self.spark.table(PROFILE_TABLE).toPandas()
        results = [
            _check("profileData", stored, con.sql(oracle.profile_sql(DB)).df()),
            _check(
                "SchemaInformation",
                self.spark.table(SCHEMA_TABLE).toPandas(),
                con.sql(oracle.schema_sql(DB)).df(),
            ),
        ]
        con.close()
        self._set_ratios(stored)
        return results

    def _set_ratios(self, stored) -> None:
        """Distinct profile rows per melted cell, and rows rewritten
        per source row merged (source sizes from the final state)."""
        per_table = stored.groupby("tableName").size().to_dict()
        cols = {t: sum(dt in oracle.PROFILABLE for _, dt in gen.SCHEMAS[t]) for t in gen.TABLES}
        cells = sum(self.rows[t] * cols[t] for t in gen.TABLES)
        self.ratios["distinct_ratio"] = len(stored) / cells
        src = 0
        for target, tables in self.merges:
            if target == PROFILE_TABLE:
                src += sum(per_table.get(t, 0) for t in tables)
            else:
                src += sum(len(gen.SCHEMAS[t]) for t in tables)
        self.ratios["merged_rows"] = src


class RefreshIncremental(RefreshFull):
    name = "refresh_incremental"
    warm_rounds = 1

    def prepare(self) -> dict:
        self.frames = super().prepare()
        self.base = gen.load_base()
        self.batch_rng = np.random.default_rng([self.ctx.seed, 1])
        self.order_rng = np.random.default_rng([self.ctx.seed, 2])
        return self.frames

    def warm_up(self) -> None:
        """The initial full refresh that fills ``profileData``."""
        self.refresh()

    def round(self) -> list[Op]:
        tables = [gen.MUTABLE[i] for i in self.order_rng.permutation(len(gen.MUTABLE))]
        return [Op(t, partial(self.change, t), self.rows[t]) for t in tables]

    def change(self, table: str) -> None:
        """Land a change batch in ``table``, then re-profile only it."""
        s, span = self.spark, self.span
        new = gen.change_batch(self.frames[table], self.base[table], self.batch_rng)
        gen.write_table(new, os.path.join(self.ctx.data_dir, f"{table}.parquet"))
        self.frames[table] = new
        with span("sources.tables.load_tables"):
            tables = load_tables(s, self.ctx.data_dir, (table,))
        with span("operators.profile.profile_data"):
            profile_src = profile_data(tables, DB)
        with span("operators.writer.upsert_into", "action"):
            upsert_into(
                s,
                PROFILE_TABLE,
                profile_src,
                PROFILE_MERGE_KEYS,
                RESIDUAL,
                full_sync=True,
                delete_condition=lambda t: (t["databaseName"] == DB)
                & (t["tableName"] == table),
            )
        if self.ctx.tracer.active:
            self.merges.append((PROFILE_TABLE, (table,)))


class QueryMix:
    name = "query_mix"
    #: ``table_versions`` keeps its table and archives in the warehouse
    live = ("nation_versioned",)
    #: the checking pass already runs every query once
    warm_rounds = 0

    def __init__(self, ctx):
        self.ctx = ctx
        self.spark = ctx.spark
        self.span = ctx.tracer.span
        self.rows: dict[str, int] = {}
        self.queries = E.queries()
        self.oracles = E.oracle_sql()
        self.checks: list[str | None] = []
        self.oracle_s = 0.0
        self.ratios: dict[str, float] = {}

    def prepare(self) -> dict:
        frames = gen.generate(self.ctx.data_dir, self.ctx.seed, self.ctx.sf)
        self.rows = {t: tbl.num_rows for t, tbl in frames.items()}
        self.order_rng = np.random.default_rng([self.ctx.seed, 3])
        return frames

    def warm_up(self) -> None:
        """One pass that collects every result and checks it against
        its DuckDB oracle (the oracle's own time is kept apart), then one
        ``noop`` write."""
        con = oracle.connect(self.ctx.data_dir)
        self.checks = []
        for q in QUERIES:
            t0 = time.perf_counter()
            try:
                got = self.queries[q](self.spark, self.ctx.data_dir).toPandas()
            except Exception as exc:  # a raised error is a failed check
                self.checks.append(f"{q}: {type(exc).__name__}: {exc}")
                continue
            print(f"lakebench: check {q} {time.perf_counter() - t0:.3f} s", file=sys.stderr)
            t0 = time.perf_counter()
            if self.ctx.corrupt and not self.checks:  # plumbing test
                got = got.iloc[1:]
            err = _check(q, got, con.sql(self.oracles[q]).df())
            self.checks.append(err)
            self.oracle_s += time.perf_counter() - t0
        con.close()
        # the timed ops write to ``noop``, which the pass above never did
        self.run(next(iter(QUERIES)))

    def round(self) -> list[Op]:
        names = [list(QUERIES)[i] for i in self.order_rng.permutation(len(QUERIES))]
        return [
            Op(q, partial(self.run, q), sum(self.rows[t] for t in QUERIES[q][1]))
            for q in names
        ]

    def run(self, q: str) -> None:
        module = QUERIES[q][0]
        with self.span(module, "construct"):
            df = self.queries[q](self.spark, self.ctx.data_dir)
        with self.span(module, "action"):
            df.write.format("noop").mode("overwrite").save()

    def verify(self) -> list[str | None]:
        return self.checks


def _check(label: str, got, want) -> str | None:
    err = oracle.compare(got, want)
    return f"{label}: {err}" if err else None


WORKLOADS = {w.name: w for w in (RefreshFull, RefreshIncremental, QueryMix)}
