"""Key-based MERGE upsert (reference J1) as a pure DataFrame operator.

The reference's only multi-relation operator is a Delta ``MERGE INTO``
with a 3-column composite key and a residual predicate *inside the ON
clause* (``dbc cell@8.5``/``cell@8.75``, SURVEY.md §2.4):

    MERGE INTO t USING s
    ON t.k1=s.k1 AND t.k2=s.k2 AND t.k3=s.k3
       AND s.columnName NOT IN ('', 'Not partitioned')
    WHEN MATCHED THEN UPDATE SET *
    WHEN NOT MATCHED THEN INSERT *

Because the residual lives in ON, source rows failing it never match —
they are still INSERTed via NOT MATCHED (observed in the stored run,
``dbc results@11.0``). This module reproduces those semantics exactly
on plain DataFrames (delta-spark is not a dependency — SURVEY.md §7.5)
with a SINGLE full-outer equi-join:

    t ⟗ s ON keys ∧ residual(s)
    matched rows        → source values   (UPDATE SET *)
    target-only rows    → target values   (no action)
    source-only rows    → source values   (INSERT *; includes rows
                          that merely failed the residual)

One join = one shuffle and ONE evaluation of the source plan — the
three-branch formulation (anti ∪ inner ∪ anti) recomputes an expensive
source (e.g. the whole-database profile) up to three times. Delta's
physical MERGE is likewise a single outer join. Like Delta MERGE, the
operator requires the source to be unique per key under the residual
predicate — otherwise a matched target row would multiply.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from lakehouse_tools_spark.functions.memo import expr_memo, fields_key
from lakehouse_tools_spark.functions.portable import _col

#: A residual ON-clause predicate, expressed as a function of the
#: (aliased) source relation so references resolve unambiguously in
#: the self-join-shaped plans below.
SourcePredicate = Callable[[DataFrame], Column]

#: A predicate over target columns (for conditional full-sync
#: deletes), same function-of-relation convention as SourcePredicate.
TargetPredicate = Callable[[DataFrame], Column]


def upsert(
    target: DataFrame,
    source: DataFrame,
    keys: list[str],
    source_residual: SourcePredicate | None = None,
    check_source_unique: bool = False,
    full_sync: bool = False,
    delete_condition: TargetPredicate | None = None,
    evolve_schema: bool = False,
) -> DataFrame:
    """Apply MERGE (UPDATE SET * / INSERT *) semantics, returning the
    merged relation. ``source_residual`` is the extra ON-clause
    predicate evaluated against ``source`` columns (J1's NOT IN).

    ``full_sync=True`` adds WHEN NOT MATCHED BY SOURCE THEN DELETE —
    the reference's own acknowledged To-Do (``dbc cell@1.0:37``:
    "remove databases and columns when removed in catalog"; its MERGE
    lacks the clause, ``dbc cell@8.5:4-5``): target rows whose key no
    longer appears in the (residual-passing) source are dropped.
    ``delete_condition`` narrows the delete to target rows satisfying
    it (Delta's WHEN NOT MATCHED BY SOURCE **AND cond** THEN DELETE) —
    the shape the reference's profiler needs: when re-profiling one
    database, delete only that database's stale rows, never other
    databases' entries. Implementation cost is zero extra shuffles:
    the deletes are a marker filter on the same single outer join,
    and with no delete_condition the filter is null-rejecting on the
    source side so Catalyst's EliminateOuterJoin rewrites the full
    outer to a right outer join.

    ``check_source_unique=True`` runs an assertion job (an agg over
    the source keys) before merging — off by default to keep the
    plan single-job at scale; enable it in tests and ad-hoc runs.

    ``evolve_schema=True`` enables Delta-style automatic schema
    evolution on MERGE: columns present only in the source are
    APPENDED to the output (null for rows the source didn't touch);
    columns present only in the target are RETAINED (matched rows
    keep their existing value — UPDATE SET * updates only source
    columns — and inserted rows get null). Keys must exist in both
    relations. Off by default: a silent schema drift becoming a
    silent schema change is usually a bug, not a feature.
    """
    t_set, s_set = set(target.columns), set(source.columns)
    s_new = [c for c in source.columns if c not in t_set]
    t_only = [c for c in target.columns if c not in s_set]
    if (s_new or t_only) and not evolve_schema:
        raise ValueError(
            f"target/source schemas differ: {target.columns} vs {source.columns}"
        )
    if any(k not in t_set or k not in s_set for k in keys):
        raise ValueError(f"merge keys {keys} must exist in both relations")
    if check_source_unique:
        matchable = (
            source.filter(source_residual(source))
            if source_residual is not None
            else source
        )
        dup = (
            matchable.groupBy(*keys)
            .count()
            .filter(F.col("count") > 1)
            .limit(1)
            .count()
        )
        if dup:
            raise ValueError("MERGE source has duplicate keys under the ON predicate")

    # Column-rename isolation (instead of DataFrame-attribute column
    # references) so merge outputs can be merged again — lineage-based
    # resolution is ambiguous under self-join-shaped chains. The
    # residual is evaluated on the source BEFORE renaming so the
    # caller's predicate sees the caller's column names. A non-null
    # marker tells source-side rows apart after the outer join (key
    # columns may legitimately be null).
    cols = source.columns
    residual_col = (
        source_residual(source) if source_residual is not None else F.lit(True)
    )

    # everything below the residual is derived from column NAMES and
    # TYPES alone — memoize the built Column bundle so repeated merges
    # of the same shape (bench reps, the profiler's two upserts per
    # run) skip the per-column py4j rebuild (functions/memo.py)
    def _build() -> dict:
        s_sel = [
            F.lit(1).alias("_src_present"),
            F.col("_residual_ok"),
            *[_col(c).alias(f"_s_{c}") for c in cols],
        ]
        t_cols = [_col(c).alias(f"_t_{c}") for c in target.columns]
        cond = F.col("_residual_ok")
        for k in keys:
            cond = cond & _col(f"_t_{k}").eqNullSafe(_col(f"_s_{k}"))
        s_types = {f.name: f.dataType for f in source.schema.fields}
        out_exprs = []
        for c in list(target.columns) + s_new:
            if c in t_only:
                out_exprs.append(_col(f"_t_{c}").alias(c))
            elif c in s_new:
                out_exprs.append(
                    F.when(
                        F.col("_src_present").isNotNull(), _col(f"_s_{c}")
                    )
                    .otherwise(F.lit(None).cast(s_types[c]))
                    .alias(c)
                )
            else:
                out_exprs.append(
                    F.when(
                        F.col("_src_present").isNotNull(), _col(f"_s_{c}")
                    )
                    .otherwise(_col(f"_t_{c}"))
                    .alias(c)
                )
        return {"s_sel": s_sel, "t_cols": t_cols, "cond": cond, "out": out_exprs}

    bundle = expr_memo(
        (
            "merge_upsert",
            tuple(cols),
            tuple(target.columns),
            tuple(keys),
            fields_key(source.schema.fields),
        ),
        _build,
    )

    s = source.withColumn("_residual_ok", residual_col).select(*bundle["s_sel"])
    t_cols = bundle["t_cols"]
    if full_sync and delete_condition is not None:
        t = target.withColumn("_del_ok", delete_condition(target)).select(
            F.col("_del_ok"), *t_cols
        )
    else:
        t = target.select(*t_cols)

    joined = t.join(s, bundle["cond"], "full_outer")
    if full_sync:
        # WHEN NOT MATCHED BY SOURCE [AND cond] THEN DELETE: drop
        # target-only rows (those matching delete_condition, if any).
        keep = F.col("_src_present").isNotNull()
        if delete_condition is not None:
            keep = keep | ~F.coalesce(F.col("_del_ok"), F.lit(False))
        joined = joined.filter(keep)
    # Output schema: target columns in target order, then source-new
    # columns in source order (the Delta mergeSchema append rule) —
    # built in the memoized bundle above.
    return joined.select(*bundle["out"])


def not_in(column: str, values: list[str]) -> SourcePredicate:
    """The reference's ON-clause residual: ``s.columnName NOT IN (...)``
    (``dbc cell@8.5:3``). SQL NOT IN is null-rejecting; preserved."""
    return lambda source: ~source[column].isin(values)
