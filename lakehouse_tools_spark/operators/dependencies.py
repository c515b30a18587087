"""Functional-dependency discovery: does A determine B?

Schema-profiling extension of the reference's profiler surface
(SURVEY §2 P-family; the reference's notebook profiles per-column
value distributions — ``dbc cell@8.0:24-38`` — but never relations
BETWEEN columns). FD candidates answer the questions a profiler user
asks next: which columns are keys, which pairs are denormalized
copies, which "id → attribute" contracts actually hold in the data.

Definition used (standard, Metanome/TANE-style, restricted to the
requested pairs): ``A → B`` holds iff no two rows agree on ``A`` but
differ on ``B``; equivalently ``count(distinct A) == count(distinct
A, B)``. Rows where A or B is NULL are excluded (ANSI multi-argument
``COUNT(DISTINCT ...)`` semantics) — a NULL determinant determines
nothing, and this keeps the check expressible identically in any SQL
engine.

Execution shape: ONE aggregate pass over the table computes every
requested pair's two distinct counts simultaneously; a ``stack``
projection over the single result row melts them to one row per pair.
Nothing is collected; the output is |pairs| rows.

Scale: exact mode's multiple ``COUNT(DISTINCT)``s make Catalyst plan
an Expand (the scan's rows are replicated once per distinct-aggregate
group before the partial aggregate) — exact and oracle-verifiable,
but the 100 TB path is ``approx=True``: ``approx_count_distinct``
HLL sketches are computed in a single pass with ordinary map-side
partials and NO Expand, at the cost of ±rsd on the counts (so
``fd_holds`` becomes a ratio screen, not a proof — the returned
``strength`` is what to threshold; re-check survivors exactly).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from lakehouse_tools_spark.functions.portable import floor6
from lakehouse_tools_spark.sources.tables import ensure_parallelism

#: distinct-map working-set bytes per PARQUET source byte. The
#: partial distinct aggregate's hash map holds one JVM entry per
#: (group, value) combo — dictionary/RLE-encoded key columns expand
#: ~8× from parquet bytes to map-entry bytes, so byte-based task
#: sizing must account for it or the per-task maps outgrow their
#: execution-memory share at a fixed task count. Measured (sf10
#: orders, 15 M rows, 240 MB parquet, healthy window): 32 tasks =
#: 28.0 s wall / 9 effective cores (memory-manager stall), 128 tasks
#: = 9.9 s, 256 = 7.3 s.
_MAP_BYTES_PER_SOURCE_BYTE = 8.0


def fd_candidates(
    df: DataFrame,
    pairs: list[tuple[str, str]],
    approx: bool = False,
    rsd: float = 0.02,
) -> DataFrame:
    """One row per (determinant, dependent) candidate pair.

    Output: ``determinant, dependent, n_det, n_pair, fd_holds,
    strength``. Rows where det OR dep is NULL are excluded from BOTH
    counts (a null on either side asserts nothing about the
    dependency): ``n_det`` is the distinct determinants among
    COMPLETE pairs, ``n_pair = count(distinct det, dep)``, so
    ``n_det <= n_pair`` always, ``fd_holds = (n_det == n_pair)``
    (vacuously true on zero complete pairs) and ``strength =
    floor6(n_det / n_pair)`` — 1.0 for a holding FD, sliding toward
    0 as determinant groups split over more dependent values, NULL
    when no complete pair exists.

    ``approx=True`` swaps both counts for ``approx_count_distinct``
    at relative standard deviation ``rsd`` (the 100 TB path — no
    Expand, mergeable HLL partials). The two estimates come from
    DIFFERENT sketches (det vs the (det, dep) struct), so even a
    holding FD's estimates disagree within the error band —
    ``fd_holds`` in approx mode is therefore a tolerance screen,
    ``n_det >= n_pair × (1 − 3·rsd)``: no false dismissals of true
    FDs beyond 3σ, while gross violations (the ones worth finding)
    sit far outside the band. Treat approx ``fd_holds=True`` as
    "candidate survives"; confirm survivors with one exact pass.
    """
    if not pairs:
        raise ValueError("fd_candidates: pairs must be non-empty")

    def _det_distinct(det: str, dep: str) -> F.Column:
        # the determinant counts only where the pair is COMPLETE —
        # a null dep row must not inflate n_det past n_pair
        guarded = F.when(F.col(dep).isNotNull(), F.col(det))
        if approx:
            return F.approx_count_distinct(guarded, rsd)
        return F.count_distinct(guarded)

    def _pair_distinct(det: str, dep: str) -> F.Column:
        if approx:
            # sketch the null-guarded struct; a struct is non-null
            # even with null fields, so guard to match
            # COUNT(DISTINCT a, b)'s null exclusion.
            complete = F.col(det).isNotNull() & F.col(dep).isNotNull()
            return F.approx_count_distinct(
                F.when(complete, F.struct(F.col(det), F.col(dep))), rsd
            )
        return F.count_distinct(F.col(det), F.col(dep))

    # prune to the consumed columns, then spread size-aware. In exact
    # mode the Expand replicates every row once per distinct-aggregate
    # group (2 × |pairs|) and each partial map entry costs
    # _MAP_BYTES_PER_SOURCE_BYTE — at a bare core-count task floor the
    # per-task maps outgrow their memory share on key-like
    # determinants and the stage stalls on the memory manager (see the
    # constant's measured A/B). approx mode plans NO Expand (HLL
    # partials are fixed-size registers, mergeable map-side) and its
    # per-task working set does not accumulate per distinct value at
    # all — rows stream into 2x|pairs| fixed-size sketches — so
    # NEITHER multiplier applies there: expansion stays 1.0 and the
    # guard only provides the core-count floor (sizing
    # the 100 TB path's tasks as if the exact-mode maps existed
    # over-partitions up to the 64x-cores cap for pure scheduling
    # overhead).
    cols: list[str] = []
    for det, dep in pairs:
        for c in (det, dep):
            if c not in cols:
                cols.append(c)
    expansion = (
        1.0 if approx else 2 * len(pairs) * _MAP_BYTES_PER_SOURCE_BYTE
    )
    spread = ensure_parallelism(df.select(*cols), expansion=expansion)

    aggs = []
    for i, (det, dep) in enumerate(pairs):
        aggs.append(_det_distinct(det, dep).cast("long").alias(f"_nd{i}"))
        aggs.append(_pair_distinct(det, dep).cast("long").alias(f"_np{i}"))
    one = spread.agg(*aggs)

    stack_args = ", ".join(
        f"'{det}', '{dep}', _nd{i}, _np{i}"
        for i, (det, dep) in enumerate(pairs)
    )
    melted = one.select(
        F.expr(
            f"stack({len(pairs)}, {stack_args}) AS "
            "(determinant, dependent, n_det, n_pair)"
        )
    )
    if approx:
        holds = F.col("n_det").cast("double") >= (
            F.col("n_pair").cast("double") * F.lit(1.0 - 3.0 * rsd)
        )
    else:
        holds = F.col("n_det") == F.col("n_pair")
    return melted.select(
        "determinant",
        "dependent",
        "n_det",
        "n_pair",
        holds.alias("fd_holds"),
        F.when(
            F.col("n_pair") > 0,
            floor6(
                F.col("n_det").cast("double")
                / F.col("n_pair").cast("double")
            ),
        ).alias("strength"),
    )
