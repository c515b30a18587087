"""Deterministic sampling for training-data pipelines.

Building a training mixture at 100 TB needs sampling that is (a) a
pure filter — no shuffle, no RNG state, pushes down next to the scan —
and (b) reproducible: the same row set on every run, every engine,
any partitioning. ``df.sample()`` fails both (partition-seeded RNG:
resample on retry/re-partition). The standard fix, used here, is
*hash sampling*: keep a row iff a uniform hash of its stable key
lands under the target fraction. md5-prefix → 32-bit integer gives a
u ∈ [0, 2³²) uniform enough for mixture ratios, and both Spark and
ANSI engines can compute it byte-identically (the oracle does).

- :func:`hash_sample` — Bernoulli-style keep-``fraction`` filter.
- :func:`stratified_sample` — per-stratum fractions (downweight the
  dominant source, upweight the rare one) as ONE filter: the fraction
  is looked up from a map literal, so the plan is still join-free.
- :func:`balanced_sample` — hard cap of N rows per group (class
  balancing), deterministic winners: one window shuffle on the group
  key, rank by (hash, key) so the kept set is stable under any input
  order. The shuffle carries only rows that could win at most-skewed
  groups; at scale prefer :func:`stratified_sample` when a fractional
  target is acceptable (no shuffle at all).

``salt`` decorrelates independent samples over the same keys (e.g.
train/eval splits: same fraction, different salts → disjoint-ish,
reproducible sets).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from lakehouse_tools_spark.functions.portable import _col

#: 2^32 — the md5-prefix hash space.
_HASH_SPACE = float(1 << 32)


def hash_u32(col: Column, salt: str = "") -> Column:
    """Uniform 32-bit integer from md5 of (key ++ salt) — the
    engine-portable uniform hash (DuckDB:
    ``CAST(concat('0x', substr(md5(..),1,8)) AS BIGINT)``)."""
    keyed = F.concat(col.cast("string"), F.lit(salt))
    return F.conv(F.substring(F.md5(keyed), 1, 8), 16, 10).cast("long")


def hash_fraction(col: Column, salt: str = "") -> Column:
    """Uniform u ∈ [0, 1) from a stable key."""
    return hash_u32(col, salt) / F.lit(_HASH_SPACE)


def hash_sample(
    df: DataFrame, fraction: float, key_col: str, salt: str = ""
) -> DataFrame:
    """Keep ≈``fraction`` of rows, deterministically, as a pure filter
    (no shuffle; Catalyst pushes it to the scan)."""
    return df.filter(hash_fraction(F.col(key_col), salt) < F.lit(float(fraction)))


def stratified_sample(
    df: DataFrame,
    strata_col: str,
    fractions: dict[str, float],
    key_col: str,
    salt: str = "",
    default_fraction: float = 0.0,
) -> DataFrame:
    """Per-stratum hash sampling: stratum → keep-fraction, unlisted
    strata keep ``default_fraction``. Single filter, join-free — the
    stratum's fraction comes from a constant-folded map literal."""
    fmap = F.create_map(
        *[
            x
            for k, v in sorted(fractions.items())
            for x in (F.lit(k), F.lit(float(v)))
        ]
    )
    frac = F.coalesce(fmap[_col(strata_col)], F.lit(float(default_fraction)))
    return df.filter(hash_fraction(_col(key_col), salt) < frac)


def build_mixture(
    sources: dict[str, DataFrame],
    weights: dict[str, float],
    total: int,
    key_col: str,
    salt: str = "",
) -> DataFrame:
    """Training-mixture assembly: sample each source so the output
    approximates ``total`` rows in the ``weights`` proportions, and
    union with a ``mix_source`` provenance column.

    Per-source keep-fraction = min(1, w̄ₛ·total / |s|) (w̄ = weights
    normalized to sum 1): one count job per source — metadata-scale,
    the plan per source is then a pure hash-sample filter (no
    shuffle). An undersized source saturates at fraction 1 (you get
    all of it) rather than erroring — the standard mixture-building
    behavior; rebalance weights if exact ratios matter more than
    coverage. Deterministic end to end: same inputs → same mixture,
    any engine, any partitioning.
    """
    if set(weights) != set(sources):
        raise ValueError(
            f"weights/sources keys differ: {sorted(weights)} vs {sorted(sources)}"
        )
    wsum = float(sum(weights.values()))
    if wsum <= 0:
        raise ValueError("weights must sum to a positive number")
    parts = []
    for name in sorted(sources):
        df = sources[name]
        cnt = df.count()
        if cnt == 0:
            continue
        frac = min(1.0, (weights[name] / wsum) * total / cnt)
        parts.append(
            hash_sample(df, frac, key_col, salt).withColumn(
                "mix_source", F.lit(name)
            )
        )
    if not parts:
        raise ValueError("all sources are empty")
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def balanced_sample(
    df: DataFrame, group_col: str, n_per_group: int, key_col: str, salt: str = ""
) -> DataFrame:
    """At most ``n_per_group`` rows per group — class-balanced
    downsampling with deterministic winners: rank by (uniform hash,
    key) inside each group and keep the first N. The (hash, key)
    order is a total order independent of physical row order, so the
    kept set is reproducible across runs and engines."""
    w = Window.partitionBy(group_col).orderBy(
        hash_u32(F.col(key_col), salt).asc(), F.col(key_col).asc()
    )
    return (
        df.withColumn("_bsrn", F.row_number().over(w))
        .filter(F.col("_bsrn") <= n_per_group)
        .drop("_bsrn")
    )


def weighted_sample(
    df: DataFrame,
    weight_col: str,
    fraction: float,
    key_col: str,
    salt: str = "",
) -> DataFrame:
    """Deterministic importance sampling: row keep-probability ∝ its
    weight, targeting ``fraction`` of rows overall — the curation
    step that over-samples high-quality documents without dropping
    the tail entirely.

    Keep rule: ``hash_u32(key)/2³² < fraction · w / mean(w)``
    (clamped to 1). One 1-row mean aggregate broadcast back, then a
    pure filter — no shuffle of the data, same scale shape as
    ``hash_sample``. Deterministic: same inputs → same kept set on
    any engine/partitioning. Rows with weight ≥ mean/fraction are
    always kept (probability clamps at 1), so the realized rate can
    undershoot ``fraction`` on heavy-tailed weights — the standard
    behavior of clamped importance sampling.
    """
    mean = df.agg(F.avg(F.col(weight_col)).alias("_mw"))
    return (
        df.crossJoin(F.broadcast(mean))
        .filter(
            hash_fraction(F.col(key_col), salt)
            < F.least(
                F.lit(1.0),
                F.lit(float(fraction)) * F.col(weight_col) / F.col("_mw"),
            )
        )
        .drop("_mw")
    )


def split_corpus(
    df: DataFrame,
    weights: dict[str, float],
    key_col: str,
    salt: str = "",
) -> DataFrame:
    """Deterministic train/val/test assignment: each row gets the
    split whose cumulative-weight interval contains its uniform hash
    — a pure projection (no shuffle, no RNG state), so the assignment
    is reproducible on any engine/partitioning/cluster size and
    STABLE UNDER APPENDS: a new document never flips an old one's
    split (the failure mode of randomSplit, whose assignment depends
    on partition layout). ``salt`` re-deals the whole assignment.

    Splits partition the data exactly: intervals are half-open and
    cover [0, 1), so every row lands in exactly one split. Weights
    must sum to 1 (validated); interval edges computed in one pass
    over the sorted split names for a canonical order.
    """
    total = sum(weights.values())
    if abs(total - 1.0) > 1e-9:
        raise ValueError(f"split weights must sum to 1, got {total}")
    u = hash_fraction(F.col(key_col), salt)
    expr = None
    acc = 0.0
    for name, w in sorted(weights.items()):
        acc += w
        cond = u < F.lit(min(acc, 1.0))
        expr = F.when(cond, name) if expr is None else expr.when(cond, name)
    # float edge guard: a hash exactly at the last boundary (acc may
    # land at 0.99999999…) falls through to the final split
    last = sorted(weights)[-1]
    return df.withColumn("split", expr.otherwise(F.lit(last)))
