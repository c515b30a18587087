"""Training-sequence packing — fill fixed-size context windows from
variable-length documents.

LLM pretraining consumes fixed-length token sequences; corpora are
variable-length documents. Two standard policies:

- :func:`pack_chunks` — concat-and-chunk (GPT-style): concatenate
  documents in a deterministic order and slice every ``budget``
  units, letting documents straddle sequence boundaries. Fully
  declarative (window cumsum + explode) — no UDF, no state.
- :func:`pack_bins` — whole-document first-fit-decreasing: documents
  never split; each lands in the first open bin with room. Inherently
  sequential per stream, so it runs as per-bucket ``applyInPandas``
  with the stream count = parallelism.

Both shard the corpus into ``num_buckets`` independent streams by a
hash of the id column. That is what makes packing scale-free: each
stream is packed alone, so the only shuffle is the hash partition,
sequence ids never coordinate across streams (a (bucket, seq) pair is
globally unique), and 1000 executors pack 1000+ buckets with no
cross-talk. One window cumsum per bucket at 100 TB is the same plan
shape Spark uses for any partitioned ranking.

Determinism: stream membership = hash(id), order within stream = id —
independent of partitioning, identical across engines, so the chunk
form is DuckDB-oracle-checkable row for row. The bucket hash is
md5-derived (``pmod(conv(substr(md5(id),1,8),16,10), n)``) rather
than ``xxhash64`` precisely so any engine can recompute it — md5 is
universal, xxhash64 is Spark-private; both are one codegen'd
expression per row.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def _bucket_of(col: Column, num_buckets: int) -> Column:
    """Deterministic, engine-portable stream id in [0, num_buckets)."""
    return F.pmod(
        F.conv(F.substring(F.md5(col.cast("string")), 1, 8), 16, 10).cast("long"),
        F.lit(num_buckets),
    )


def pack_chunks(
    docs: DataFrame,
    id_col: str,
    length_col: str,
    budget: int,
    num_buckets: int = 64,
) -> DataFrame:
    """Concat-and-chunk packing. Returns one row per (document ×
    overlapped sequence): ``bucket, seq_id, <id_col>, frag_start,
    frag_len`` where ``frag_start`` is the fragment's offset INSIDE
    the document and consecutive fragments of one sequence sum to
    exactly ``budget`` units (except each stream's tail sequence).

    A document with cumulative span [s, e) overlaps sequences
    ``floor(s/B) .. floor((e-1)/B)`` — monotonicity of floor makes the
    explode exact, the same argument as the range-join binning
    (operators/ranges.py). Zero-length documents are dropped (they
    occupy no window).
    """
    b = F.lit(int(budget))
    bucketed = docs.filter(F.col(length_col) > 0).select(
        F.col(id_col),
        F.col(length_col).alias("_len"),
        _bucket_of(F.col(id_col), num_buckets).alias("bucket"),
    )
    w = (
        Window.partitionBy("bucket")
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    spans = bucketed.select(
        "bucket",
        id_col,
        "_len",
        (F.sum("_len").over(w) - F.col("_len")).alias("_start"),
        F.sum("_len").over(w).alias("_end"),
    )
    exploded = spans.select(
        "bucket",
        id_col,
        "_start",
        "_end",
        F.explode(
            F.sequence(
                F.floor(F.col("_start") / b),
                F.floor((F.col("_end") - 1) / b),
            )
        ).alias("seq_id"),
    )
    return exploded.select(
        "bucket",
        "seq_id",
        id_col,
        F.greatest(
            F.lit(0), F.col("seq_id") * b - F.col("_start")
        ).alias("frag_start"),
        (
            F.least(F.col("_end"), (F.col("seq_id") + 1) * b)
            - F.greatest(F.col("_start"), F.col("seq_id") * b)
        ).alias("frag_len"),
    )


def _first_fit_tree(lengths, budget: int) -> list:
    """Exact first-fit bin assignment in O(n log n).

    Bit-identical to the naive open-bin scan (place in the first open
    bin with room, else open a new bin; pinned in tests): a
    max-segment-tree over per-bin REMAINING capacity answers "leftmost
    bin with rem >= len" in O(log n). Every potential bin (at most
    one per document) starts with rem = budget, so the leftmost
    never-used bin doubles as the scan's "open a new bin" — first-fit
    finds it only after every opened bin is full, exactly the scan's
    behaviour. An oversize doc
    (len > budget) matches no leaf (max rem = budget) and is
    force-placed in the next never-used bin, as the scan does.

    Per item the loop body is ~2·log2(n) numpy scalar ops — at a
    million docs per bucket that is ~40 ops/doc where the scan would
    average thousands of open-bin probes; this is the segment the
    measured scaling curve flagged (SCALING.md, pack_bins e≈1.5 at
    the 50× fixture, sub-linear after this change).
    """
    import numpy as np

    n = len(lengths)
    if n == 0:
        return []
    size = 1
    while size < n:
        size *= 2
    # max-tree over remaining capacity; leaves live at [size, 2*size).
    # Leaves beyond n stay -1 so they can never win a descent.
    tree = np.full(2 * size, -1, dtype=np.int64)
    tree[size : size + n] = budget
    lvl = size
    while lvl > 1:  # vectorized bottom-up build
        half = lvl // 2
        tree[half:lvl] = np.maximum(tree[lvl : 2 * lvl : 2], tree[lvl + 1 : 2 * lvl : 2])
        lvl = half
    next_unopened = 0
    assigned = []
    for ln in lengths:
        if tree[1] >= ln:
            i = 1
            while i < size:  # descend to the leftmost leaf with room
                i *= 2
                if tree[i] < ln:
                    i += 1
            placed = i - size
        else:
            placed = next_unopened  # oversize: force into a fresh bin
        leaf = size + placed
        tree[leaf] -= ln
        leaf //= 2
        while leaf:
            tree[leaf] = max(tree[2 * leaf], tree[2 * leaf + 1])
            leaf //= 2
        if placed >= next_unopened:
            next_unopened = placed + 1
        assigned.append(placed)
    return assigned


def pack_bins(
    docs: DataFrame,
    id_col: str,
    length_col: str,
    budget: int,
    num_buckets: int = 64,
) -> DataFrame:
    """Whole-document first-fit-decreasing packing. Returns
    ``bucket, bin_id, <id_col>, <length_col>``; every document
    appears exactly once, and each (bucket, bin_id)'s lengths sum to
    ≤ ``budget`` — unless a single document alone exceeds the budget,
    which gets a bin of its own (callers chunk such docs first, e.g.
    with :mod:`ext.chunking`).

    First-fit over a sorted stream is inherently sequential state —
    exactly the ``applyInPandas`` escape hatch (one Python pass per
    bucket, Arrow-batched). Order: by length descending, id ascending
    — deterministic for any partitioning. The per-bucket pass is the
    O(n log n) segment-tree first-fit (:func:`_first_fit_tree`), not
    the naive open-bin scan: the scan is O(n × open bins) and turns
    super-linear once buckets hold thousands of documents (measured
    e≈1.5 at the 50× fixture — SCALING.md), while the tree answers
    "leftmost bin with room" in O(log n) with bit-identical
    assignments (equivalence pinned in tests/test_packing.py).
    """
    import pandas as pd

    bucketed = docs.select(
        F.col(id_col),
        F.col(length_col).cast("long").alias("_len"),
        _bucket_of(F.col(id_col), num_buckets).alias("bucket"),
    )
    dt = dict(docs.dtypes)[id_col]
    schema = f"bucket long, bin_id long, {id_col} {dt}, {length_col} long"

    def _pack(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(
            ["_len", id_col], ascending=[False, True], kind="mergesort"
        )
        assigned = _first_fit_tree(pdf["_len"].to_numpy(), budget)
        return pd.DataFrame(
            {
                "bucket": pdf["bucket"].values,
                "bin_id": assigned,
                id_col: pdf[id_col].values,
                length_col: pdf["_len"].values,
            }
        )

    return bucketed.groupBy("bucket").applyInPandas(_pack, schema)
