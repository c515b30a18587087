"""Corpus preparation: the composite training-data pipeline.

One operator chaining the standard pretraining-corpus stages —
quality scoring, language ID, exact dedup keep-first — the way a
100 TB run would want them fused:

- **One scan.** Quality features, language scores, and the content
  fingerprint are all per-row expressions over the same normalized
  token array, so they are computed in a single projection (one pass
  over the text, whole-stage codegen, no Python). Chaining the
  individual operators instead would scan the corpus three times and
  join on doc_id.
- **Filter before shuffle.** The quality/language cut runs in the
  scan stage; only survivors' *metadata* (id, fingerprint, scores —
  never the text) reaches the dedup shuffle.
- **Keep-first dedup** is one hash-partition by fingerprint with two
  window functions sharing the partitioning (row_number + count), so
  a single exchange and a single sort.

Beyond the reference surface (SURVEY.md §7.4 extension package); the
stage semantics match ext.text / ext.dedup exactly, so their unit
tests and oracles pin this operator's parts too.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from lakehouse_tools_spark.ext.dedup import fingerprint, normalize_text
from lakehouse_tools_spark.ext.text import (
    language_pred_exprs,
    language_score_exprs,
    quality_exprs,
)
from lakehouse_tools_spark.sources.tables import ensure_parallelism


def prepare_corpus(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_quality: float = 0.35,
    langs: tuple[str, ...] | None = None,
) -> DataFrame:
    """Quality-filter, language-filter, and exact-dedup a document
    corpus in one pass; returns one row per surviving document:

    ``(doc_id, fingerprint, lang_pred, quality_score, n_chars,
    n_tokens, n_dups)``

    ``n_dups`` counts how many quality-passing documents shared the
    survivor's content (≥1). Keep-first: the smallest id wins —
    deterministic, and the tie-break every re-run reproduces.
    """
    base = ensure_parallelism(df, id_col).select(
        F.col(id_col).alias("doc_id"),
        F.col(text_col).alias("_t"),
        F.split(normalize_text(F.col(text_col)), " ").alias("_words"),
        fingerprint(F.col(text_col)).alias("fingerprint"),
    )
    q = quality_exprs(F.col("_t"), F.col("_words"))
    lang_scores = language_score_exprs(F.col("_words"))
    pred, _best = language_pred_exprs(lang_scores)
    scored = base.select(
        "doc_id",
        "fingerprint",
        pred.alias("lang_pred"),
        q["quality_score"].alias("quality_score"),
        q["n_chars"].cast("int").alias("n_chars"),
        q["n_words"].cast("int").alias("n_tokens"),
    )
    kept = scored.filter(F.col("quality_score") >= F.lit(min_quality))
    if langs:
        kept = kept.filter(F.col("lang_pred").isin(*langs))
    by_fp = Window.partitionBy("fingerprint")
    dd = kept.select(
        "*",
        F.row_number().over(by_fp.orderBy("doc_id")).alias("_rn"),
        F.count(F.lit(1)).over(by_fp).alias("n_dups"),
    )
    return dd.filter(F.col("_rn") == 1).drop("_rn")


def budget_select(
    df: DataFrame,
    score_col: str,
    cost_col: str,
    budget: int,
    id_col: str,
    num_partitions: int = 32,
    persist: bool = False,
) -> DataFrame:
    """Quality-first selection under a budget: keep the best-scoring
    documents until their cumulative cost (tokens, chars, bytes)
    reaches ``budget`` — how a fixed-size training mix is filled from
    a larger curated pool. Greedy prefix of the (score desc, id asc —
    deterministic ties) order; a row is kept while the cumulative
    cost INCLUDING it stays ≤ budget.

    The global running sum is TWO-PHASE, never a single-partition
    window (an unpartitioned ``Window.orderBy`` funnels the whole
    relation through one task — Spark even warns): rows bucket by the
    score, each bucket cumsums locally under a window partitioned by
    the bucket, and the per-bucket totals (one row per bucket —
    metadata) come back as a broadcast offset map added to the local
    sums. Same two-phase shape as any scalable global ranking.

    Bucket assignment is a PURE FUNCTION of the row: ``num_buckets-1``
    approximate score quantiles are computed once on the driver and
    baked into the plan as literals (bucket i = number of boundaries
    strictly above the row's score — monotone non-increasing in
    score, so every row of bucket i precedes every row of bucket i+1
    in the (score desc, id asc) order, and score ties always share a
    bucket).

    **Input contract — deterministic relation.** ``df`` is scanned
    THREE times independently (quantile probe, per-bucket totals, the
    returned lazy plan), and the offset pairing is only correct when
    every scan sees the same rows. Deterministic inputs (files, a
    table, pure transformations) satisfy this for free. A
    NONDETERMINISTIC upstream — ``rand()``-derived scores, an
    unseeded ``sample()``, fresh-UUID ids — can hand the totals scan
    and the final scan different rows; rather than silently dropping
    rows, a bucket that appears in the final scan but not in the
    offset map RAISES at execution time. For such inputs pass
    ``persist=True``: the input is pinned MEMORY_AND_DISK so all
    three passes read one materialization. Cache ownership: the
    pinned relation feeds the RETURNED lazy plan, so the caller owns
    it — call ``df.unpersist()`` (or ``spark.catalog.clearCache()``)
    after consuming the result. The default stays persist-free: for
    a deterministic relation, three light passes over narrow survivor
    metadata beat pinning it for the session at 100 TB.

    **Score type.** ``score_col`` must be numeric (int/float/decimal)
    or numeric-castable-monotone (boolean, date, timestamp — probed
    and bucketed through an order-preserving cast to double; equal
    casts share a bucket and the in-bucket window still orders by
    the true column, so the greedy prefix is exact). Other orderable
    types (e.g. string scores) raise ``TypeError`` up front — the
    previous behavior surfaced as an obscure engine error from the
    quantile probe.
    """
    from pyspark.sql import Window
    from pyspark.sql import types as T

    field = df.schema[score_col]
    if isinstance(field.dataType, T.NumericType):
        probe = F.col(score_col)
    elif isinstance(field.dataType, T.BooleanType):
        probe = F.col(score_col).cast("double")
    elif isinstance(field.dataType, (T.TimestampType, T.TimestampNTZType)):
        probe = F.col(score_col).cast("double")
    elif isinstance(field.dataType, T.DateType):
        probe = F.col(score_col).cast("timestamp").cast("double")
    else:
        raise TypeError(
            f"budget_select: score column {score_col!r} has type "
            f"{field.dataType.simpleString()}; the quantile-bucketed "
            "two-phase cumsum needs a numeric or monotone-castable "
            "(boolean/date/timestamp) score — cast or rank the score "
            "first (e.g. F.rank() over a deterministic order)"
        )
    if persist:
        from pyspark import StorageLevel

        df = df.persist(StorageLevel.MEMORY_AND_DISK)
    order = [F.col(score_col).desc(), F.col(id_col).asc()]
    # boundaries: computed ONCE on the driver (GK sketch, one pass),
    # then frozen into the plan as literals — any approximate,
    # deterministic, monotone split is correct here; the quantiles
    # only balance the buckets
    qs = [i / num_partitions for i in range(1, num_partitions)]
    bounds = sorted(
        set(df.select(probe.alias("_s")).approxQuantile("_s", qs, 0.001))
    )
    nn = F.lit(0)
    for b in bounds:
        nn = nn + F.when(probe < F.lit(b), 1).otherwise(0)
    # desc order sorts nulls LAST, so null scores take the final
    # bucket (they also sort last inside it — window desc nulls-last)
    bkt = F.when(F.col(score_col).isNull(), F.lit(len(bounds))).otherwise(nn)
    w_in = (
        Window.partitionBy("_bkt")
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    local = df.withColumn("_bkt", bkt).withColumn(
        "_cum_in", F.sum(F.col(cost_col)).over(w_in)
    )
    totals = {
        r["_bkt"]: r["_t"]
        for r in df.withColumn("_bkt", bkt)
        .groupBy("_bkt")
        .agg(F.sum(F.col(cost_col)).alias("_t"))
        .collect()
    }
    offsets, acc = {}, 0
    for pid in sorted(totals):
        offsets[pid] = acc
        acc += totals[pid]
    if offsets:
        off = F.create_map(
            *[
                x
                for pid in sorted(offsets)
                for x in (F.lit(pid), F.lit(offsets[pid]))
            ]
        )
        # fail LOUDLY on a bucket the totals scan never saw:
        # element_at returns null for a missing key, which
        # would null out _cum and silently drop the bucket's rows —
        # only a nondeterministic input can get here (see docstring)
        cum = F.col("_cum_in") + F.coalesce(
            F.element_at(off, F.col("_bkt")),
            F.raise_error(
                F.concat(
                    F.lit("budget_select: bucket "),
                    F.col("_bkt").cast("string"),
                    F.lit(
                        " is missing from the offset map — the input"
                        " relation returned different rows across"
                        " scans (nondeterministic upstream: rand()"
                        " scores, unseeded sample(), fresh-uuid ids)."
                        " Pass persist=True to pin one"
                        " materialization."
                    ),
                )
            ).cast("bigint"),
        )
    else:  # empty input: no buckets observed, plan stays well-formed
        cum = F.col("_cum_in")
    return (
        local.withColumn("_cum", cum)
        .filter(F.col("_cum") <= budget)
        .drop("_bkt", "_cum_in", "_cum")
    )


def source_overlap(
    docs: DataFrame,
    text_col: str = "text",
    source_col: str = "source",
    k: int = 3,
    materialize: bool = True,
    max_materialize_sources: int = 4096,
) -> DataFrame:
    """Pairwise content-overlap matrix between corpus sources — the
    mixture-design diagnostic: two crawls/feeds with high shingle
    overlap double-weight the same content, so their mixture weights
    should be set jointly (or one source deduped against the other
    with :func:`ext.dedup.incremental_screen`).

    Per unordered source pair (a < b): distinct-shingle Jaccard and
    both asymmetric containments (C(a in b) flags a source that is a
    subset of another — the "mirror site" case Jaccard understates
    when sizes differ).

    Scale shape: the corpus collapses to a DISTINCT (source, shingle)
    relation FIRST (one map-side-combined aggregate — the shuffle
    carries each source's distinct shingles, not documents), and the
    pair join runs on that relation keyed by shingle: a shingle
    shared by m sources emits m(m-1)/2 pair rows, bounded by
    sources², independent of corpus row count. Output is
    source-pair-sized. All integer set arithmetic + 1e-6 floors —
    exactly SQL-replayable.

    With ``materialize=True`` (default) the distinct (source,
    shingle) relation is persisted for its two consumers (sizes + the
    pair join) and RELEASED before returning: the result is computed
    eagerly (it is sources²-bounded — an overlap matrix, never
    data-sized) and re-wrapped as a local DataFrame, so long-lived
    sessions don't accumulate one leaked cached relation per call.
    ``materialize=False`` returns the LAZY plan with NO persist (for
    plan inspection / composition into a larger pipeline); the
    shingle aggregate then evaluates once per consumer unless the
    caller persists it themselves.

    The sources²-bound is **data-dependent**: a high-cardinality
    ``source_col`` (e.g. per-domain) makes the matrix itself
    data-sized and the eager ``collect()`` a driver-OOM risk. The
    materialize path therefore counts distinct sources first (one
    sources-sized job over the already-persisted shingle relation)
    and, above ``max_materialize_sources`` (default 4096 ⇒ at most
    ~8.4M pair rows localized), falls back to returning the lazy
    un-persisted plan — identical semantics to
    ``materialize=False`` — instead of collecting.
    """
    from lakehouse_tools_spark.ext.dedup import word_shingles
    from lakehouse_tools_spark.functions.portable import floor6

    sh = (
        word_shingles(
            docs.select(
                F.col(source_col).alias("doc_id"), F.col(text_col)
            ),
            text_col,
            "doc_id",
            k,
        )
        .withColumnRenamed("doc_id", "source")
        .distinct()
    )
    if materialize:
        from pyspark import StorageLevel

        sh = sh.persist(StorageLevel.MEMORY_AND_DISK)
    sizes = sh.groupBy("source").agg(F.count(F.lit(1)).alias("sz"))
    inter = (
        sh.alias("a")
        .join(
            sh.alias("b"),
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.source") < F.col("b.source")),
        )
        .groupBy(
            F.col("a.source").alias("source_a"),
            F.col("b.source").alias("source_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    za = sizes.select(F.col("source").alias("source_a"), F.col("sz").alias("sz_a"))
    zb = sizes.select(F.col("source").alias("source_b"), F.col("sz").alias("sz_b"))
    out = (
        inter.join(za, "source_a")
        .join(zb, "source_b")
        .select(
            "source_a",
            "source_b",
            F.col("sz_a").cast("long").alias("n_shingles_a"),
            F.col("sz_b").cast("long").alias("n_shingles_b"),
            F.col("n_shared").cast("long").alias("n_shared"),
            floor6(
                F.col("n_shared")
                / (F.col("sz_a") + F.col("sz_b") - F.col("n_shared"))
            ).alias("jaccard"),
            floor6(F.col("n_shared") / F.col("sz_a")).alias("c_a_in_b"),
            floor6(F.col("n_shared") / F.col("sz_b")).alias("c_b_in_a"),
        )
    )
    if not materialize:
        return out
    # the matrix is sources²-bounded, but that bound is only small
    # when the source cardinality is: guard the driver before
    # collecting. sizes is sources-sized and reads the persisted
    # shingle relation, so this probe shares all its work with the
    # collect below.
    n_sources = sizes.count()
    if n_sources > max_materialize_sources:
        # too many sources to localize safely — degrade to the lazy
        # contract (same semantics as materialize=False) rather than
        # risk a driver OOM on an O(sources²) collect
        sh.unpersist()
        return out
    # evaluate while the persist is live, then release it — within
    # the guard the overlap matrix is small, so localizing it costs
    # nothing and the cached shingle relation can't outlive the call
    try:
        rows = out.collect()
    finally:
        sh.unpersist()
    return docs.sparkSession.createDataFrame(rows, out.schema)
