"""Deduplication operators for document corpora.

Exact dedup is a hash-groupBy; near-dup detection goes through the
classic shingle → MinHash → LSH band-bucket pipeline, plus SimHash
and direct n-gram Jaccard verification. All hashing is md5-based
(portable — see functions.portable) and every stage is built-in
Catalyst expressions: explode/groupBy/join, no Python UDFs.

Scale notes (the point of this module):

- Exact dedup shuffles one md5 per document, not the text: we group
  by fingerprint, never by the raw text column.
- MinHash signatures aggregate ``min(md5(seed||shingle))`` map-side,
  so the shuffle per document is num_hashes×32 bytes regardless of
  document size.
- LSH banding turns the O(n²) pair space into per-bucket joins; the
  band-bucket join is an equi-join on (band, bucket-hash) that AQE
  handles for skewed buckets. A same-bucket self-join with
  ``doc_id < doc_id2`` emits candidates once.
- Jaccard verification looks up each candidate pair's two per-doc
  shingle sets (built from shingles semi-join-pruned to candidate
  docs), never all pairs.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from lakehouse_tools_spark.functions.memo import expr_memo
from lakehouse_tools_spark.functions.portable import floor6
from lakehouse_tools_spark.sources.tables import ensure_parallelism


def normalize_text(col: Column) -> Column:
    """lower + collapse whitespace — the canonical form used by every
    dedup operator so their verdicts compose."""
    return F.trim(F.regexp_replace(F.lower(col), r"\s+", " "))


def fingerprint(col: Column) -> Column:
    """Exact-dup key: md5 of normalized text."""
    return F.md5(normalize_text(col))


def exact_duplicates(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Group documents by content fingerprint.

    Returns ``(fp, n_docs, keep_id)`` — one row per distinct content,
    ``keep_id`` the smallest id (the canonical survivor). Shuffles
    only (fp, id): at 100 TB the text never moves.
    """
    return (
        df.select(fingerprint(F.col(text_col)).alias("fp"), F.col(id_col).alias("_id"))
        .groupBy("fp")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.min("_id").alias("keep_id"))
    )


def word_shingles(df: DataFrame, text_col: str, id_col: str, k: int = 3) -> DataFrame:
    """Distinct k-word shingles per document: ``(doc_id, shingle)``.

    Tokenization is a plain single-space split of the normalized text
    (portable to any engine); shingles are built JVM-side with
    ``transform`` over token index ranges — no UDF, no quadratic
    explode. The token array is materialized in its own projection
    first: lambdas in higher-order functions defeat Catalyst's
    subexpression elimination, so an inline ``split(regexp_replace…)``
    would be re-evaluated once per shingle (~8× slower, measured;
    safe here because the multi-referenced ``_toks`` blocks
    CollapseProject from inlining it into the lambdas). The split
    runs after the ``ensure_parallelism`` spread, so it
    tokenizes on every core.
    """
    base = ensure_parallelism(
        df.select(
            F.col(id_col).alias("doc_id"),
            F.col(text_col).alias("_txt"),
        ),
        "doc_id",
    ).select(
        "doc_id",
        F.split(normalize_text(F.col("_txt")), " ").alias("_toks"),
    )
    toks = F.col("_toks")
    n = F.size(toks)
    idx = F.sequence(F.lit(0), F.greatest(n - k, F.lit(0)))
    shingles = F.when(
        n >= k,
        F.transform(
            idx,
            lambda i: F.concat_ws(" ", F.slice(toks, i + 1, k)),
        ),
    ).otherwise(F.array(F.concat_ws(" ", toks)))
    return base.select("doc_id", F.explode(shingles).alias("shingle")).distinct()


def minhash_wide(
    df: DataFrame, text_col: str, id_col: str, num_hashes: int = 8, k: int = 3
) -> DataFrame:
    """MinHash signatures in wide form: ``(doc_id, _h0.._hN)``.

    hash family h_i(s) = md5(i || '|' || s), minimized as a *string*
    (hex md5 ordering is total and identical in every engine). All
    ``num_hashes`` mins are computed in ONE aggregate over the shingle
    rows — the shuffle carries (doc_id, shingle) once, not
    ``num_hashes``× (the explode-then-group formulation multiplies
    pre-shuffle volume by the signature width; at 10^9 docs that is
    the difference between one pass and eight).
    """
    return minhash_wide_from_shingles(
        word_shingles(df, text_col, id_col, k), num_hashes
    )


def minhash_wide_from_shingles(shingles: DataFrame, num_hashes: int = 8) -> DataFrame:
    """Wide MinHash signatures from an existing ``(doc_id, shingle)``
    relation — lets a pipeline that also needs the shingles (e.g.
    LSH-candidates → Jaccard-verify) compute them ONCE and reuse the
    persisted relation for both consumers."""
    # num_hashes fully determines the agg bundle (fixed column names,
    # seed literals) — memoized like the profiler bundles
    aggs = expr_memo(
        ("minhash_wide_aggs", num_hashes),
        lambda: [
            F.min(
                F.md5(F.concat_ws("|", F.lit(str(i)), F.col("shingle")))
            ).alias(f"_h{i}")
            for i in range(num_hashes)
        ],
    )
    return shingles.groupBy("doc_id").agg(*aggs)


def minhash_signatures(
    df: DataFrame, text_col: str, id_col: str, num_hashes: int = 8, k: int = 3
) -> DataFrame:
    """MinHash signatures in long form: ``(doc_id, hash_id, minhash)``.

    Built from :func:`minhash_wide` with a free ``stack`` projection —
    no extra shuffle. Long form is the cross-engine exchange/oracle
    contract; the wide form is what downstream LSH consumes.
    """
    wide = minhash_wide(df, text_col, id_col, num_hashes, k)

    def _build() -> Column:
        branches = []
        for i in range(num_hashes):
            branches.append(F.lit(i))
            branches.append(F.col(f"_h{i}"))
        return F.stack(F.lit(num_hashes), *branches).alias(
            "hash_id", "minhash"
        )

    return wide.select(
        "doc_id", expr_memo(("minhash_stack", num_hashes), _build)
    )


def lsh_bands_from_wide(
    wide: DataFrame, bands: int = 4, rows_per_band: int = 2
) -> DataFrame:
    """``(doc_id, band, bucket)`` from wide signatures — ZERO shuffle.

    Each band's bucket is the md5 of that band's sorted minhashes,
    computed as a plain projection; the only shuffle left in the LSH
    pipeline is the bucket self-join itself.
    """
    def _build() -> Column:
        rows = []
        for b in range(bands):
            cols = [
                F.col(f"_h{b * rows_per_band + r}")
                for r in range(rows_per_band)
            ]
            bucket = F.md5(F.concat_ws("|", F.sort_array(F.array(*cols))))
            rows.append(
                F.struct(F.lit(b).alias("band"), bucket.alias("bucket"))
            )
        return F.explode(F.array(*rows)).alias("_bb")

    return wide.select(
        "doc_id", expr_memo(("lsh_band_rows", bands, rows_per_band), _build)
    ).select("doc_id", F.col("_bb.band").alias("band"), F.col("_bb.bucket").alias("bucket"))


def lsh_candidate_pairs_wide(
    wide: DataFrame, bands: int = 4, rows_per_band: int = 2
) -> DataFrame:
    """Band wide signatures (``num_hashes = bands * rows_per_band``)
    and emit same-bucket pairs: documents agreeing on *all* rows of
    any band share that band's md5 bucket. Output: distinct
    ``(doc_id, doc_id2)`` with doc_id < doc_id2. One shuffle total
    (the bucket self-join)."""
    banded = lsh_bands_from_wide(wide, bands, rows_per_band)
    a = banded.alias("a")
    b = banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_id"), F.col("b.doc_id").alias("doc_id2"))
        .distinct()
    )


def jaccard_pairs(
    shingles: DataFrame,
    candidates: DataFrame | None = None,
    threshold: float = 0.0,
    persist: bool = True,
) -> DataFrame:
    """n-gram Jaccard similarity for document pairs.

    With ``candidates`` (from LSH) only candidate pairs are scored:
    each candidate looks up both documents' shingle sets by id, so
    the volume is |candidates| × one array per side — never the
    bucket-hot self-join, and no join keyed on ``shingle``. (A
    post-hoc semi-join on the self-join output would NOT prune:
    Catalyst cannot push a pair-level semi below a join whose keys
    reference both sides, so the O(n²) candidate space would still
    materialize.) Without ``candidates``, all pairs sharing ≥1 shingle are scored — the
    exact quadratic baseline; fine at test scale, LSH is the scale
    path. Either way a pair sharing no shingle gets no row.
    Jaccard = |A∩B| / (|A|+|B|−|A∩B|). Inputs are sets: distinct
    ``(doc_id, shingle)`` rows (as :func:`word_shingles` emits) and
    distinct ``doc_id < doc_id2`` candidates (as
    :func:`lsh_candidate_pairs_wide` emits); nothing here
    de-duplicates them again.
    Output: ``(doc_id, doc_id2, jaccard)`` floor-truncated to 6 for stable
    cross-engine comparison.

    CACHE OWNERSHIP: with ``persist=True`` (default) each call caches
    the shingle relation and (if given) the candidate pair list
    (MEMORY_AND_DISK) because both feed multiple consumers of the
    returned plan; the result is lazy and data-sized, so the cache
    cannot be released inside this function — it lives until session
    end or an explicit ``spark.catalog.clearCache()``. One-shot
    pipeline runs (the normal shape) don't care; a long-lived session
    calling this in a loop should either clear the cache between
    calls or pass ``persist=False`` to trade recomputation for zero
    cache footprint (same contract as
    :func:`~lakehouse_tools_spark.ext.corpus.source_overlap`'s
    ``materialize=False``).
    """
    n_inter = F.col("n_inter")
    out = _pair_intersections(shingles, candidates, persist).select(
        "doc_id",
        "doc_id2",
        floor6(n_inter / (F.col("sz1") + F.col("sz2") - n_inter)).alias("jaccard"),
    )
    if threshold > 0:
        out = out.filter(F.col("jaccard") >= threshold)
    return out


def containment_pairs(
    shingles: DataFrame,
    candidates: DataFrame | None = None,
    threshold: float = 0.0,
    persist: bool = True,
) -> DataFrame:
    """Asymmetric n-gram containment for document pairs:
    C(A in B) = |A∩B| / |A|.

    Containment is the dedup verdict Jaccard systematically misses
    when sizes differ: a short document quoted wholesale inside a
    much larger one has containment ≈ 1 but Jaccard ≈ |A|/|B| ≈ 0,
    so a Jaccard threshold never fires. Standard companion check in
    corpus dedup pipelines (quote expansion, boilerplate embedding,
    subset scraping).

    Same plan shape, set contract and candidate semantics as
    :func:`jaccard_pairs` (shared :func:`_pair_intersections` core:
    with LSH candidates, |candidates| × one shingle array per side;
    without, one shingle equi-join; no row for a pair sharing no
    shingle). One row
    per unordered pair: both directions plus their max, filtered on
    the max — floor-truncated to 6 for stable cross-engine compare.
    Output: ``(doc_id, doc_id2, c_1in2, c_2in1, containment)``.
    Cache ownership is the same as :func:`jaccard_pairs`: the default
    persists the shared relations for the session; ``persist=False``
    opts out for long-lived callers.
    """
    c12 = F.col("n_inter") / F.col("sz1")
    c21 = F.col("n_inter") / F.col("sz2")
    out = _pair_intersections(shingles, candidates, persist).select(
        "doc_id",
        "doc_id2",
        floor6(c12).alias("c_1in2"),
        floor6(c21).alias("c_2in1"),
        floor6(F.greatest(c12, c21)).alias("containment"),
    )
    if threshold > 0:
        out = out.filter(F.col("containment") >= threshold)
    return out


def _pair_intersections(
    shingles: DataFrame, candidates: DataFrame | None, persist: bool = True
) -> DataFrame:
    """Shared core of :func:`jaccard_pairs` / :func:`containment_pairs`:
    ``(doc_id, doc_id2, n_inter, sz1, sz2)``, all three counts bigint,
    one row per pair sharing ≥1 shingle (a candidate pair whose
    documents share none, or that names a document absent from
    ``shingles``, gets no row). Both inputs must be sets (see
    :func:`jaccard_pairs`): set sizes are row counts on one path and
    array sizes on the other, and agree only on distinct rows."""
    # the shingle relation feeds several consumers (all pairs: sizes
    # and both join sides; candidates: the sets, looked up twice);
    # without materialization each branch re-runs the whole
    # normalize→explode→distinct pipeline (and AQE's per-branch
    # replanning defeats exchange reuse). One disk-spillable persist
    # beats the recomputations at every scale. The caller owns the
    # cache (see jaccard_pairs's CACHE OWNERSHIP note) and can opt
    # out with persist=False.
    from pyspark import StorageLevel

    if persist:
        shingles = shingles.persist(StorageLevel.MEMORY_AND_DISK)
    if candidates is not None:
        # candidates feed two consumers (the id prune and the pair
        # lookups); without materialization each re-runs the entire
        # upstream LSH pipeline. The pair list is tiny by
        # construction — persist it.
        cand = candidates.select("doc_id", "doc_id2")
        if persist:
            cand = cand.persist(StorageLevel.MEMORY_AND_DISK)
        # prune the shingles to candidate docs before the set
        # aggregate: the candidate doc-id set is small relative to the
        # corpus by LSH's design, so this is a broadcast semi-join.
        # The per-doc shingle sets are corpus-sized at scale — no
        # broadcast hint on them.
        ids = cand.select("doc_id").unionByName(
            cand.select(F.col("doc_id2").alias("doc_id"))
        ).distinct()
        sets = (
            shingles.join(F.broadcast(ids), "doc_id", "left_semi")
            .groupBy("doc_id")
            .agg(F.collect_set("shingle").alias("_s"))
        )
        s1, s2 = F.col("_s1"), F.col("_s2")
        return (
            cand.join(sets.withColumnRenamed("_s", "_s1"), "doc_id")
            .join(
                sets.select(F.col("doc_id").alias("doc_id2"), F.col("_s").alias("_s2")),
                "doc_id2",
            )
            .select(
                "doc_id",
                "doc_id2",
                F.size(F.array_intersect(s1, s2)).cast("bigint").alias("n_inter"),
                F.size(s1).cast("bigint").alias("sz1"),
                F.size(s2).cast("bigint").alias("sz2"),
            )
            .filter(F.col("n_inter") > 0)
        )
    sizes = shingles.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))
    s1 = shingles.alias("s1")
    s2 = shingles.alias("s2")
    return (
        s1.join(
            s2,
            (F.col("s1.shingle") == F.col("s2.shingle"))
            & (F.col("s1.doc_id") < F.col("s2.doc_id")),
        )
        .groupBy(
            F.col("s1.doc_id").alias("doc_id"),
            F.col("s2.doc_id").alias("doc_id2"),
        )
        .agg(F.count(F.lit(1)).alias("n_inter"))
        .join(sizes.withColumnRenamed("sz", "sz1"), "doc_id")
        .join(
            sizes.select(F.col("doc_id").alias("doc_id2"), F.col("sz").alias("sz2")),
            "doc_id2",
        )
    )


def winnow_fingerprints(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 8,
    window: int = 4,
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer et al., SIGMOD'03):
    hash every character ``k``-gram, then keep the minimum hash of
    each sliding ``window`` — a guaranteed-coverage subsample of the
    hash stream used for plagiarism/near-dup detection.

    Output: distinct ``(doc_id, fingerprint)`` with bigint md5-derived
    hashes (portable across engines). The k-gram hash array is built
    once per document (posexplode evaluates its child exactly once);
    the sliding min is a ROWS-frame window function, so total work is
    O(n·window) per document — a nested transform-over-slices
    formulation re-evaluates the gram array per window position and
    is quadratic (hung even at 500 docs, measured). One shuffle on
    doc_id; the rolling min and the distinct both reuse it.
    """
    # spread the text by doc_id (ensure_parallelism) before the gram
    # expansion; hash(doc_id) is also the rolling window's
    # distribution. The normalize runs after the spread.
    base = ensure_parallelism(
        df.select(
            F.col(id_col).alias("doc_id"),
            F.col(text_col).alias("_raw"),
        ),
        "doc_id",
    ).select("doc_id", normalize_text(F.col("_raw")).alias("_txt"))
    txt = F.col("_txt")
    n_grams = F.greatest(F.length(txt) - k + 1, F.lit(1))
    # the gram count is a function of text length — compute it BEFORE
    # the explode and carry it per row, instead of re-counting with a
    # second (unordered) window pass after
    grams = base.select(
        "doc_id",
        n_grams.alias("_n"),
        F.posexplode(
            F.transform(
                F.sequence(F.lit(1), n_grams),
                lambda i: F.conv(
                    F.substring(F.md5(txt.substr(i, F.lit(k))), 1, 8), 16, 10
                ).cast("long"),
            )
        ).alias("pos", "h"),
    )
    w_roll = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.currentRow, window - 1)
    )
    return (
        grams.select(
            "doc_id",
            F.col("pos"),
            F.col("_n"),
            F.min("h").over(w_roll).alias("fingerprint"),
        )
        .where(F.col("pos") <= F.greatest(F.col("_n") - window, F.lit(0)))
        .select("doc_id", "fingerprint")
        .distinct()
    )


def simhash(df: DataFrame, text_col: str, id_col: str, bits: int = 32) -> DataFrame:
    """32-bit SimHash per document from word-level md5 features.

    Feature hash = first 8 md5 hex digits as uint32 (portable). Each
    bit position accumulates +1/−1 over the document's distinct words
    in one groupBy; the sign vector packs back into a bigint. Entirely
    built-in expressions: explode → per-bit lateral sums → bit pack.
    Output: ``(doc_id, simhash)``.
    """
    words = (
        ensure_parallelism(
            df.select(
                F.col(id_col).alias("doc_id"),
                F.col(text_col).alias("_raw"),
            ),
            "doc_id",
        )
        .select(
            "doc_id",
            F.split(normalize_text(F.col("_raw")), " ").alias("_toks"),
        )
        .select("doc_id", F.explode("_toks").alias("w"))
        .distinct()
        .select(
            "doc_id",
            F.conv(F.substring(F.md5("w"), 1, 8), 16, 10).cast("long").alias("h"),
        )
    )
    # both bundles depend on `bits` alone (fixed column names) —
    # memoized: the per-bit sum list plus the 5-op-per-bit pack chain
    # were ~500 py4j round trips ≈ 0.4 s of pure construct per call
    def _build() -> tuple:
        aggs = [
            F.sum(
                F.shiftrightunsigned(F.col("h"), b).bitwiseAND(F.lit(1)) * 2
                - 1
            ).alias(f"b{b}")
            for b in range(bits)
        ]
        sim = F.lit(0).cast("long")
        for b in range(bits):
            bit = (
                F.when(F.col(f"b{b}") > 0, F.lit(1))
                .otherwise(F.lit(0))
                .cast("long")
            )
            sim = sim.bitwiseOR(F.shiftleft(bit, b))
        return aggs, sim.alias("simhash")

    aggs, sim = expr_memo(("simhash_bits", bits), _build)
    bit_sums = words.groupBy("doc_id").agg(*aggs)
    return bit_sums.select("doc_id", sim)


def decontaminate(
    corpus: DataFrame,
    eval_set: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    ngram: int | None = 5,
) -> DataFrame:
    """Benchmark decontamination: drop corpus documents that overlap
    the evaluation set — the step every serious training pipeline
    runs so eval scores measure generalization, not memorization.

    Two levels, both engine-reproducible:

    - exact: md5 fingerprint of normalized text matches an eval doc
      (catches verbatim copies) — an anti-join on the fingerprint.
    - ``ngram``-overlap (GPT-3-style 13-gram rule; default 5 here for
      the fixture's short docs): the document shares ANY word
      ``ngram``-gram with any eval document. Eval shingles are the
      SMALL side by construction (eval sets are thousands of docs,
      the corpus is billions), so contaminated ids come from a
      broadcast left-semi of corpus shingles against eval shingles —
      corpus text never shuffles, and the expensive relation is
      touched once. Pass ``ngram=None`` for exact-only.

    Returns the clean corpus (original columns).
    """
    fp = fingerprint(F.col(text_col))
    eval_fps = eval_set.select(fp.alias("_fp")).distinct()
    clean = corpus.withColumn("_fp", fp).join(
        F.broadcast(eval_fps), "_fp", "left_anti"
    )
    if ngram is not None:
        eval_sh = word_shingles(eval_set, text_col, id_col, k=ngram).select(
            "shingle"
        ).distinct()
        contaminated = (
            word_shingles(corpus, text_col, id_col, k=ngram)
            .join(F.broadcast(eval_sh), "shingle", "left_semi")
            .select("doc_id")
            .distinct()
        )
        clean = clean.join(
            contaminated.withColumnRenamed("doc_id", id_col),
            id_col,
            "left_anti",
        )
    return clean.drop("_fp")


def winnow_pairs(
    fingerprints: DataFrame, min_shared: int = 2, persist: bool = False
) -> DataFrame:
    """MOSS-style plagiarism candidate pairs: documents sharing at
    least ``min_shared`` winnowing fingerprints
    (:func:`winnow_fingerprints` output — ``(doc_id, fingerprint)``).
    Winnowing guarantees any sufficiently long shared substring
    leaves a shared fingerprint, so this surfaces copied PASSAGES
    between otherwise different documents — a different detection
    axis than whole-document Jaccard/containment.

    One equi-self-join on the fingerprint value (never all-pairs) +
    one pair count. Hot fingerprints (shared boilerplate) are the
    skew risk: AQE's skew-join splitting handles the join, and
    ``min_shared`` suppresses the single-shared-stamp noise; at
    corpus scale pre-filter fingerprints whose document frequency
    explodes (they carry no discriminative signal, same argument as
    stopwords). Output: ``(doc_id, doc_id2, n_shared)``.

    Cache ownership: by default nothing is cached, and the
    fingerprint pipeline runs once per join side. With
    ``persist=True`` the narrow ``(doc_id, fingerprint)`` projection
    is persisted (MEMORY_AND_DISK) so the pipeline — the dominant
    scan+gram+rolling-min cost — runs ONCE (the broadcast build
    otherwise re-derives it; A/B of the registry query at sf0.1 on
    4 vCPU, min of 3 with clearCache before each run: 15.8 → 13.8 s,
    median of 5 pairs). This function
    never unpersists it and returns no handle to it, so a caller
    that opts in owns the release: ``spark.catalog.clearCache()`` or
    session end. At 100 TB this is the §2.4 guide rule: never
    materialize the heavy pipeline twice when a narrow proxy
    relation can be stored.
    """
    from pyspark import StorageLevel

    narrow = fingerprints.select(F.col("doc_id"), F.col("fingerprint"))
    if persist:
        narrow = narrow.persist(StorageLevel.MEMORY_AND_DISK)
    a = narrow
    b = narrow.select(
        F.col("doc_id").alias("doc_id2"), F.col("fingerprint")
    )
    return (
        a.join(b, "fingerprint")
        .filter(F.col("doc_id") < F.col("doc_id2"))
        .groupBy("doc_id", "doc_id2")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )


def build_dedup_index(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int = 8,
    k: int = 3,
    bands: int = 4,
    rows_per_band: int = 2,
) -> DataFrame:
    """The persistable corpus dedup INDEX: banded MinHash buckets
    ``(doc_id, band, bucket)`` — what an incremental pipeline stores
    so the corpus is shingled ONCE, ever. ~`bands` rows × 40 B per
    document regardless of document size; append-only (new batches
    union their own bands in after screening — the same no-rescan
    growth pattern as the mergeable profile sketches in
    operators/sketches.py)."""
    return lsh_bands_from_wide(
        minhash_wide(df, text_col, id_col, num_hashes, k),
        bands,
        rows_per_band,
    )


def incremental_screen(
    new_docs: DataFrame,
    corpus_docs: DataFrame,
    corpus_index: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int = 8,
    k: int = 3,
    bands: int = 4,
    rows_per_band: int = 2,
    threshold: float = 0.1,
) -> DataFrame:
    """Screen an arriving batch against an EXISTING corpus dedup index
    — the production incremental-dedup shape. A growing corpus is
    never re-deduped wholesale: the stored index
    (:func:`build_dedup_index`) is joined by each new batch, and only
    candidate corpus documents are ever re-read.

    Plan: (1) the new batch computes its own banded buckets (one
    shingle aggregate over the BATCH, corpus untouched); (2) the
    (band, bucket) equi-join against the index yields new×corpus
    candidate pairs — never new×corpus cross products, and the
    corpus-side relation is the compact index, not documents (the
    pair subtree feeds two consumers and so evaluates per consumer —
    measured cheaper than eager localization; see the inline note);
    (3)
    ``corpus_docs`` is semi-joined down to the candidate corpus ids
    BEFORE shingling, so only candidate corpus documents are ever
    re-read or re-shingled (the scan and the shingle CPU are pruned,
    not just the verify join's shuffle); the exact shingle-Jaccard
    verify then runs candidate-pruned inside :func:`jaccard_pairs`.
    Output: ``(doc_id, doc_id2, jaccard)`` with doc_id = new batch
    id, doc_id2 = matched corpus id, floored to 1e-6.

    REQUIRES: batch and corpus document ids are disjoint (standard
    for append-only corpora with globally-unique ids). A colliding id
    would merge the two documents' shingle sets in the unioned
    relation and corrupt both Jaccard terms — this is an id-hygiene
    contract, not something the screen can detect without an extra
    corpus-sized pass.

    Every stage is deterministic (md5 hash family, md5 band buckets,
    exact integer set arithmetic), so the whole screen is
    hash-verifiable against a SQL replay.
    """
    new_bands = build_dedup_index(
        new_docs, text_col, id_col, num_hashes, k, bands, rows_per_band
    )
    cand = (
        new_bands.alias("a")
        .join(
            corpus_index.alias("b"),
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket")),
        )
        .select(
            F.col("a.doc_id").alias("doc_id"),
            F.col("b.doc_id").alias("doc_id2"),
        )
        .distinct()
    )
    # cand has TWO consumers (the corpus prune below and the verify
    # join inside jaccard_pairs), so the band-join subtree appears
    # twice in the final plan. That is deliberate, not an oversight:
    # in production the corpus_index side is a STORED compact table
    # (build_dedup_index's contract — ~bands rows × 40 B/doc), so
    # each consumer costs one scan of that table joined against the
    # batch-sized band relation, and the batch side recompute is
    # batch-minhash — small by the screen's premise. The alternative
    # (evaluate the pair list eagerly and reuse a local relation) was
    # measured SLOWER at sf0.1 (3.5 s vs 2.3 s warm): the extra
    # driver job + re-broadcast costs more than the duplicated
    # candidate-bounded join, and it would put an unbounded pair
    # list on the driver for adversarial batches.
    # prune the corpus to candidate docs BEFORE shingling: at steady
    # state candidates are a vanishing fraction of the corpus, so
    # this turns a corpus-sized scan+shingle into a candidate-sized
    # one. Broadcast the distinct-id side explicitly — candidates are
    # small by LSH's design (the premise of the whole screen), and
    # the static planner can't see that through the band join's
    # unknown stats (it would plan a sort-merge semi otherwise)
    cand_corpus = corpus_docs.join(
        F.broadcast(cand.select(F.col("doc_id2").alias(id_col)).distinct()),
        id_col,
        "left_semi",
    )
    sh = word_shingles(new_docs, text_col, id_col, k).unionByName(
        word_shingles(cand_corpus, text_col, id_col, k)
    )
    return jaccard_pairs(sh, candidates=cand, threshold=threshold)


def span_dedup(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    *,
    span_words: int = 10,
    min_doc_freq: int = 2,
    delimiter: str | None = None,
) -> DataFrame:
    """Sub-document (span/line) deduplication — the C4 / RefinedWeb
    boilerplate pass: drop every span whose EXACT text occurs in at
    least ``min_doc_freq`` distinct documents (nav menus, cookie
    banners, license headers, template footers), keeping the rest of
    each document intact and in order. Document-level dedup
    (:func:`exact_duplicates`, MinHash/LSH) can't catch these — the
    surrounding unique text keeps whole-doc similarity low while the
    repeated span still leaks into every training sequence.

    Span unit: with ``delimiter`` (e.g. ``"\\n"``) spans are
    delimiter-separated lines — the RefinedWeb form. The delimiter
    is treated as a LITERAL string (it is regex-quoted with
    ``\\Q…\\E`` before reaching ``split``), so ``"."``, ``"|"``,
    ``"+"`` etc. segment on the literal character, not as a Java
    regex. Without a delimiter, spans are consecutive
    ``span_words``-word windows of the space-tokenized text — the
    C4 form, usable on single-line text. Rows whose ``text_col`` is
    NULL are kept in the output (``n_spans = n_kept = n_dropped =
    0``, ``clean_text`` NULL) rather than silently dropped.
    Segmentation is pure array arithmetic on each row
    (``split`` + ``sequence`` + ``slice`` + ``array_join``): zero
    shuffle, no UDF.

    Scale shape (the whole point): ONE groupBy over md5(span) with a
    two-phase ``count(distinct doc)`` — the shuffle carries one row
    per distinct span hash, partials combined map-side; hot spans are
    exactly the high-frequency keys the partial aggregate collapses
    first. The hot-span relation (``df >= min_doc_freq``) is then
    equi-joined back on the hash (AQE broadcasts it when small — the
    usual case; boilerplate is a vanishing fraction of distinct
    spans) and each document is reassembled with ONE groupBy(id):
    order restored by ``array_sort`` over (pos, span) structs, hot
    spans dropped by a null-skipping ``collect_list``. Never
    collects; both shuffles are key-partitioned and linear.

    Returns one row per document: ``<id_col>, n_spans, n_kept,
    n_dropped, clean_text`` (the reassembled text, hot spans
    removed, single-space/delimiter-rejoined). Deterministic for any
    partitioning; every step is engine-portable (md5, not xxhash64),
    so a SQL oracle can replay it exactly.
    """
    if delimiter is not None:
        # Java-regex-quote the delimiter so '.', '|', '+', … split on
        # the literal string (Pattern.quote semantics: wrap in
        # \Q…\E, splicing around any embedded \E)
        quoted = "\\Q" + delimiter.replace("\\E", "\\E\\\\E\\Q") + "\\E"
        # posexplode_outer: split(NULL) is NULL and plain posexplode
        # would DROP the document; the outer form emits one
        # (null pos, null seg) row instead, which the aggregate below
        # turns into an n_spans=0 / clean_text NULL output row
        spans = docs.select(
            F.col(id_col),
            F.posexplode_outer(
                F.split(F.col(text_col), F.lit(quoted), -1)
            ).alias("pos", "seg"),
        )
        joiner = delimiter
    else:
        k = int(span_words)
        words = F.split(F.col(text_col), " ", -1)
        n_spans = F.ceil(F.size(words) / F.lit(k)).cast("int")
        spans = docs.select(
            F.col(id_col),
            F.posexplode_outer(
                F.transform(
                    F.sequence(F.lit(0), n_spans - F.lit(1)),
                    lambda i: F.array_join(
                        F.slice(words, i * F.lit(k) + F.lit(1), F.lit(k)), " "
                    ),
                )
            ).alias("pos", "seg"),
        )
        joiner = " "
    spans = spans.withColumn("h", F.md5(F.col("seg")))
    hot = (
        spans.filter(F.col("seg").isNotNull())
        .groupBy("h")
        .agg(F.countDistinct(id_col).alias("df"))
        .filter(F.col("df") >= F.lit(int(min_doc_freq)))
        .select("h", F.lit(True).alias("hot"))
    )
    marked = spans.join(hot, "h", "left").select(
        id_col,
        "pos",
        "seg",
        F.coalesce(F.col("hot"), F.lit(False)).alias("hot"),
    )
    kept_struct = F.when(
        (~F.col("hot")) & F.col("seg").isNotNull(),
        F.struct(F.col("pos"), F.col("seg")),
    )  # null for hot spans and null-text sentinel rows — skipped
    return (
        marked.groupBy(id_col)
        .agg(
            # count(seg), not count(1): the null-text sentinel row
            # contributes 0 spans
            F.count(F.col("seg")).alias("n_spans"),
            F.sum(F.col("hot").cast("long")).alias("n_dropped"),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(kept_struct)),
                    lambda s: s["seg"],
                ),
                joiner,
            ).alias("clean_text"),
        )
        .select(
            id_col,
            F.col("n_spans").cast("long").alias("n_spans"),
            (F.col("n_spans") - F.col("n_dropped")).cast("long").alias("n_kept"),
            F.col("n_dropped").cast("long").alias("n_dropped"),
            # null-text docs (n_spans=0) surface clean_text as NULL,
            # not "" — "" is a real (empty-string) document
            F.when(F.col("n_spans") > 0, F.col("clean_text")).alias(
                "clean_text"
            ),
        )
    )


def cluster_dedup_report(
    df: DataFrame,
    text_col: str,
    id_col: str,
    thresholds: tuple[float, ...] = (0.25, 0.5, 0.75),
    num_hashes: int = 8,
    bands: int = 4,
    rows_per_band: int = 2,
    k: int = 3,
    persist: bool = True,
) -> DataFrame:
    """Precision/recall audit of MinHash-LSH cluster dedup against
    exact shingle Jaccard — one row per threshold, measuring what the
    production near-dup pipeline would actually keep and drop.

    Extends the per-pair estimator audit (the ``dedup_minhash_
    estimate`` contract) to the DECISION level: at each threshold t
    the predicted duplicate set is {LSH candidate pairs whose
    signature-agreement estimate >= t} — the pure sketch decision,
    cheap enough to run without touching shingle sets again — and the
    truth set is {pairs with exact shingle Jaccard >= t}. The report
    carries pair precision/recall AND the cluster-level consequence:
    connected components over each pair graph (tree-contraction
    union-find) give the number of duplicate clusters and how many
    documents a collapse pass would drop (``n_docs - n_clusters``),
    predicted vs true.

    Scale shape: the predicted side is the production path — banded
    equi-join candidates, signature-agreement scoring, no all-pairs
    anywhere. The truth side joins all pairs sharing >=1 shingle (the
    exact audit baseline, quadratic in per-shingle doc frequency) —
    run it on an audit sample at web scale, exactly like the recall
    reports (``sim_recall_report`` / ``neardup_recall_report``)
    restrict their ground truth. Vacuous ratios are defined as 1.0
    (no predicted pairs -> precision 1; no true pairs -> recall 1) so
    the row stays total.

    CACHE OWNERSHIP: with ``persist=True`` the shingle relation, the
    wide signatures, the scored pair relation, and the tagged edge
    relation are cached (MEMORY_AND_DISK) because each feeds several
    consumers; same session-lifetime contract as
    :func:`jaccard_pairs`.
    """
    from lakehouse_tools_spark.ext.graph import (
        EDGES_PER_TASK,
        connected_components_contract,
    )

    if not thresholds:
        raise ValueError("thresholds must be non-empty")
    sh = word_shingles(df, text_col, id_col, k)
    if persist:
        sh = sh.persist()
    wide = minhash_wide_from_shingles(sh, num_hashes)
    if persist:
        wide = wide.persist()
    cand = lsh_candidate_pairs_wide(wide, bands, rows_per_band)
    agree = sum(
        (F.col(f"a._h{i}") == F.col(f"b._h{i}")).cast("int")
        for i in range(num_hashes)
    )
    est = (
        cand.join(wide.alias("a"), cand["doc_id"] == F.col("a.doc_id"))
        .join(wide.alias("b"), cand["doc_id2"] == F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_id"),
            F.col("b.doc_id").alias("doc_id2"),
            (agree.cast("double") / F.lit(float(num_hashes))).alias("est"),
        )
    )
    tmin = min(thresholds)
    # truth pairs below every reported threshold are never counted on
    # either side of a comparison, so the exact relation is built
    # once, pre-filtered at min(thresholds)
    tru = jaccard_pairs(sh, threshold=tmin, persist=persist).select(
        "doc_id", "doc_id2", "jaccard"
    )
    scored = (
        est.join(tru, ["doc_id", "doc_id2"], "full")
        .select(
            "doc_id",
            "doc_id2",
            # non-candidate pairs were never scored by the sketch:
            # est=-1 keeps them below every threshold
            F.coalesce(F.col("est"), F.lit(-1.0)).alias("est"),
            # candidate pairs below tmin (or sharing no shingle at
            # all) are true-negatives at every reported threshold
            F.coalesce(F.col("jaccard"), F.lit(0.0)).alias("jaccard"),
        )
    )
    if persist:
        scored = scored.persist()
        # one cheap count on the (persisted) pair relation warms the
        # cache AND sizes the contraction ladder below from measured
        # edge volume — the 6 tagged graphs carry at most 6×n_pairs
        # edges, so the ladder starts at its data-appropriate depth
        # instead of defaultParallelism (the audit graphs are orders
        # of magnitude smaller than the corpus; a defaultParallelism
        # start measured ~2.5 s of pure level/tiny-task overhead here)
        n_pairs = scored.count()
        cc_start = max(
            1,
            min(
                -(-6 * n_pairs // EDGES_PER_TASK),
                df.sparkSession.sparkContext.defaultParallelism,
            ),
        )
    else:
        cc_start = None  # un-persisted scored: a count would re-run
        # the whole est/tru chain; let the contraction size itself

    # ONE tree-contraction run covers every (side, threshold) graph:
    # the contraction's cost at audit scale is its fixed level
    # overhead (log-P mapInPandas passes), not edge volume, so six
    # tiny per-threshold CC jobs cost ~6x one. Tagging each node with
    # (side, threshold-index) keeps the graphs disjoint inside a
    # single run; components can never span tags.
    #
    # The tags are emitted in ONE pass over `scored` (explode of a
    # per-row conditional tag array), not a 6-branch filter-union —
    # the union form re-scanned the cached
    # pair relation once per (side, threshold) and the node-side
    # distinct doubled that again (12 × 32-partition stages of ~30
    # rows each; measured 3.3 s for nodes_all.count() alone on 907
    # pairs, pure tiny-task scheduling). Same edge multiset, same
    # clusters.
    tag_branches = []
    for i, t in enumerate(thresholds):
        for side, col in (("p", "est"), ("t", "jaccard")):
            tag_branches.append(
                F.when(
                    F.col(col) >= F.lit(float(t)), F.lit(f"{side}|{i}|")
                )
            )
    edges_all = (
        scored.select(
            F.explode(F.array(*tag_branches)).alias("_tag"),
            "doc_id",
            "doc_id2",
        )
        .filter(F.col("_tag").isNotNull())
        .select(
            F.concat(F.col("_tag"), F.col("doc_id").cast("string")).alias(
                "src"
            ),
            F.concat(F.col("_tag"), F.col("doc_id2").cast("string")).alias(
                "dst"
            ),
        )
    )
    if persist:
        # three consumers (node derivation ×2, contraction level-0)
        edges_all = edges_all.persist()
    nodes_all = (
        edges_all.select(F.col("src").alias("_n"))
        .unionByName(edges_all.select(F.col("dst").alias("_n")))
        .distinct()
    )
    comp = connected_components_contract(
        edges_all,
        nodes_all,
        src_col="src",
        dst_col="dst",
        id_col="_n",
        start_partitions=cc_start,
    )
    # every tagged node is edge-incident, so every component has >=2
    # members: cluster counts need no size filter
    stats = (
        comp.select(
            F.split(F.col("_n"), "\\|", 3).alias("_parts"), "cluster_id"
        )
        .select(
            F.col("_parts")[0].alias("_side"),
            F.col("_parts")[1].cast("int").alias("_ti"),
            "cluster_id",
        )
        .groupBy("_side", "_ti")
        .agg(
            F.count_distinct("cluster_id").alias("n_clusters"),
            F.count(F.lit(1)).alias("n_dup_docs"),
        )
    )
    # The pair counts for EVERY threshold come from one exploded
    # conditional aggregate over `scored` (one 3-sum aggregate per
    # threshold would be 3 full passes over the cached pair relation,
    # and a union of per-threshold crossJoins is an 18-branch plan
    # that alone cost Catalyst seconds to optimize). A literal
    # threshold spine keeps the output total when `scored` is empty
    # (the grouped aggregate would emit zero rows where global
    # aggregates emit NULL-coalesced zeros), and the per-tag cluster
    # stats pivot onto it. Same sums, same floor6 arithmetic, same rows.
    spark = df.sparkSession
    spine = spark.createDataFrame(
        [(i, float(t)) for i, t in enumerate(thresholds)],
        "_ti int, threshold double",
    )
    counts_long = (
        scored.select(
            F.explode(
                F.array(
                    *[F.lit(i).alias(str(i)) for i in range(len(thresholds))]
                )
            ).alias("_ti"),
            "est",
            "jaccard",
        )
        .join(F.broadcast(spine), "_ti")
        .groupBy("_ti")
        .agg(
            F.sum(
                (F.col("est") >= F.col("threshold")).cast("long")
            ).alias("_np"),
            F.sum(
                (F.col("jaccard") >= F.col("threshold")).cast("long")
            ).alias("_nt"),
            F.sum(
                (
                    (F.col("est") >= F.col("threshold"))
                    & (F.col("jaccard") >= F.col("threshold"))
                ).cast("long")
            ).alias("_nh"),
        )
    )
    stats_wide = (
        stats.groupBy("_ti")
        .pivot("_side", ["p", "t"])
        .agg(
            F.max("n_clusters").alias("nc"),
            F.max("n_dup_docs").alias("nd"),
        )
    )
    return (
        spine.join(counts_long, "_ti", "left")
        .join(stats_wide, "_ti", "left")
        .select(
            "threshold",
            F.coalesce(F.col("_np"), F.lit(0)).alias("n_pred_pairs"),
            F.coalesce(F.col("_nt"), F.lit(0)).alias("n_true_pairs"),
            F.coalesce(F.col("_nh"), F.lit(0)).alias("n_hit_pairs"),
            F.when(F.coalesce(F.col("_np"), F.lit(0)) == 0, F.lit(1.0))
            .otherwise(
                floor6(
                    F.coalesce(F.col("_nh"), F.lit(0)).cast("double")
                    / F.col("_np")
                )
            )
            .alias("pair_precision"),
            F.when(F.coalesce(F.col("_nt"), F.lit(0)) == 0, F.lit(1.0))
            .otherwise(
                floor6(
                    F.coalesce(F.col("_nh"), F.lit(0)).cast("double")
                    / F.col("_nt")
                )
            )
            .alias("pair_recall"),
            F.coalesce(F.col("p_nc"), F.lit(0)).alias("n_pred_clusters"),
            (
                F.coalesce(F.col("p_nd"), F.lit(0))
                - F.coalesce(F.col("p_nc"), F.lit(0))
            ).alias("n_pred_collapsed"),
            F.coalesce(F.col("t_nc"), F.lit(0)).alias("n_true_clusters"),
            (
                F.coalesce(F.col("t_nd"), F.lit(0))
                - F.coalesce(F.col("t_nc"), F.lit(0))
            ).alias("n_true_collapsed"),
        )
        .orderBy("threshold")
    )
