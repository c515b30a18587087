"""Text analysis operators: quality scoring, language ID, token
counting, fingerprinting.

All pure built-in expressions (split/regexp/length/md5) — these run
in whole-stage codegen over string columns, no Python in the hot
path, and every output is reproducible in ANSI SQL for the oracle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from lakehouse_tools_spark.ext.dedup import normalize_text
from lakehouse_tools_spark.functions.portable import floor6
from lakehouse_tools_spark.sources.tables import ensure_parallelism

#: BPE-ish token pattern: letter runs, digit runs, single other glyph.
TOKEN_PATTERN = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"

#: Tiny deterministic stopword lists for the n-gram/lexicon language
#: heuristic. Real language ID would ship larger n-gram tables; the
#: operator shape (score per language, argmax) is the same.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "a", "in", "is"),
    "de": ("der", "die", "und", "das", "ist", "ein"),
    "fr": ("le", "la", "et", "les", "des", "un"),
}


def token_count(col: Column) -> Column:
    """Whitespace token count of normalized text."""
    return F.size(F.split(normalize_text(col), " "))


def regex_token_count(col: Column) -> Column:
    """BPE-ish token count (letters / digits / punctuation glyphs)."""
    return F.size(F.regexp_extract_all(col, F.lit(TOKEN_PATTERN), F.lit(0)))


def quality_exprs(t: Column, words: Column) -> dict[str, Column]:
    """Quality-feature expressions over (raw text, normalized words).

    Exposed separately so single-pass pipelines (ext.corpus) can fuse
    them with other per-row expressions in one projection."""
    n_words = F.size(words)
    n_chars = F.length(t)
    stop = F.array([F.lit(w) for w in LANG_MARKERS["en"]])
    n_stop = F.size(F.filter(words, lambda w: F.array_contains(stop, w)))
    n_punct = F.size(
        F.regexp_extract_all(t, F.lit(r"[^A-Za-z0-9\s]"), F.lit(0))
    )
    stop_ratio = floor6(n_stop / n_words)
    punct_ratio = floor6(n_punct / n_chars)
    return {
        "n_chars": n_chars,
        "n_words": n_words,
        "mean_word_len": floor6((n_chars - (n_words - 1)) / n_words),
        "stopword_ratio": stop_ratio,
        "punct_ratio": punct_ratio,
        "quality_score": floor6(
            F.least(
                F.lit(1.0),
                F.greatest(
                    F.lit(0.0),
                    F.lit(0.5)
                    + F.lit(0.5) * stop_ratio
                    - F.lit(2.0) * punct_ratio
                    + F.when(
                        (n_words >= 10) & (n_words <= 5000), 0.2
                    ).otherwise(-0.2),
                ),
            ),
        ),
    }


def quality_features(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Per-document quality features + a composite score.

    Features: char length, word count, mean word length, stopword
    ratio, non-alpha glyph ratio. Score is a fixed linear combination
    clamped to [0,1] — the standard shape of corpus quality filters;
    thresholds are caller policy.
    """
    # words materialized in their own projection: the filter() lambda
    # inside quality_exprs defeats subexpression elimination, so an
    # inline split would be re-evaluated per feature column (see
    # ext.dedup.word_shingles)
    base = df.select(
        F.col(id_col).alias("doc_id"),
        F.col(text_col).alias("_t"),
        F.split(normalize_text(F.col(text_col)), " ").alias("_words"),
    )
    q = quality_exprs(F.col("_t"), F.col("_words"))
    return base.select(
        "doc_id", *(q[name].alias(name) for name in (
            "n_chars", "n_words", "mean_word_len",
            "stopword_ratio", "punct_ratio", "quality_score",
        ))
    )


def language_score_exprs(words: Column) -> dict[str, Column]:
    """Per-language lexicon-hit score expressions over a words array."""
    n = F.size(words)
    out = {}
    for lang in sorted(LANG_MARKERS):
        markers = F.array([F.lit(w) for w in LANG_MARKERS[lang]])
        hits = F.size(F.filter(words, lambda w: F.array_contains(markers, w)))
        out[lang] = floor6(hits / n)
    return out


def language_pred_exprs(score_cols: dict[str, Column]) -> tuple[Column, Column]:
    """(lang_pred, best_score) argmax with alphabetical tiebreak, over
    already-computed per-language score columns."""
    langs = sorted(score_cols)
    best = F.greatest(*[score_cols[l] for l in langs])
    pred = F.coalesce(
        *[F.when(score_cols[l] == best, F.lit(l)) for l in langs]
    )
    return pred, best


def language_scores(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Lexicon-hit language ID: fraction of tokens matching each
    language's marker list; predicted language = argmax with
    deterministic (alphabetical) tiebreak. Output:
    ``(doc_id, lang_pred, score)``.
    """
    base = df.select(
        F.col(id_col).alias("doc_id"),
        F.split(normalize_text(F.col(text_col)), " ").alias("_words"),
    )
    scores = language_score_exprs(F.col("_words"))
    scored = base.select(
        "doc_id", *(scores[l].alias(f"score_{l}") for l in sorted(scores))
    )
    pred, best = language_pred_exprs(
        {l: F.col(f"score_{l}") for l in sorted(scores)}
    )
    return scored.select("doc_id", pred.alias("lang_pred"), best.alias("score"))


def fingerprints(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Content fingerprint (md5 of normalized text) + length — the
    document identity record exact dedup and lineage tracking key on."""
    return df.select(
        F.col(id_col).alias("doc_id"),
        F.md5(normalize_text(F.col(text_col))).alias("fingerprint"),
        F.length(F.col(text_col)).alias("n_chars"),
    )


def tfidf_keywords(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 3,
    min_word_len: int = 3,
    persist: bool = True,
) -> DataFrame:
    """Top-``k`` TF-IDF keywords per document — the unsupervised
    keyword/topic-tagging step of a curation pipeline (cluster
    labeling, domain routing, eval-set slicing).

    Shape: one explode + one (doc, word) groupBy for term frequency,
    one word-level aggregate for document frequency, then a
    row_number window per doc over the scored terms. The DF relation
    is vocabulary-sized (≪ corpus), so its join back onto the TF
    relation broadcasts; the only data-sized shuffle is the TF
    groupBy, which carries (doc_id, word, count) after map-side
    combine — never document text. The corpus size N is a 1-row
    aggregate cross-joined in (broadcast of a scalar, not a window
    over an empty partition — the latter funnels everything through
    one task at 100 TB).

    Scoring: tf · (ln((N+1)/(df+1)) + 1) — the smoothed-idf variant
    that keeps corpus-universal words finite. Deterministic tiebreak
    (score desc, word asc) and floor6 rounding make the output exact
    across engines, so the query is fully oracle-checkable.

    Cache ownership: the default persists the compact TF relation for
    its two consumers and the cache lives until session end (the
    result is lazy, so it cannot be released here) — same contract as
    :func:`~lakehouse_tools_spark.ext.dedup.jaccard_pairs`; pass
    ``persist=False`` in long-lived sessions to trade recomputation
    for zero cache footprint.
    """
    from pyspark import StorageLevel

    words = df.select(
        F.col(id_col).alias("doc_id"),
        F.explode(F.split(normalize_text(F.col(text_col)), " ")).alias("w"),
    ).filter(F.length("w") >= min_word_len)
    # tf feeds TWO consumers (the scored join and the DF aggregate);
    # without materialization each re-runs the tokenize→explode→
    # groupBy pipeline from the parquet scan (confirmed in the
    # physical plan: two independent scan+exchange chains). tf is the
    # compact post-aggregation relation, so one spillable persist is
    # strictly cheaper than recomputing the exploded tokens (per call
    # at sf1, 4 vCPU: 2.9 s with it, 3.5 s without).
    tf = words.groupBy("doc_id", "w").agg(
        F.count(F.lit(1)).alias("tf")
    )
    if persist:
        tf = tf.persist(StorageLevel.MEMORY_AND_DISK)
    dfreq = tf.groupBy("w").agg(F.count(F.lit(1)).alias("df"))
    n_docs = df.select(
        F.countDistinct(F.col(id_col)).alias("_n")
    )
    scored = (
        tf.join(F.broadcast(dfreq), "w")
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "score",
            floor6(
                F.col("tf")
                * (
                    F.log((F.col("_n") + 1) / (F.col("df") + 1))
                    + F.lit(1.0)
                )
            ),
        )
    )
    from pyspark.sql import Window

    rn = F.row_number().over(
        Window.partitionBy("doc_id").orderBy(
            F.col("score").desc(), F.col("w").asc()
        )
    )
    return (
        scored.withColumn("rank", rn)
        .filter(F.col("rank") <= k)
        .select(
            "doc_id",
            F.col("w").alias("word"),
            F.col("tf").cast("long").alias("tf"),
            F.col("df").cast("long").alias("df"),
            "score",
            F.col("rank").cast("int").alias("rank"),
        )
    )


def bigram_counts(
    df: DataFrame,
    text_col: str,
    id_col: str,
    top: int = 200,
    min_word_len: int = 1,
) -> DataFrame:
    """Top adjacent word-pair statistics — the counting step of
    merge-rule mining (BPE-style tokenizer training applied at the
    word level) and of phrase detection (word2phrase-style collocation
    scoring starts from exactly this table).

    The pair relation is built JVM-side with ``transform`` over token
    index ranges (same no-UDF pattern as ``dedup.word_shingles``, with
    the token array materialized first so higher-order-function
    lambdas don't defeat subexpression elimination). One explode + one
    groupBy; the shuffle carries (bigram, partial counts) after
    map-side combine — never document text. Deterministic tiebreak
    (count desc, bigram asc) makes the top-``top`` oracle-exact.
    """
    exploded = _adjacent_pairs(df, text_col, id_col, min_word_len)
    return (
        exploded.groupBy("bigram")
        .agg(
            F.count(F.lit(1)).alias("n_total"),
            F.countDistinct("doc_id").alias("n_docs"),
        )
        .orderBy(F.col("n_total").desc(), F.col("bigram").asc())
        .limit(top)
    )


def unigram_logprob(
    df: DataFrame,
    text_col: str,
    id_col: str,
    min_word_len: int = 1,
) -> DataFrame:
    """Per-document mean negative log-probability under the corpus's
    own Laplace-smoothed unigram language model — the classic
    perplexity-proxy quality signal (gibberish and boilerplate both
    land far from the corpus center; use it to rank docs for
    filtering where a real LM is too expensive).

    p(w) = (count(w) + 1) / (T + V) with T = total tokens and V =
    vocabulary size. Two aggregates over one exploded token relation:
    the vocabulary table (vocab-sized, broadcast back onto the
    tokens) and the (T, V) scalar (1-row aggregate, broadcast
    cross-join — not a window over an empty partition, which would
    funnel every row through one task). The per-doc mean is one final
    groupBy on doc_id. floor6 + deterministic smoothing make the
    score oracle-exact.
    """
    words = df.select(
        F.col(id_col).alias("doc_id"),
        F.explode(F.split(normalize_text(F.col(text_col)), " ")).alias("w"),
    ).filter(F.length("w") >= min_word_len)
    vocab = words.groupBy("w").agg(F.count(F.lit(1)).alias("_cnt"))
    totals = vocab.agg(
        F.sum("_cnt").alias("_t"), F.count(F.lit(1)).alias("_v")
    )
    scored = (
        words.join(F.broadcast(vocab), "w")
        .crossJoin(F.broadcast(totals))
        .select(
            "doc_id",
            (
                -F.log(
                    (F.col("_cnt") + 1) / (F.col("_t") + F.col("_v"))
                )
            ).alias("_nll"),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        floor6(F.avg("_nll")).alias("mean_nll"),
    )


def _adjacent_pairs(
    df: DataFrame, text_col: str, id_col: str, min_word_len: int = 1
) -> DataFrame:
    """Exploded adjacent word pairs ``(doc_id, bigram)`` — shared core
    of :func:`bigram_counts` and :func:`pmi_bigrams`. Pairs are built
    JVM-side with ``transform`` over token index ranges (the token
    array materialized first, same no-UDF pattern as
    ``dedup.word_shingles``). The token rows are spread by doc_id
    (``ensure_parallelism``) before the pair expansion (r13)."""
    base = ensure_parallelism(
        df.select(
            F.col(id_col).alias("doc_id"),
            F.col(text_col).alias("_raw"),
        ),
        "doc_id",
    ).select(
        "doc_id",
        F.split(normalize_text(F.col("_raw")), " ").alias("_toks"),
    )
    toks = F.col("_toks")
    n = F.size(toks)
    idx = F.sequence(F.lit(0), n - 2)
    pairs = F.when(
        n >= 2,
        F.transform(idx, lambda i: F.concat_ws(" ", F.slice(toks, i + 1, 2))),
    ).otherwise(F.array().cast("array<string>"))
    exploded = base.select("doc_id", F.explode(pairs).alias("bigram"))
    if min_word_len > 1:
        exploded = exploded.filter(
            F.size(
                F.filter(
                    F.split(F.col("bigram"), " "),
                    lambda w: F.length(w) < min_word_len,
                )
            )
            == 0
        )
    return exploded


def pmi_bigrams(
    df: DataFrame,
    text_col: str,
    id_col: str,
    min_count: int = 5,
    top: int = 100,
    persist: bool = True,
) -> DataFrame:
    """Top collocations by pointwise mutual information:
    PMI(a,b) = ln( p(ab) / (p(a)·p(b)) ) with p(ab) over adjacent
    pairs and p(w) over unigrams — the scoring step of word2phrase-
    style phrase mining (raw bigram counts rank "of the" first; PMI
    ranks pairs that co-occur far above chance).

    Shape: one unigram aggregate and one bigram aggregate (each
    combining map-side before its shuffle), then two broadcast joins
    of the vocabulary-sized unigram counts onto the bigram relation
    and a broadcast 1-row totals cross-join. ``min_count`` suppresses
    the unstable low-frequency tail (a hapax pair always has extreme
    PMI). floor6 + (pmi desc, bigram asc) tiebreak make the top-N
    oracle-exact. Cache ownership as in
    :func:`~lakehouse_tools_spark.ext.dedup.jaccard_pairs`:
    ``persist=False`` opts long-lived callers out of the
    session-lifetime cache of the two aggregated relations.
    """
    from pyspark import StorageLevel

    words = df.select(
        F.col(id_col).alias("doc_id"),
        F.explode(F.split(normalize_text(F.col(text_col)), " ")).alias("w"),
    )
    # both aggregated relations feed two consumers each (counts join +
    # totals), so persist the compact post-aggregation forms — the
    # tokenize/pair pipelines then run exactly once apiece (per call
    # at sf1, 4 vCPU: 3.1 s with them, 4.6 s without)
    uni = words.groupBy("w").agg(F.count(F.lit(1)).alias("_cw"))
    pairs_all = (
        _adjacent_pairs(df, text_col, id_col)
        .groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("n_pair"))
    )
    if persist:
        uni = uni.persist(StorageLevel.MEMORY_AND_DISK)
        pairs_all = pairs_all.persist(StorageLevel.MEMORY_AND_DISK)
    bi = pairs_all.filter(F.col("n_pair") >= min_count)
    totals = uni.agg(F.sum("_cw").alias("_t1"))
    t2 = pairs_all.agg(F.sum("n_pair").alias("_t2"))
    w1 = F.split(F.col("bigram"), " ")[0]
    w2 = F.split(F.col("bigram"), " ")[1]
    scored = (
        bi.withColumn("_w1", w1)
        .withColumn("_w2", w2)
        .join(
            F.broadcast(uni.select(F.col("w").alias("_w1"), F.col("_cw").alias("_c1"))),
            "_w1",
        )
        .join(
            F.broadcast(uni.select(F.col("w").alias("_w2"), F.col("_cw").alias("_c2"))),
            "_w2",
        )
        .crossJoin(F.broadcast(totals))
        .crossJoin(F.broadcast(t2))
        .select(
            "bigram",
            F.col("n_pair").cast("long").alias("n_pair"),
            floor6(
                F.log(
                    (F.col("n_pair") / F.col("_t2"))
                    / (
                        (F.col("_c1") / F.col("_t1"))
                        * (F.col("_c2") / F.col("_t1"))
                    )
                )
            ).alias("pmi"),
        )
    )
    return scored.orderBy(F.col("pmi").desc(), F.col("bigram").asc()).limit(top)


#: Default ``learn_bpe_merges`` vocabulary cap: the collected
#: frequency table is the ONLY driver-side materialization in BPE
#: training, and on an open-vocabulary web corpus distinct "words"
#: (URLs, typos, unicode junk) run to 1e8–1e9 — an unbounded collect
#: is a driver OOM. 64 Ki words ≈ a few MB on the driver, and head
#: merges are stable under tail truncation (pinned in
#: tests/test_text.py), so the cap changes nothing the merge table
#: cares about. Pass ``max_vocab=None`` to opt OUT explicitly
#: (eval-set-sized corpora only).
DEFAULT_BPE_MAX_VOCAB = 65536


def learn_bpe_merges(
    df: DataFrame,
    text_col: str,
    num_merges: int = 10,
    min_freq: int = 1,
    max_vocab: int | None = DEFAULT_BPE_MAX_VOCAB,
) -> list[tuple[str, str]]:
    """Byte-pair-encoding merge-rule learning — tokenizer training's
    core step: repeatedly merge the most frequent adjacent symbol
    pair across the corpus, producing the ranked merge table a BPE
    tokenizer applies at encode time.

    Architecture (and why it is scale-correct): the ONLY corpus-sized
    step is one word-frequency aggregate — distributed, map-side
    combined, carries (word, count), never text. The merge loop then
    runs on the aggregated vocabulary, which is orders of magnitude
    smaller than the corpus and bounded by distinct-word count — the
    same separation production BPE trainers use (frequency table
    from a corpus pass, merges on the table). Each merge mutates
    symbol sequences, which no relational pass expresses; looping
    driver-side over the VOCABULARY is not the collect-the-data
    anti-pattern, it is the algorithm.

    Deterministic: ties in pair frequency break on lexicographically
    smallest (left, right), so the merge table is identical across
    runs, partitionings, and engines.

    Driver-memory bound: the collected frequency table is capped by
    ``min_freq`` (drop words seen fewer times — at web scale the
    hapax tail IS most of the distinct-word count) and ``max_vocab``
    (keep only the top-N words by (freq desc, word asc) — a
    deterministic total order, so the cap itself is reproducible; the
    orderBy+limit is a distributed top-N, never a full sort
    materialization). Driver memory is O(min(distinct_words,
    max_vocab)) and — since r10 — ``max_vocab`` DEFAULTS to
    :data:`DEFAULT_BPE_MAX_VOCAB` so the bound holds without opt-in;
    pass ``max_vocab=None`` to deliberately collect the full
    vocabulary on corpora known to be small. Capping only removes
    low-frequency tail words from the table, so high-frequency pair
    counts — the ones that decide early merges — are nearly
    unchanged: head merges are stable under tail truncation (pinned
    in tests/test_text.py).
    """
    if min_freq < 1:
        raise ValueError(f"min_freq must be >= 1, got {min_freq}")
    if max_vocab is not None and max_vocab < 1:
        raise ValueError(f"max_vocab must be >= 1, got {max_vocab}")
    freqs = (
        df.select(
            F.explode(
                F.split(normalize_text(F.col(text_col)), " ")
            ).alias("w")
        )
        .filter(F.col("w") != "")
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    if min_freq > 1:
        freqs = freqs.filter(F.col("freq") >= min_freq)
    if max_vocab is not None:
        # total order (freq desc, word asc) makes the cut deterministic;
        # orderBy+limit is a distributed top-N (per-partition take +
        # driver merge), never a full sort materialization
        freqs = freqs.orderBy(
            F.col("freq").desc(), F.col("w").asc()
        ).limit(max_vocab)
    vocab = freqs.collect()
    seqs: dict[tuple[str, ...], int] = {}
    for r in vocab:
        seqs[tuple(r["w"])] = seqs.get(tuple(r["w"]), 0) + int(r["freq"])
    merges: list[tuple[str, str]] = []
    for _ in range(num_merges):
        counts: dict[tuple[str, str], int] = {}
        for seq, freq in seqs.items():
            for a, b in zip(seq, seq[1:]):
                counts[(a, b)] = counts.get((a, b), 0) + freq
        if not counts:
            break
        mx = max(counts.values())
        best = min(p for p, c in counts.items() if c == mx)
        merges.append(best)
        joined = best[0] + best[1]
        new_seqs: dict[tuple[str, ...], int] = {}
        for seq, freq in seqs.items():
            out: list[str] = []
            i = 0
            while i < len(seq):
                if (
                    i + 1 < len(seq)
                    and seq[i] == best[0]
                    and seq[i + 1] == best[1]
                ):
                    out.append(joined)
                    i += 2
                else:
                    out.append(seq[i])
                    i += 1
            key = tuple(out)
            new_seqs[key] = new_seqs.get(key, 0) + freq
        seqs = new_seqs
    return merges


def apply_bpe(
    df: DataFrame,
    text_col: str,
    id_col: str,
    merges: list[tuple[str, str]],
) -> DataFrame:
    """Tokenize with a learned merge table: per-word symbol sequences
    start as characters and apply the ranked merges in order. Output:
    ``(doc_id, n_tokens)`` token counts under the learned tokenizer.

    Encode-by-lookup, fully distributed (the trick fast BPE encoders
    use — distinct words ≪ word occurrences — WITHOUT the naive
    driver-side dictionary): the corpus's distinct-word RELATION is
    encoded in place by an Arrow-batched ``mapInPandas`` whose only
    closure state is the merge-rank table (``num_merges`` entries,
    shipped once per task like a broadcast), then per-(doc, word)
    occurrence counts join back to the encoded vocabulary on the word
    key and reduce to per-doc token totals. Nothing corpus- or
    vocabulary-sized ever reaches the driver — on an open-vocabulary
    web corpus the distinct-word set alone is 1e8–1e9 rows, so the
    pre-r10 ``distinct().collect()`` + ``create_map`` form was a
    driver OOM at exactly the scale this engine targets.

    Plan shape: explode → partial-aggregated (doc, word) counts (one
    shuffle, carries distinct pairs, not occurrences) → distinct words
    (reuses the same keys) → mapInPandas encode (pure per-batch,
    bounded by one Arrow batch) → shuffle join on ``w`` (AQE handles
    skewed common words; both sides are distinct-pair-sized) → one
    final per-doc aggregate. Encoding is deterministic: the merge
    loop is a pure function of (word, merges).
    """
    rank = {tuple(p): i for i, p in enumerate(merges)}

    def _encode_batches(batches):
        import pandas as pd

        def encode(word: str) -> int:
            seq = list(word)
            while len(seq) > 1:
                pairs = [
                    (rank.get((a, b)), i)
                    for i, (a, b) in enumerate(zip(seq, seq[1:]))
                ]
                pairs = [(r, i) for r, i in pairs if r is not None]
                if not pairs:
                    break
                _, i = min(pairs)
                seq[i : i + 2] = [seq[i] + seq[i + 1]]
            return len(seq)

        for pdf in batches:
            yield pd.DataFrame(
                {"w": pdf["w"], "_wt": [encode(w) for w in pdf["w"]]}
            )

    occurrences = df.select(
        F.col(id_col).alias("doc_id"),
        F.explode(F.split(normalize_text(F.col(text_col)), " ")).alias("w"),
    ).filter(F.col("w") != "")
    word_counts = occurrences.groupBy("doc_id", "w").agg(
        F.count(F.lit(1)).alias("_c")
    )
    vocab = word_counts.select("w").distinct()
    encoded = vocab.mapInPandas(_encode_batches, "w string, _wt long")
    return (
        word_counts.join(encoded, "w")
        .groupBy("doc_id")
        .agg(F.sum(F.col("_c") * F.col("_wt")).cast("long").alias("n_tokens"))
    )


def repetition_signals(
    df: DataFrame, text_col: str, id_col: str, max_n: int = 3
) -> DataFrame:
    """Gopher-style per-document repetition statistics: for each gram
    size 1..max_n, the fraction of gram occurrences taken by the
    single most frequent gram, plus vocabulary richness
    (distinct words / total words). Boilerplate, keyword-stuffed, and
    template-generated pages show up as high top-gram fractions and
    low richness long before any LM-based score — this is the
    standard repetition block of web-corpus quality filters
    (Gopher §A.1.1 shape), expressed relationally.

    One pass: every gram size is built JVM-side from the token array
    (``transform`` over index ranges, no UDF), tagged with its size,
    and exploded ONCE; counting is a single groupBy whose shuffle
    carries distinct ``(doc, size, gram)`` partial counts after
    map-side combine — ∝ max_n × token volume, never document text.
    Per-doc reduction is a second, output-sized aggregate. Documents
    shorter than a gram size contribute no rows for it and surface
    null fractions (no gram of that size exists — a fact, not a 0).
    """
    # spread the token rows by doc_id (ensure_parallelism) before the
    # gram expansion (r13); hash(doc_id) is also the per-doc
    # aggregates' distribution.
    base = ensure_parallelism(
        df.select(
            F.col(id_col).alias("doc_id"),
            F.col(text_col).alias("_raw"),
        ),
        "doc_id",
    ).select(
        "doc_id",
        F.split(normalize_text(F.col("_raw")), " ").alias("_toks"),
    )
    toks = F.col("_toks")
    n = F.size(toks)
    empty = F.array().cast("array<string>")

    def grams(k: int) -> Column:
        if k == 1:
            return toks
        idx = F.sequence(F.lit(0), n - k)
        return F.when(
            n >= k,
            F.transform(
                idx, lambda i: F.concat_ws(" ", F.slice(toks, i + 1, k))
            ),
        ).otherwise(empty)

    def _tagger(k: int):
        # NB: must be a ONE-argument lambda — pyspark passes (element,
        # index) to two-argument transform lambdas, so a `_k=k` default
        # parameter would silently receive the array index
        return lambda g: F.struct(F.lit(k).alias("n"), g.alias("gram"))

    tagged = F.concat(
        *[F.transform(grams(k), _tagger(k)) for k in range(1, max_n + 1)]
    )
    ex = base.select("doc_id", F.explode(tagged).alias("_g")).select(
        "doc_id", F.col("_g.n").alias("n"), F.col("_g.gram").alias("gram")
    )
    counts = ex.groupBy("doc_id", "n", "gram").agg(
        F.count(F.lit(1)).alias("c")
    )
    per_size = counts.groupBy("doc_id", "n").agg(
        F.max("c").alias("top_c"),
        F.sum("c").alias("total"),
        F.count(F.lit(1)).alias("n_distinct"),
    )

    def _of(k: int, col: Column) -> Column:
        return F.max(F.when(F.col("n") == k, col))

    return per_size.groupBy("doc_id").agg(
        _of(1, F.col("total")).cast("long").alias("n_words"),
        floor6(_of(1, F.col("n_distinct") / F.col("total"))).alias(
            "distinct_word_ratio"
        ),
        floor6(_of(1, F.col("top_c") / F.col("total"))).alias("top_word_frac"),
        floor6(_of(2, F.col("top_c") / F.col("total"))).alias(
            "top_bigram_frac"
        ),
        floor6(_of(3, F.col("top_c") / F.col("total"))).alias(
            "top_trigram_frac"
        ),
    )


def bpe_fertility_report(
    df: DataFrame,
    text_col: str,
    id_col: str,
    merges: list[tuple[str, str]],
) -> DataFrame:
    """Corpus fertility report for a FIXED BPE merge table — the
    standard tokenizer-evaluation pass: given an already-trained
    tokenizer, measure how it segments a corpus. One row:

    - ``n_docs`` / ``n_words`` / ``n_distinct_words`` / ``n_chars``
      — corpus volume under the normalized whitespace tokenization
      every text operator here shares;
    - ``n_tokens`` — EXACT total BPE tokens under ``merges`` (the
      iterative lowest-rank-leftmost encode, same semantics as
      :func:`apply_bpe`);
    - ``n_distinct_tokens`` — vocabulary actually used;
    - ``fertility`` (tokens/word — the headline tokenizer metric),
      ``chars_per_token`` (compression), ``tokens_per_doc``, and
      ``whole_word_rate`` (fraction of word occurrences that encode
      to a single token), all floor-truncated to 6 decimals.

    Throughput (the other half of a tokenizer eval) is a measurement,
    not a query result — it rides in the scale-curve harness, never
    in hashed output.

    Scale shape (same as :func:`apply_bpe`, by construction): the
    only corpus-sized pass is explode → (word, count) aggregate with
    map-side combine; encode runs over the DISTINCT-word relation via
    Arrow-batched ``mapInPandas`` whose closure state is just the
    merge table; every downstream aggregate is vocabulary-sized.
    Nothing corpus- or vocabulary-sized reaches the driver.
    """
    rank = {tuple(p): i for i, p in enumerate(merges)}

    def _encode_batches(batches):
        import pandas as pd

        def encode(word: str) -> list[str]:
            seq = list(word)
            while len(seq) > 1:
                pairs = [
                    (rank.get((a, b)), i)
                    for i, (a, b) in enumerate(zip(seq, seq[1:]))
                ]
                pairs = [(r, i) for r, i in pairs if r is not None]
                if not pairs:
                    break
                _, i = min(pairs)
                seq[i : i + 2] = [seq[i] + seq[i + 1]]
            return seq

        for pdf in batches:
            encs = [encode(w) for w in pdf["w"]]
            yield pd.DataFrame(
                {
                    "w": pdf["w"],
                    "_wt": [len(e) for e in encs],
                    "_toks": encs,
                }
            )

    occurrences = df.select(
        F.explode(F.split(normalize_text(F.col(text_col)), " ")).alias("w")
    ).filter(F.col("w") != "")
    word_counts = occurrences.groupBy("w").agg(
        F.count(F.lit(1)).alias("_c")
    )
    encoded = word_counts.select("w").mapInPandas(
        _encode_batches, "w string, _wt long, _toks array<string>"
    )
    joined = word_counts.join(encoded, "w")
    totals = joined.agg(
        F.sum("_c").cast("long").alias("_n_words"),
        F.count(F.lit(1)).cast("long").alias("_n_distinct_words"),
        F.sum(F.length("w") * F.col("_c")).cast("long").alias("_n_chars"),
        F.sum(F.col("_wt") * F.col("_c")).cast("long").alias("_n_tokens"),
        F.sum(
            F.when(F.col("_wt") == 1, F.col("_c")).otherwise(F.lit(0))
        ).cast("long").alias("_n_single"),
    )
    distinct_tokens = (
        joined.select(F.explode("_toks").alias("_tok"))
        .agg(F.count_distinct("_tok").cast("long").alias("_n_distinct_tokens"))
    )
    n_docs = df.agg(F.count(F.lit(1)).cast("long").alias("_n_docs"))
    nz = lambda num, den: F.when(  # noqa: E731 — local ratio guard
        den > 0, floor6(num.cast("double") / den)
    )
    return (
        totals.crossJoin(distinct_tokens)
        .crossJoin(n_docs)
        .select(
            F.col("_n_docs").alias("n_docs"),
            F.col("_n_words").alias("n_words"),
            F.col("_n_distinct_words").alias("n_distinct_words"),
            F.col("_n_chars").alias("n_chars"),
            F.col("_n_tokens").alias("n_tokens"),
            F.col("_n_distinct_tokens").alias("n_distinct_tokens"),
            nz(F.col("_n_tokens"), F.col("_n_words")).alias("fertility"),
            nz(F.col("_n_chars"), F.col("_n_tokens")).alias(
                "chars_per_token"
            ),
            nz(F.col("_n_tokens"), F.col("_n_docs")).alias("tokens_per_doc"),
            nz(F.col("_n_single"), F.col("_n_words")).alias(
                "whole_word_rate"
            ),
        )
    )
