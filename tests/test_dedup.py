"""Dedup operators: exact, shingles, MinHash+LSH, Jaccard, SimHash."""

from __future__ import annotations

from pyspark.sql import Row

from lakehouse_tools_spark.ext.dedup import (
    exact_duplicates,
    jaccard_pairs,
    lsh_candidate_pairs_wide,
    minhash_signatures,
    minhash_wide,
    simhash,
    word_shingles,
)

DOCS = [
    Row(doc_id=1, text="the quick brown fox jumps over the lazy dog"),
    Row(doc_id=2, text="The  quick   brown fox jumps over the lazy dog"),  # ws/case dup of 1
    Row(doc_id=3, text="the quick brown fox jumps over the lazy cat"),  # near-dup of 1
    Row(doc_id=4, text="completely different words entirely here now"),
    Row(doc_id=5, text="tiny"),  # shorter than shingle width
]


def docs(spark):
    return spark.createDataFrame(DOCS)


def test_exact_duplicates_normalize(spark):
    out = {r.keep_id: r.n_docs for r in exact_duplicates(docs(spark), "text", "doc_id").collect()}
    assert out[1] == 2  # docs 1 and 2 collapse
    assert out[3] == 1 and out[4] == 1 and out[5] == 1


def test_word_shingles(spark):
    sh = word_shingles(docs(spark), "text", "doc_id", k=3)
    by_doc = {}
    for r in sh.collect():
        by_doc.setdefault(r.doc_id, set()).add(r.shingle)
    assert "the quick brown" in by_doc[1]
    assert by_doc[1] == by_doc[2]  # normalization makes them identical
    assert by_doc[5] == {"tiny"}  # short doc -> whole text as one shingle
    # 9 words, k=3 -> 7 shingles, minus the duplicate-free set property
    assert len(by_doc[1]) == 7


def test_minhash_deterministic_and_shaped(spark):
    a = minhash_signatures(docs(spark), "text", "doc_id", num_hashes=4).collect()
    b = minhash_signatures(docs(spark), "text", "doc_id", num_hashes=4).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
    per_doc = {}
    for r in a:
        per_doc.setdefault(r.doc_id, set()).add(r.hash_id)
    assert all(v == {0, 1, 2, 3} for v in per_doc.values())


def test_lsh_finds_identical_and_near_dups(spark):
    wide = minhash_wide(docs(spark), "text", "doc_id", num_hashes=8)
    pairs = {(r.doc_id, r.doc_id2) for r in lsh_candidate_pairs_wide(wide, 4, 2).collect()}
    assert (1, 2) in pairs  # identical after normalization: all bands agree
    assert (1, 4) not in pairs and (2, 4) not in pairs


def test_jaccard_values(spark):
    sh = word_shingles(docs(spark), "text", "doc_id", k=3)
    j = {(r.doc_id, r.doc_id2): r.jaccard for r in jaccard_pairs(sh).collect()}
    assert j[(1, 2)] == 1.0
    # doc3 differs in last word: shares 6 of 7 shingles -> 6/8 = 0.75
    assert j[(1, 3)] == 0.75


def test_jaccard_candidates_path_matches_restricted_baseline(spark):
    # the LSH-pruned path must agree exactly with the quadratic
    # all-pairs baseline restricted to the candidate set — the
    # recall contract of the composed flagship query
    from lakehouse_tools_spark.ext.dedup import (
        containment_pairs,
        minhash_wide_from_shingles,
    )

    sh = word_shingles(docs(spark), "text", "doc_id", k=3)
    # plus two hand-made candidates that must score no row: docs 1
    # and 4 share no shingle, and doc 99 has no shingles at all
    cand = lsh_candidate_pairs_wide(
        minhash_wide_from_shingles(sh, 8), 4, 2
    ).unionByName(spark.createDataFrame([(1, 4), (1, 99)], "doc_id long, doc_id2 long"))
    cset = {(r.doc_id, r.doc_id2) for r in cand.collect()}
    for score in (jaccard_pairs, containment_pairs):
        pruned = {
            (r.doc_id, r.doc_id2): tuple(r)
            for r in score(sh, candidates=cand).collect()
        }
        base = {(r.doc_id, r.doc_id2): tuple(r) for r in score(sh).collect()}
        assert pruned == {p: v for p, v in base.items() if p in cset}, score
        assert (1, 2) in pruned  # identical pair survives the composition
        assert (1, 4) not in pruned and (1, 99) not in pruned


def test_simhash_identical_docs_equal(spark):
    out = {r.doc_id: r.simhash for r in simhash(docs(spark), "text", "doc_id").collect()}
    assert out[1] == out[2]
    ham13 = bin(out[1] ^ out[3]).count("1")
    ham14 = bin(out[1] ^ out[4]).count("1")
    assert ham13 < ham14  # near-dup closer than unrelated doc


def test_winnow_fingerprints(spark):
    from lakehouse_tools_spark.ext.dedup import winnow_fingerprints

    fps = winnow_fingerprints(docs(spark), "text", "doc_id", k=8, window=4)
    by_doc = {}
    for r in fps.collect():
        by_doc.setdefault(r.doc_id, set()).add(r.fingerprint)
    # normalization: ws/case dup has the identical fingerprint set
    assert by_doc[1] == by_doc[2]
    # winnowing subsamples: far fewer fingerprints than k-gram positions
    n_positions = len("the quick brown fox jumps over the lazy dog") - 8 + 1
    assert 0 < len(by_doc[1]) < n_positions
    # near-dup shares fingerprints with 1; unrelated doc shares ~none
    inter_near = len(by_doc[1] & by_doc[3])
    inter_far = len(by_doc[1] & by_doc[4])
    assert inter_near > inter_far
    # doc shorter than k still yields exactly one fingerprint
    assert len(by_doc[5]) == 1


def test_decontaminate_exact_and_ngram(spark):
    from pyspark.sql import Row

    from lakehouse_tools_spark.ext.dedup import decontaminate

    corpus = spark.createDataFrame(
        [
            Row(doc_id=1, text="the quick brown fox jumps over the lazy dog"),
            Row(doc_id=2, text="THE QUICK  brown fox JUMPS over the lazy dog"),  # exact dup after norm
            Row(doc_id=3, text="prefix words then the quick brown fox jumps suffix"),  # shares a 5-gram
            Row(doc_id=4, text="completely unrelated content about spark engines"),
            Row(doc_id=5, text="short text"),
        ]
    )
    eval_set = corpus.filter("doc_id = 1")
    clean = decontaminate(corpus, eval_set, ngram=5)
    assert {r.doc_id for r in clean.collect()} == {4, 5}
    # exact-only mode keeps the n-gram overlapper
    exact_only = decontaminate(corpus, eval_set, ngram=None)
    assert {r.doc_id for r in exact_only.collect()} == {3, 4, 5}
    # original columns come back unchanged
    assert set(clean.columns) == {"doc_id", "text"}


def test_containment_vs_jaccard_asymmetry(spark):
    from pyspark.sql import Row
    from lakehouse_tools_spark.ext.dedup import (
        containment_pairs,
        jaccard_pairs,
        word_shingles,
    )

    # doc 1 is fully quoted inside the much larger doc 2: containment
    # of 1-in-2 must be 1.0 while jaccard stays far below it.
    short = "alpha beta gamma delta epsilon"
    long = short + " " + " ".join(f"w{i} x{i} y{i}" for i in range(12))
    df = spark.createDataFrame(
        [Row(doc_id=1, text=short), Row(doc_id=2, text=long)]
    )
    sh = word_shingles(df, "text", "doc_id", k=3)
    c = containment_pairs(sh).collect()
    assert len(c) == 1
    row = c[0]
    assert (row.doc_id, row.doc_id2) == (1, 2)
    assert row.c_1in2 == 1.0 and row.containment == 1.0
    j = jaccard_pairs(sh).collect()[0].jaccard
    assert j < 0.2  # same pair, Jaccard misses the subset relation
    # containment = max of the two directions
    assert row.containment >= row.c_2in1


def test_containment_threshold_and_candidates(spark):
    from pyspark.sql import Row
    from lakehouse_tools_spark.ext.dedup import (
        containment_pairs,
        word_shingles,
    )

    df = spark.createDataFrame(
        [
            Row(doc_id=1, text="one two three four five"),
            Row(doc_id=2, text="one two three four five six seven"),
            Row(doc_id=3, text="totally different words entirely here"),
        ]
    )
    sh = word_shingles(df, "text", "doc_id", k=3)
    allp = containment_pairs(sh)
    assert {(r.doc_id, r.doc_id2) for r in allp.collect()} == {(1, 2)}
    # candidate pruning returns the same verdict for listed pairs
    cand = spark.createDataFrame([Row(doc_id=1, doc_id2=2)])
    pruned = containment_pairs(sh, candidates=cand).collect()
    full = {(r.doc_id, r.doc_id2): r.containment for r in allp.collect()}
    assert len(pruned) == 1 and pruned[0].containment == full[(1, 2)]
    # threshold filters on the max direction
    assert containment_pairs(sh, threshold=1.01).count() == 0


def test_incremental_screen_matches_batch_jaccard_on_cross_pairs(spark):
    from pyspark.sql import functions as F

    from lakehouse_tools_spark.ext import dedup as D

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    corpus = docs.filter(F.col("doc_id") % 2 == 0)
    new = docs.filter(F.col("doc_id") % 2 == 1)
    idx = D.build_dedup_index(corpus, "text", "doc_id")
    got = {
        (r.doc_id, r.doc_id2): r.jaccard
        for r in D.incremental_screen(
            new, corpus, idx, "text", "doc_id", threshold=0.1
        ).collect()
    }
    # reference: the whole-corpus LSH+verify pipeline restricted to
    # new x corpus pairs must agree pair-for-pair (band buckets are a
    # pure per-document function, so splitting the relation cannot
    # change any pair's bucket agreement)
    sh = D.word_shingles(docs, "text", "doc_id", k=3)
    wide = D.minhash_wide_from_shingles(sh, num_hashes=8)
    cand = D.lsh_candidate_pairs_wide(wide, bands=4, rows_per_band=2)
    full = D.jaccard_pairs(sh, candidates=cand, threshold=0.1)
    want = {}
    for r in full.collect():
        a, b = r.doc_id, r.doc_id2
        if a % 2 != b % 2:  # one new, one corpus
            n, c = (a, b) if a % 2 == 1 else (b, a)
            want[(n, c)] = r.jaccard
    assert got == want


def test_incremental_screen_empty_batch_and_index_append(spark):
    from pyspark.sql import functions as F

    from lakehouse_tools_spark.ext import dedup as D

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    corpus = docs.filter(F.col("doc_id") % 2 == 0)
    empty = docs.filter(F.lit(False))
    idx = D.build_dedup_index(corpus, "text", "doc_id")
    assert (
        D.incremental_screen(
            empty, corpus, idx, "text", "doc_id"
        ).count()
        == 0
    )
    # append-only growth: the batch's own bands union into the index
    # and equal rebuilding from scratch
    new = docs.filter(F.col("doc_id") % 2 == 1)
    grown = idx.unionByName(D.build_dedup_index(new, "text", "doc_id"))
    rebuilt = D.build_dedup_index(docs, "text", "doc_id")
    assert grown.exceptAll(rebuilt).count() == 0
    assert rebuilt.exceptAll(grown).count() == 0


def test_source_overlap_bounds_and_identity(spark):
    from pyspark.sql import Row

    from lakehouse_tools_spark.ext.corpus import source_overlap

    docs = spark.createDataFrame(
        [
            Row(doc_id=1, text="alpha beta gamma delta", source="s1"),
            Row(doc_id=2, text="alpha beta gamma delta", source="s2"),
            Row(doc_id=3, text="alpha beta gamma epsilon", source="s3"),
            Row(doc_id=4, text="zeta eta theta iota", source="s4"),
        ]
    )
    out = {
        (r.source_a, r.source_b): r for r in source_overlap(docs).collect()
    }
    # identical sources -> jaccard 1 and both containments 1
    r12 = out[("s1", "s2")]
    assert r12.jaccard == 1.0 and r12.c_a_in_b == 1.0 and r12.c_b_in_a == 1.0
    # partial overlap: s1 has shingles {abg, bgd}, s3 {abg, bge}
    r13 = out[("s1", "s3")]
    assert 0 < r13.jaccard < 1 and r13.n_shared == 1
    # disjoint source never appears in a pair row
    assert not any("s4" in k for k in out)


def test_persist_false_same_results_zero_cache_growth(spark):
    # the persist=False escape hatch (cache-ownership contract shared
    # by jaccard_pairs / containment_pairs / tfidf_keywords /
    # pmi_bigrams) must change ONLY the caching, never the values — and
    # must leave no cached relation behind; unigram_logprob and
    # pagerank cache nothing at all, nor does winnow_pairs by default
    from lakehouse_tools_spark.ext import dedup as D
    from lakehouse_tools_spark.ext import graph as G
    from lakehouse_tools_spark.ext import text as T
    from lakehouse_tools_spark.sources.tables import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents").limit(40)
    sh = D.word_shingles(docs, "text", "doc_id", k=3)

    def rows(df):
        return sorted(map(tuple, df.collect()))

    jsc = spark.sparkContext._jsc.sc()
    knobs = {
        "jaccard_pairs": lambda **kw: D.jaccard_pairs(sh, threshold=0.05, **kw),
        "tfidf_keywords": lambda **kw: T.tfidf_keywords(
            docs, "text", "doc_id", k=2, **kw
        ),
        "pmi_bigrams": lambda **kw: T.pmi_bigrams(docs, "text", "doc_id", **kw),
    }
    for name, op in knobs.items():
        cached = rows(op())
        before = jsc.getPersistentRDDs().size()
        assert rows(op(persist=False)) == cached, name
        assert jsc.getPersistentRDDs().size() <= before, name

    fps = D.winnow_fingerprints(docs, "text", "doc_id", k=8, window=4)
    verts = spark.createDataFrame([(i,) for i in range(5)], "id long")
    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 0), (3, 0)], "src long, dst long"
    )
    no_cache = {
        "unigram_logprob": lambda: T.unigram_logprob(docs, "text", "doc_id"),
        "winnow_pairs": lambda: D.winnow_pairs(fps),
        "pagerank": lambda: G.pagerank(verts, edges),
    }
    for name, op in no_cache.items():
        before = jsc.getPersistentRDDs().size()
        assert rows(op()), name
        assert jsc.getPersistentRDDs().size() == before, name


def test_span_dedup_drops_hot_spans_keeps_order(spark):
    from lakehouse_tools_spark.ext.dedup import span_dedup

    boiler = "the cookie banner text here"  # 5 words = one span at k=5
    docs = spark.createDataFrame(
        [
            (1, boiler + " alpha beta gamma delta epsilon"),
            (2, boiler + " one two three four five"),
            (3, "zeta eta theta iota kappa " + boiler),
            (4, "unique words only in this document here now yes ok"),
        ],
        "doc_id long, text string",
    )
    out = {
        r.doc_id: r
        for r in span_dedup(
            docs, "doc_id", "text", span_words=5, min_doc_freq=2
        ).collect()
    }
    assert len(out) == 4
    # the boilerplate span (present in 3 docs) is dropped everywhere
    assert out[1].n_dropped == 1 and out[1].clean_text == "alpha beta gamma delta epsilon"
    assert out[2].n_dropped == 1 and out[2].clean_text == "one two three four five"
    # order preserved when the hot span is NOT first
    assert out[3].clean_text == "zeta eta theta iota kappa"
    # untouched doc keeps its exact text
    assert out[4].n_dropped == 0
    assert out[4].clean_text == "unique words only in this document here now yes ok"
    for r in out.values():
        assert r.n_spans == r.n_kept + r.n_dropped


def test_span_dedup_min_doc_freq_is_distinct_docs(spark):
    from lakehouse_tools_spark.ext.dedup import span_dedup

    # the span repeats TWICE in one doc but exists in only 1 distinct
    # doc -> not hot at min_doc_freq=2
    docs = spark.createDataFrame(
        [(1, "a b c d e a b c d e"), (2, "f g h i j k l m n o")],
        "doc_id long, text string",
    )
    out = {
        r.doc_id: r
        for r in span_dedup(
            docs, "doc_id", "text", span_words=5, min_doc_freq=2
        ).collect()
    }
    assert out[1].n_dropped == 0 and out[1].clean_text == "a b c d e a b c d e"


def test_span_dedup_delimiter_mode_lines(spark):
    from lakehouse_tools_spark.ext.dedup import span_dedup

    docs = spark.createDataFrame(
        [
            (1, "keep me\nCOPYRIGHT FOOTER\nalso keep"),
            (2, "other content\nCOPYRIGHT FOOTER"),
            (3, "totally unrelated"),
        ],
        "doc_id long, text string",
    )
    out = {
        r.doc_id: r
        for r in span_dedup(
            docs, "doc_id", "text", min_doc_freq=2, delimiter="\n"
        ).collect()
    }
    assert out[1].clean_text == "keep me\nalso keep"
    assert out[2].clean_text == "other content"
    assert out[3].clean_text == "totally unrelated" and out[3].n_dropped == 0


def test_span_dedup_deterministic_across_partitioning(spark):
    from lakehouse_tools_spark.ext.dedup import span_dedup

    docs = spark.createDataFrame(
        [(i, " ".join(f"w{(i * 7 + j) % 23}" for j in range(37))) for i in range(40)],
        "doc_id long, text string",
    )
    a = sorted(map(tuple, span_dedup(docs, "doc_id", "text", span_words=4, min_doc_freq=3).collect()))
    b = sorted(
        map(
            tuple,
            span_dedup(
                docs.repartition(7), "doc_id", "text", span_words=4, min_doc_freq=3
            ).collect(),
        )
    )
    assert a == b


def test_span_dedup_regex_special_delimiter_is_literal(spark):
    # ADVICE r06: '|' '.' '+' reached F.split as Java regex and
    # segmented per-character; the delimiter is now regex-quoted
    from lakehouse_tools_spark.ext.dedup import span_dedup

    docs = spark.createDataFrame(
        [
            (1, "keep me|AD BLOCK|also keep"),
            (2, "other stuff|AD BLOCK"),
            (3, "no pipes at all"),
        ],
        "doc_id long, text string",
    )
    out = {
        r.doc_id: r
        for r in span_dedup(
            docs, "doc_id", "text", min_doc_freq=2, delimiter="|"
        ).collect()
    }
    assert out[1].n_spans == 3 and out[1].clean_text == "keep me|also keep"
    assert out[2].clean_text == "other stuff"
    # '.' as delimiter: pre-fix this split every character away
    docs2 = spark.createDataFrame(
        [(1, "sentence one.SPAM.sentence two"), (2, "more text.SPAM")],
        "doc_id long, text string",
    )
    out2 = {
        r.doc_id: r
        for r in span_dedup(
            docs2, "doc_id", "text", min_doc_freq=2, delimiter="."
        ).collect()
    }
    assert out2[1].clean_text == "sentence one.sentence two"
    assert out2[1].n_spans == 3 and out2[1].n_dropped == 1


def test_span_dedup_null_text_rows_survive(spark):
    # ADVICE r06: posexplode of split(NULL) dropped the row entirely;
    # null-text docs now come back with zero counts and NULL text
    from lakehouse_tools_spark.ext.dedup import span_dedup

    docs = spark.createDataFrame(
        [(1, "shared span here ok yes"), (2, "shared span here ok yes"), (3, None), (4, "")],
        "doc_id long, text string",
    )
    for kwargs in ({"span_words": 5}, {"delimiter": "\n"}):
        out = {
            r.doc_id: r
            for r in span_dedup(
                docs, "doc_id", "text", min_doc_freq=2, **kwargs
            ).collect()
        }
        assert set(out) == {1, 2, 3, 4}, kwargs
        assert out[3].n_spans == 0 and out[3].n_kept == 0 and out[3].n_dropped == 0
        assert out[3].clean_text is None
        # empty string is a real document, distinct from NULL
        assert out[4].n_spans == 1 and out[4].clean_text is not None


def test_source_overlap_materialize_guard_degrades_to_lazy(spark):
    # ADVICE r06: the eager collect is sources^2-bounded only when
    # source cardinality is small; above the guard it must return the
    # lazy plan (and leave no persisted relation behind)
    from lakehouse_tools_spark.ext.corpus import source_overlap

    docs = spark.createDataFrame(
        [(f"s{i}", "alpha beta gamma delta common tail words") for i in range(6)],
        "source string, text string",
    )
    jsc = spark.sparkContext._jsc.sc()
    before = jsc.getPersistentRDDs().size()
    out = source_overlap(docs, "text", "source", max_materialize_sources=3)
    # guard tripped: no cached relation may outlive the call
    assert jsc.getPersistentRDDs().size() <= before
    rows = {(r.source_a, r.source_b): r for r in out.collect()}
    # identical semantics to the materialized path
    mat = {
        (r.source_a, r.source_b): r
        for r in source_overlap(docs, "text", "source").collect()
    }
    assert set(rows) == set(mat)
    for k in rows:
        assert rows[k].jaccard == mat[k].jaccard


def test_quantized_covariance_strict_width_rejects_ragged(spark):
    import pytest as _pytest

    from lakehouse_tools_spark.ext.similarity import quantized_covariance

    ragged = spark.createDataFrame(
        [(1, [0.1, 0.2, 0.3]), (2, [0.4, 0.5, 0.6]), (3, [0.7, 0.8])],
        "id long, embedding array<double>",
    )
    # default first-row probe cannot see the short third row, so only
    # strict_width turns the ragged corpus into a loud failure for
    # BOTH strategies
    for strategy in ("agg", "gram"):
        with _pytest.raises(ValueError, match="ragged"):
            quantized_covariance(
                ragged, "embedding", dims=(0, 1, 2), strategy=strategy,
                strict_width=True,
            )
    # fixed-width corpus passes the strict check
    ok = spark.createDataFrame(
        [(1, [0.1, 0.2]), (2, [0.3, 0.4])], "id long, embedding array<double>"
    )
    res = quantized_covariance(ok, "embedding", dims=(0, 1), strict_width=True)
    assert res.count() == 3


# ---------------------------------------------------------- cluster report


def test_cluster_dedup_report_hand_case(spark):
    from lakehouse_tools_spark.ext.dedup import cluster_dedup_report

    rows = cluster_dedup_report(
        docs(spark), "text", "doc_id", thresholds=(0.25, 0.8)
    ).collect()
    assert [r.threshold for r in rows] == [0.25, 0.8]
    for r in rows:
        # hit set is an intersection; ratios are totals in [0, 1]
        assert r.n_hit_pairs <= min(r.n_pred_pairs, r.n_true_pairs)
        assert 0.0 <= r.pair_precision <= 1.0
        assert 0.0 <= r.pair_recall <= 1.0
        # every clustered doc is edge-incident, so each cluster has
        # >=2 members: collapsed = dup_docs - clusters >= clusters
        # would be too strong, but collapsed >= n_clusters holds for
        # pair-graphs where every component has >=1 collapsible doc
        assert r.n_pred_collapsed >= 0 and r.n_true_collapsed >= 0
    lo, hi = rows[0], rows[1]
    # docs 1+2 are exact dups (jaccard 1.0); doc 3 differs from both
    # in ONE of 7 shingles (jaccard 6/8 = 0.75 exactly), so the 0.25
    # truth set is {12, 13, 23} and the 0.8 truth set is {12} only
    assert lo.n_true_pairs == 3 and hi.n_true_pairs == 1
    assert lo.n_true_clusters == 1 and lo.n_true_collapsed == 2
    assert hi.n_true_clusters == 1 and hi.n_true_collapsed == 1
    # the exact pair (1, 2) agrees on every minhash: predicted and
    # hit at every threshold -> recall of the 0.8 row is exactly 1
    assert hi.n_hit_pairs >= 1 and hi.pair_recall == 1.0


def test_cluster_dedup_report_monotone_thresholds(spark):
    from lakehouse_tools_spark.ext.dedup import cluster_dedup_report

    rows = cluster_dedup_report(
        docs(spark), "text", "doc_id", thresholds=(0.2, 0.5, 0.8)
    ).collect()
    preds = [r.n_pred_pairs for r in rows]
    trues = [r.n_true_pairs for r in rows]
    assert preds == sorted(preds, reverse=True)
    assert trues == sorted(trues, reverse=True)


def test_cluster_dedup_report_no_dups_is_vacuous(spark):
    from pyspark.sql import Row as R

    from lakehouse_tools_spark.ext.dedup import cluster_dedup_report

    df = spark.createDataFrame(
        [
            R(doc_id=1, text="alpha beta gamma delta epsilon"),
            R(doc_id=2, text="zeta eta theta iota kappa"),
        ]
    )
    rows = cluster_dedup_report(
        df, "text", "doc_id", thresholds=(0.5,)
    ).collect()
    (r,) = rows
    assert r.n_true_pairs == 0 and r.n_pred_pairs == 0
    assert r.pair_precision == 1.0 and r.pair_recall == 1.0
    assert r.n_pred_clusters == 0 and r.n_true_clusters == 0
    assert r.n_pred_collapsed == 0 and r.n_true_collapsed == 0


def test_cluster_dedup_report_empty_thresholds_rejected(spark):
    import pytest

    from lakehouse_tools_spark.ext.dedup import cluster_dedup_report

    with pytest.raises(ValueError):
        cluster_dedup_report(docs(spark), "text", "doc_id", thresholds=())
