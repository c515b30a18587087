"""Physical-plan regression guards — the 100 TB properties.

These assert what ``.explain`` shows today so a refactor can't
silently lose predicate pushdown, column pruning, or broadcast
joins. String-matching executed plans is blunt but effective: each
assertion is a property that changes job cost by orders of magnitude
at scale.
"""

from __future__ import annotations

import re

import __spark_entry__ as E

SF = "/root/testdata/sf0.001"


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_q1_filter_pushed_to_scan(spark):
    p = plan_of(E.q_tpch_q1(spark, SF))
    assert re.search(r"PushedFilters: \[[^\]]*LessThanOrEqual\(l_shipdate", p)


def test_q1_prunes_unused_columns(spark):
    p = plan_of(E.q_tpch_q1(spark, SF))
    rs = re.search(r"ReadSchema: (struct<[^\n]*)", p).group(1)
    for unused in ("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber"):
        assert unused not in rs


def test_q3_broadcasts_small_sides(spark):
    p = plan_of(E.q_tpch_q3(spark, SF))
    assert p.count("BroadcastHashJoin") == 2
    assert "SortMergeJoin" not in p
    # customer scan reads only its join key + pushed-filter column
    assert "struct<c_custkey:bigint,c_mktsegment:string>" in p


def test_q5_all_joins_broadcast_at_test_scale(spark):
    p = plan_of(E.q_tpch_q5(spark, SF))
    assert p.count("BroadcastHashJoin") == 5
    assert re.search(r"PushedFilters: \[[^\]]*GreaterThanOrEqual\(o_orderdate", p)


def test_minhash_reads_two_columns_only(spark):
    p = plan_of(E.q_dedup_minhash(spark, SF))
    assert "struct<doc_id:bigint,text:string>" in p


def test_profile_has_no_joins(spark):
    # one scan + one aggregate per table; the reference's 37-branch
    # union-of-aggregates shape must never come back
    p = plan_of(E.q_profile_intended(spark, SF))
    assert "Join" not in p


def test_profile_topk_join_free_and_bounded(spark):
    # the top-k cap is one row_number window over the aggregated
    # counts — still zero joins, and the output is bounded by
    # K x n_columns regardless of column cardinality
    df = E.q_profile_topk(spark, SF)
    p = plan_of(df)
    assert "Join" not in p
    assert "Window" in p
    ncols = sum(len(cols) for t, cols in E.FIXTURE_SCHEMAS.items() if t in E.PROFILE_TABLES)
    assert df.count() <= 5 * ncols


def test_exact_dedup_shuffles_fingerprints_not_text(spark):
    p = plan_of(E.q_dedup_exact(spark, SF))
    m = re.search(r"Exchange hashpartitioning\(([^,]*)", p)
    assert m and "fp" in m.group(1)  # shuffle key is the md5, not text


def test_bucketed_join_has_no_shuffle(spark):
    # co-located join: both sides bucketed on the key with the same
    # bucket count -> join plans with ZERO Exchange (the storage-side
    # shuffle elimination save_bucketed exists for)
    from pyspark.sql import Row

    from lakehouse_tools_spark.operators.writer import save_bucketed

    facts = spark.createDataFrame([Row(k=i % 50, x=i) for i in range(1000)])
    dims = spark.createDataFrame([Row(k=i, name=f"d{i}") for i in range(50)])
    save_bucketed(facts, "t_bkt_facts", ["k"], num_buckets=8)
    save_bucketed(dims, "t_bkt_dims", ["k"], num_buckets=8)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = spark.table("t_bkt_facts").join(spark.table("t_bkt_dims"), "k")
        p = plan_of(joined)
        assert "Exchange" not in p
        assert joined.count() == 1000
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "20971520")


def test_q19_part_disjunction_pushed_to_scan(spark):
    # the part-only half of each OR conjunct (brand+size) must reach
    # the part scan as a pushed Or filter; lineitem reads 4 columns
    p = plan_of(E.q_tpch_q19(spark, SF))
    assert re.search(r"PushedFilters: \[[^\]]*Or\(", p)
    assert "struct<l_partkey:bigint,l_quantity:double,l_extendedprice:double,l_discount:double>" in p


def test_q7_nation_filter_prunes_before_join(spark):
    # the two-nation In() filter must be pushed into the nation scans,
    # not evaluated post-join
    p = plan_of(E.q_tpch_q7(spark, SF))
    assert re.search(r"PushedFilters: \[[^\]]*In\(n_name", p)
    assert p.count("BroadcastHashJoin") >= 3


def test_q13_single_exchange_for_join_and_first_agg(spark):
    # groupBy on the join key must reuse the join's hash partitioning:
    # exchanges = join input sides only, no extra one before agg#1
    p = plan_of(E.q_tpch_q13(spark, SF))
    n_exchange = p.count("Exchange hashpartitioning")
    assert n_exchange <= 3, p  # cust side + orders side + final tiny agg
    assert "LeftOuter" in p or "left_outer" in p.lower()


def test_range_join_is_equi_not_nested_loop(spark):
    p = plan_of(E.q_events_range_join(spark, SF))
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_jaccard_flagship_is_lsh_pruned_not_quadratic(spark):
    # the composed LSH→Jaccard query must score candidates from
    # per-doc shingle sets: no join keyed on shingle at all (so never
    # the quadratic shingle-only self-join — keys = [shingle] with a
    # doc_id< residual — the O(n²) hot-bucket scale-killer), and
    # every shingle-set aggregate reads the shingles only through a
    # broadcast left-semi on the candidate doc ids (the LSH pruning)
    p = plan_of(E.q_dedup_jaccard(spark, SF))
    assert not re.search(r"Join \[shingle#\d+\], \[shingle#\d+\]", p), p
    assert not re.search(r"Join \[[^\]]*shingle#", p), p
    pruned = re.findall(
        r"partial_collect_set\(shingle#\d+[^\n]*\n[ :|]*\+- "
        r"BroadcastHashJoin \[doc_id#\d+L?\], \[doc_id#\d+L?\], LeftSemi",
        p,
    )
    assert pruned and len(pruned) == p.count("partial_collect_set("), p


def _contraction_levels(spark, table: str) -> int:
    """mapInPandas passes of connected_components_contract's ladder
    over ``table``: one per forest level while P > 1, plus the final."""
    from lakehouse_tools_spark.ext.graph import _sized_start_partitions
    from lakehouse_tools_spark.sources.tables import load_table

    p, levels = _sized_start_partitions(load_table(spark, SF, table)), 1
    while p > 1:
        p, levels = p // 8, levels + 1
    return levels


def test_collapse_queries_run_the_contraction_ladder_once(spark):
    # the representative is the cluster id, so the collapse is one
    # groupBy over the assignment; a reps ⋈ sizes form gives the
    # assignment two consumers and plans the whole ladder twice
    for q, table in (
        (E.q_dedup_collapse, "documents"),
        (E.q_semantic_dedup, "embeddings"),
    ):
        p = plan_of(q(spark, SF))
        assert p.count("MapInPandas") == _contraction_levels(spark, table), p


def test_funnel_is_single_scan_no_join(spark):
    p = plan_of(E.q_events_funnel(spark, SF))
    assert "Join" not in p
    assert p.count("Scan parquet") == 1


def test_pivot_is_join_free_two_phase(spark):
    p = plan_of(E.q_events_pivot(spark, SF))
    assert "Join" not in p
    # Spark's pivot is two-phase: aggregate on (group, pivot) then
    # regroup on group — exactly two exchanges, never a join and never
    # a distinct-discovery job (the value list is explicit)
    assert p.count("Exchange") == 2


def test_mixture_is_filters_only(spark):
    # per-source fraction comes from a count JOB, but the returned
    # mixture plan itself is a union of pushdown filters — no shuffle
    p = plan_of(E.q_corpus_mixture(spark, SF))
    assert "Exchange" not in p and "Join" not in p


def test_asof_is_one_shuffle_no_join(spark):
    # the union-tag formulation: ONE exchange (the keyed window
    # shuffle), zero join operators — tolerance must not add a join
    for q in (E.q_asof_join, E.q_asof_tolerance):
        p = plan_of(q(spark, SF))
        assert p.count("Exchange") == 1
        assert "Join" not in p


def test_decontaminate_joins_are_all_broadcast(spark):
    # eval-set relations are the broadcast side everywhere; the corpus
    # must never sort-merge/shuffle-hash against them
    p = plan_of(E.q_corpus_decontaminate(spark, SF))
    assert p.count("BroadcastHashJoin") == 3
    assert "SortMergeJoin" not in p and "ShuffledHashJoin" not in p


def test_corpus_prepare_single_scan(spark):
    # quality + language + fingerprint fused: documents scanned once
    p = plan_of(E.q_corpus_prepare(spark, SF))
    assert p.count("documents.parquet") <= 1 or p.count("FileScan") == 1


def test_partitioned_read_prunes_partitions(spark):
    # a filter on the partition column must land in PartitionFilters
    # (planning-time directory pruning), not in the data filters —
    # at scale this is a listing, not a scan.
    from lakehouse_tools_spark.sources.formats import (
        read_partitioned,
        write_partitioned,
    )
    from lakehouse_tools_spark.sources.tables import load_table
    from pyspark.sql import functions as F

    docs = load_table(spark, SF, "documents")
    path = E._warehouse_path(spark, "_io", "_plans_partitioned")
    write_partitioned(docs, path, ["lang"])
    back = read_partitioned(spark, path).filter(F.col("lang") == "en")
    plan = plan_of(back)
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "lang" in m.group(1)
    pushed = re.search(r"PushedFilters: \[([^\]]*)\]", plan)
    assert pushed is None or "lang" not in pushed.group(1)


def test_interval_overlap_join_is_equi_not_nested_loop(spark):
    # interval x interval must plan as an equi join on the bucket id
    # (hash/merge family), never BroadcastNestedLoop/Cartesian — the
    # whole point of the owner-bucket binning.
    plan = plan_of(E.queries()["events_interval_join"](spark, SF))
    assert "NestedLoop" not in plan and "Cartesian" not in plan
    assert ("BroadcastHashJoin" in plan or "ShuffledHashJoin" in plan
            or "SortMergeJoin" in plan)


def test_centroids_single_exchange_partial_agg(spark):
    # the posexplode must feed a partial aggregate INSIDE the scan
    # stage: exactly one Exchange, carrying labels x dim combined
    # rows — rows x dim never crosses a shuffle.
    plan = plan_of(E.queries()["sim_centroids"](spark, SF))
    assert plan.count("Exchange") == 1
    assert "partial" in plan.lower()


def test_containment_no_cartesian(spark):
    # shares jaccard's shingle equi-join core: pairs come from the
    # shingle match, never an all-pairs product
    plan = plan_of(E.queries()["dedup_containment"](spark, SF))
    assert "Cartesian" not in plan and "NestedLoop" not in plan


def test_tfidf_consumers_read_the_cached_tf(spark):
    # the persisted TF relation must serve both consumers (the scored
    # join and the DF aggregate) from cache: at least two
    # InMemoryTableScans in the plan — the pre-fix plan re-ran the
    # tokenize->explode->groupBy pipeline per consumer with zero
    # cache reads. (Raw Scan-parquet counts mislead here: the plan
    # string reprints the cache's child scan per InMemoryRelation.)
    plan = plan_of(E.queries()["text_keywords"](spark, SF))
    assert plan.count("InMemoryTableScan") >= 2


def test_logprob_plan_reads_no_cache(spark):
    # the unigram-LM scorer recomputes its token and vocabulary
    # relations instead of caching them (a paired A/B measured the
    # persists no faster per call), so its plan holds no InMemoryRelation
    plan = plan_of(E.queries()["text_logprob"](spark, SF))
    assert "InMemoryRelation" not in plan


def test_drift_ks_prunes_to_melted_columns(spark):
    # the KS melt reads only event_id (the split key) + the two
    # profiled columns — not ts/event_type/props
    p = plan_of(E.q_drift_ks(spark, SF))
    rs = re.search(r"ReadSchema: (struct<[^\n]*)", p).group(1)
    for unused in ("ts", "event_type", "props"):
        assert unused not in rs
    for used in ("event_id", "user_id", "value"):
        assert used in rs


def test_covariance_gram_plan_is_trivial(spark):
    # the auto strategy at d=16 must take the Gram path: a single
    # Arrow-eval stage over a one-column scan — no wide aggregate
    # (the 'agg' strategy's 153 sum branches), no exchange
    from pyspark.sql import functions as F

    from lakehouse_tools_spark.ext.similarity import quantized_covariance

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    df = quantized_covariance(emb, "embedding", dims=tuple(range(16)))
    # result is a driver-built literal relation: scan-free plan
    p = plan_of(df)
    assert "FileScan" not in p and "Exchange" not in p


def test_pca_error_report_single_pass_shape(spark):
    # one corpus scan for fit(+stats) and one for the projection
    # residual: the report itself is a literal one-row relation
    p = plan_of(E.q_pca_error_report(spark, SF))
    assert "FileScan" not in p  # all heavy lifting happened upstream


def test_incremental_screen_no_cartesian_all_broadcast(spark):
    # candidates come from the (band, bucket) equi-join and the
    # verify stage is candidate-pruned broadcast joins — a cartesian
    # or sort-merge join here would mean the prune was lost
    p = plan_of(E.q_dedup_incremental(spark, SF))
    assert "CartesianProduct" not in p
    assert "SortMergeJoin" not in p


def test_source_overlap_prunes_to_text_and_source(spark):
    # the corpus collapses to distinct (source, shingle) before any
    # join; the scan must read only text + source. Pin the LAZY form
    # (materialize=False): the public default computes eagerly and
    # returns a local relation, so the inner plan is only inspectable
    # through the lazy escape hatch.
    from lakehouse_tools_spark.ext.corpus import source_overlap
    from lakehouse_tools_spark.sources.tables import load_table

    docs = load_table(spark, SF, "documents")
    p = plan_of(source_overlap(docs, materialize=False))
    assert "CartesianProduct" not in p
    rs = set(re.findall(r"ReadSchema: (struct<[^\n]*)", p))
    assert rs == {"struct<text:string,source:string>"}
    # and the default form is leak-free: a local relation with no
    # scan, and no NET growth of the session's cached relations
    # (compare before/after — the shared session may carry persists
    # from other tests)
    jsc = spark.sparkContext._jsc.sc()
    before = jsc.getPersistentRDDs().size()
    p2 = plan_of(E.q_source_overlap(spark, SF))
    assert "FileScan" not in p2
    assert jsc.getPersistentRDDs().size() <= before


def test_ann_lsh_bucket_join_broadcast_never_all_pairs(spark):
    # SCALING.md "Similarity search": the ANN scale path joins
    # corpus buckets to query buckets — the query side is k-bounded
    # and must broadcast; a CartesianProduct or sort-merge here is
    # the all-pairs form the LSH bucketing exists to avoid
    p = plan_of(E.q_sim_ann_lsh(spark, SF))
    assert "CartesianProduct" not in p
    assert "SortMergeJoin" not in p
    assert "BroadcastHashJoin" in p


def test_span_dedup_zero_sortmerge_one_broadcast(spark):
    # SCALING.md "Span-level dedup" plan audit, now pinned: the hot
    # set (boilerplate is a vanishing fraction of distinct spans)
    # joins back BROADCAST; a sort-merge join here means the
    # candidate prune or AQE sizing was lost and the reassembly
    # would pay a corpus-wide shuffle sort at 100 TB
    p = plan_of(E.q_corpus_span_dedup(spark, SF))
    assert "SortMergeJoin" not in p
    assert p.count("BroadcastHashJoin") == 1
    assert "CartesianProduct" not in p


def test_pysource_pushdown_prunes_at_planning_time(spark):
    # the custom Python DataSource's filter pushdown (sources/
    # pysource.py pushFilters -> partitions) must prune whole
    # key-range slices BEFORE tasks launch when opted in (pruning is
    # opt-in since r08: Spark 4.1 stores the last filtered scan's
    # planning on the shared relation, so a pushed-down load is
    # single-use — test_pysource pins the hazard): the planned
    # partition count shrinks with the range, the scan node is the
    # Python source, and the filter is still re-applied post-scan
    from lakehouse_tools_spark.sources.pysource import (
        read_synthetic_events,
    )
    import pyspark.sql.functions as F

    narrow = read_synthetic_events(
        spark, rows=1000, partitions=8, pushdown=True
    ).filter(F.col("event_id") < 125)
    assert narrow.rdd.getNumPartitions() <= 2
    p = plan_of(narrow)
    assert "PythonScan" in p or "BatchScan" in p
    assert re.search(r"Filter .*event_id", p)
    # default (no pushdown): full partition grid survives any filter
    full = read_synthetic_events(spark, rows=1000, partitions=8).filter(
        F.col("event_id") < 125
    )
    assert full.rdd.getNumPartitions() == 8


def test_budget_select_no_persist_no_single_partition_window(spark):
    # the r08 rewrite (ext/corpus.budget_select): the two-phase global
    # cumsum must run over driver-computed quantile BUCKETS — a hash
    # exchange on _bkt feeding a partitioned Window — with no cached
    # relation in the plan (persist-free by design) and never an
    # unpartitioned single-partition window funnel
    p = plan_of(E.q_corpus_budget_select(spark, SF))
    assert "InMemoryRelation" not in p  # no persist survives the call
    assert "SinglePartition" not in p
    assert re.search(r"Window .*windowspecdefinition\(_bkt", p)
    # scan prunes to the two consumed columns
    assert re.search(r"ReadSchema: struct<doc_id:bigint,n_chars:bigint>", p)


def test_benford_shuffle_is_digit_sized_and_total_broadcasts(spark):
    # the 9-digit aggregate must partial-aggregate map-side (the
    # shuffle carries <= 9 rows per map partition) and the grand
    # total must come back as a BROADCAST nested loop over one row --
    # never a sort-merge or a shuffled join, and never a second
    # un-combined pass over the fact table.
    plan = plan_of(E.queries()["profile_benford"](spark, SF))
    assert "BroadcastNestedLoopJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "partial" in plan.lower()
    # ReadSchema pruned to the single profiled column
    import re as _re

    rs = _re.search(r"ReadSchema: (struct<[^\n]*)", plan).group(1)
    assert "l_extendedprice" in rs and "l_orderkey" not in rs


def test_pattern_match_single_exchange_projects_before_group(spark):
    # ONE shuffle total (the groupBy), and the scan is pruned to the
    # four columns the operator projects -- the sequence build must
    # not window-sort (zero Window nodes) or drag unused event
    # columns through the exchange.
    plan = plan_of(E.queries()["events_pattern"](spark, SF))
    assert plan.count("Exchange") == 1
    assert "Window" not in plan
    import re as _re

    rs = _re.search(r"ReadSchema: (struct<[^\n]*)", plan).group(1)
    assert "value" not in rs and "props" not in rs


def test_apply_bpe_encodes_distributed_no_driver_dictionary(spark):
    """Pin the r10 de-weakening of the BPE encode route: the plan must
    carry a MapInPandas node (the distributed vocab encode) and a join
    back to per-(doc, word) counts — and must NOT embed a data-derived
    word->tokens map literal (the removed driver-side create_map form,
    whose size grew with the corpus's distinct-word count)."""
    from lakehouse_tools_spark.ext.text import apply_bpe
    from lakehouse_tools_spark.sources.tables import load_table

    docs = load_table(spark, SF, "documents")
    plan = plan_of(apply_bpe(docs, "text", "doc_id", [("a", "b")]))
    assert "MapInPandas" in plan
    assert "Join" in plan
    # the old shape folded the whole vocabulary into one projection
    # literal; any map literal in the new plan would resurrect it
    assert "map_from_arrays" not in plan and "map(keys:" not in plan


def test_fd_approx_plans_no_expand(spark, tables):
    """approx=True is the documented 100 TB path BECAUSE it avoids the
    exact mode's Expand row replication (HLL partials are fixed-size,
    mergeable map-side) — pin that the plan really has no Expand and
    still runs one scan, no joins."""
    from lakehouse_tools_spark.operators.dependencies import fd_candidates

    plan = plan_of(
        fd_candidates(
            tables["orders"],
            [("o_orderkey", "o_custkey"), ("o_custkey", "o_orderstatus")],
            approx=True,
        )
    )
    assert "Expand" not in plan
    assert plan.count("Scan parquet") == 1
    assert "Join" not in plan


def test_rows_only_audit_exemptions_are_consistent():
    """Every rows-only (no-oracle) registered query is DECLARED in
    ROWS_ONLY_AUDIT_COMPANIONS and vouched for by an oracle-backed
    companion (VERDICT r12: close the no_oracle gap with a declared
    audit exemption) — and nothing else is exempted."""
    import __spark_entry__ as E

    rows_only = set(E.queries()) - set(E.oracle_sql())
    assert rows_only == set(E.ROWS_ONLY_AUDIT_COMPANIONS)
    for q, companion in E.ROWS_ONLY_AUDIT_COMPANIONS.items():
        assert companion in E.oracle_sql(), (q, companion)
        assert companion in E.queries(), (q, companion)
