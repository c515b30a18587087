"""CSV/JSON sources: explicit-schema reads, partitioned writes, roundtrips."""

from __future__ import annotations

import tempfile

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from lakehouse_tools_spark.sources.formats import (
    read_csv,
    read_json,
    roundtrip,
    write_csv,
    write_json,
)


def _rows(df):
    return {tuple(r) for r in df.collect()}


def test_csv_roundtrip_preserves_rows(spark, tables):
    nation = tables["nation"]
    out = roundtrip(nation, tempfile.mkdtemp(prefix="lts_csv_"), "csv")
    assert out.schema == nation.schema
    assert _rows(out) == _rows(nation)


def test_json_roundtrip_preserves_timestamps(spark, tables):
    orders = tables["orders"].limit(200)
    out = roundtrip(orders, tempfile.mkdtemp(prefix="lts_json_"), "json")
    assert out.schema == orders.schema
    assert _rows(out.select("o_orderkey", "o_orderdate")) == _rows(
        orders.select("o_orderkey", "o_orderdate")
    )


def test_read_requires_schema_or_optin(spark):
    with pytest.raises(ValueError, match="explicit schema"):
        read_csv(spark, "/tmp/nowhere")
    with pytest.raises(ValueError, match="explicit schema"):
        read_json(spark, "/tmp/nowhere")


def test_partitioned_write_enables_pruning(spark):
    df = spark.createDataFrame(
        [Row(k=i % 3, v=i) for i in range(30)]
    )
    path = tempfile.mkdtemp(prefix="lts_part_")
    write_json(df, path, partition_by=("k",))
    back = read_json(spark, path, schema="v long, k int")
    assert back.count() == 30
    # partition column filter must prune to one directory, not scan all
    pruned = back.filter(F.col("k") == 1)
    assert pruned.count() == 10
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(k" in plan


def test_orc_roundtrip_preserves_rows_and_prunes(spark, tables):
    li = tables["lineitem"]
    out = roundtrip(li, tempfile.mkdtemp(prefix="lts_orc_"), "orc")
    assert out.count() == li.count()
    assert li.exceptAll(out.select(li.columns)).count() == 0
    # columnar format: projection reaches the ORC scan
    plan = (
        out.select("l_orderkey")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "l_quantity" not in plan.split("ReadSchema")[-1][:200]


def test_binary_export_and_scan_roundtrip(spark):
    from lakehouse_tools_spark.sources.formats import export_binary, read_binary

    df = spark.createDataFrame(
        [Row(doc_id=1, text="hello"), Row(doc_id=2, text="héllo wörld")]
    )
    path = tempfile.mkdtemp(prefix="lts_bin_")
    manifest = export_binary(df, "doc_id", "text", path).collect()
    assert {(m.doc_id, m.file_name, m.n_bytes) for m in manifest} == {
        (1, "1.bin", 5),
        (2, "2.bin", 13),  # two 2-byte UTF-8 chars
    }
    back = read_binary(spark, path, glob="*.bin")
    rows = {
        (r.path.rsplit("/", 1)[-1], bytes(r.content)) for r in back.collect()
    }
    assert rows == {
        ("1.bin", b"hello"),
        ("2.bin", "héllo wörld".encode("utf-8")),
    }


def test_ensure_parallelism_is_size_aware(spark, tmp_path):
    # the guard must size task count by source_bytes x expansion (the
    # operator's row multiplier), not core count alone — the r07
    # scaling harness measured the partial-agg sort+spill cliff that
    # core-count-only sizing produces on melted high-cardinality
    # tables (SCALING.md r07)
    from lakehouse_tools_spark.sources.tables import ensure_parallelism

    n = spark.sparkContext.defaultParallelism
    path = str(tmp_path / "sized.parquet")
    # ~3-6 MB on disk: above the 1 MB tiny guard, and incompressible
    # so the size estimate is stable
    spark.range(400_000).selectExpr(
        "id", "md5(cast(id as string)) as a", "md5(cast(id+1 as string)) as b"
    ).coalesce(1).write.parquet(path)
    df = spark.read.parquet(path)
    import os

    total = sum(
        os.path.getsize(os.path.join(path, f))
        for f in os.listdir(path)
        if f.endswith(".parquet")
    )
    assert total > (1 << 20)
    # expansion=1: core-count floor applies
    assert ensure_parallelism(df).rdd.getNumPartitions() == n
    # a multiplier large enough that bytes x expansion spans >n slots
    # of 128 MB: the guard must scale the task count up with it
    expansion = (200 * (128 << 20)) / total
    got = ensure_parallelism(df, expansion=expansion).rdd.getNumPartitions()
    assert got == 200
    # ...and the 64x-cores ceiling must cap a degenerate estimate
    got_capped = ensure_parallelism(
        df, expansion=expansion * 1000
    ).rdd.getNumPartitions()
    assert got_capped == n * 64
    # row set unchanged by the repartition
    assert ensure_parallelism(df, expansion=expansion).count() == 400_000


def test_ensure_parallelism_estimates_unstatable_files(spark, tmp_path, monkeypatch):
    # ADVICE r07: on S3/HDFS the driver cannot stat file sizes; the
    # guard must estimate each unstatable file at one
    # spark.sql.files.maxPartitionBytes split so the expansion term
    # still sizes the task count (instead of silently falling back to
    # the core-count floor and reopening the melt spill cliff)
    from lakehouse_tools_spark.sources import tables as tbl

    n = spark.sparkContext.defaultParallelism
    path = str(tmp_path / "unstat.parquet")
    spark.range(400_000).selectExpr(
        "id", "md5(cast(id as string)) as a"
    ).coalesce(1).write.parquet(path)
    df = spark.read.parquet(path)
    real_getsize = tbl.os.path.getsize

    def deny(p):
        if "unstat.parquet" in str(p):
            raise OSError("simulated remote path")
        return real_getsize(p)

    monkeypatch.setattr(tbl.os.path, "getsize", deny)
    # 1 unstatable file estimated at maxPartitionBytes (=128 MB here)
    # -> bytes x expansion / 128 MB = expansion slots exactly
    got = tbl.ensure_parallelism(df, expansion=3 * n).rdd.getNumPartitions()
    assert got == 3 * n
    # expansion=1 on one estimated split stays at the core floor
    assert tbl.ensure_parallelism(df).rdd.getNumPartitions() == n


def test_ensure_parallelism_one_rule(spark, tmp_path):
    # the guard's one rule, case by case: (input, keys, expansion) ->
    # partition count; a keyed repartition must hash on the key, and
    # every left-alone case must return the input relation itself
    import os

    from lakehouse_tools_spark.sources.tables import ensure_parallelism

    n = spark.sparkContext.defaultParallelism
    tiny = str(tmp_path / "tiny.parquet")
    spark.range(100).coalesce(1).write.parquet(tiny)
    tiny_bytes = sum(
        os.path.getsize(os.path.join(tiny, f))
        for f in os.listdir(tiny)
        if f.endswith(".parquet")
    )
    many = str(tmp_path / "many.parquet")
    spark.range(100 * n).repartition(n).write.parquet(many)
    mem = spark.createDataFrame([(i,) for i in range(10)], "id long")
    read = spark.read.parquet
    one_slot = 128 << 20
    cases = [
        # (case, input, keys, expansion, partitions or None = left alone)
        ("not file-backed", mem, ("id",), 1.0, None),
        ("single tiny file, keyed", read(tiny), ("id",), 1.0, n if n > 1 else None),
        ("single tiny file, unkeyed", read(tiny), (), 1.0, None),
        (">= cores files, keyed", read(many), ("id",), 1.0, None),
        (
            "sized multi-slot",
            read(tiny),
            ("id",),
            3 * n * one_slot / tiny_bytes,
            3 * n,
        ),
    ]
    for case, df, keys, expansion, want in cases:
        out = ensure_parallelism(df, *keys, expansion=expansion)
        if want is None:
            assert out is df, case
            want = df.rdd.getNumPartitions()
        else:
            plan = out._jdf.queryExecution().executedPlan().toString()
            assert "hashpartitioning(id" in plan, case
        assert out.rdd.getNumPartitions() == want, case


def test_parse_bytes_conf_forms():
    from lakehouse_tools_spark.sources.tables import (
        _BYTES_PER_TASK,
        _parse_bytes_conf,
    )

    assert _parse_bytes_conf("134217728") == 128 << 20
    assert _parse_bytes_conf("134217728b") == 128 << 20
    assert _parse_bytes_conf("128m") == 128 << 20
    assert _parse_bytes_conf("128MB") == 128 << 20
    assert _parse_bytes_conf("1g") == 1 << 30
    assert _parse_bytes_conf(None) == _BYTES_PER_TASK
    assert _parse_bytes_conf("garbage") == _BYTES_PER_TASK


def test_footer_schema_memo_hits_and_invalidates(spark, tmp_path):
    # r12: load_table passes an explicit schema from an in-process
    # footer memo (metadata only) instead of re-inferring per call;
    # the memo must be keyed on file identity so a rewritten file
    # (new mtime/size) re-infers rather than serving a stale schema.
    import os

    from pyspark.sql import Row

    from lakehouse_tools_spark.sources import tables as src

    p = str(tmp_path / "t.parquet")
    spark.createDataFrame([Row(a=1, b="x")]).coalesce(1).write.mode(
        "overwrite"
    ).parquet(p)
    # directory-shaped dataset: never memoized (parts can churn)
    assert src._parquet_schema(spark, p) is not None
    assert not any(k[0] == os.path.abspath(p) for k in src._FOOTER_SCHEMA_CACHE)

    # single-file dataset: memoized, then invalidated on rewrite
    part = [
        f for f in os.listdir(p) if f.endswith(".parquet") and f.startswith("part")
    ][0]
    f1 = str(tmp_path / "one.parquet")
    os.rename(os.path.join(p, part), f1)
    s1 = src._parquet_schema(spark, f1)
    key1 = [k for k in src._FOOTER_SCHEMA_CACHE if k[0] == os.path.abspath(f1)]
    assert len(key1) == 1
    assert src._parquet_schema(spark, f1) is s1  # hit: same object back

    spark.createDataFrame([Row(a=1, b="x", c=2.5)]).coalesce(1).write.mode(
        "overwrite"
    ).parquet(p)
    part2 = [
        f for f in os.listdir(p) if f.endswith(".parquet") and f.startswith("part")
    ][0]
    os.replace(os.path.join(p, part2), f1)
    s2 = src._parquet_schema(spark, f1)
    assert "c" in s2.fieldNames()  # re-inferred, not the stale memo
    assert s2 is not s1
    # ADVICE r12: the rewrite evicted the stale stat-key — at most one
    # footer entry per distinct path
    assert (
        len([k for k in src._FOOTER_SCHEMA_CACHE if k[0] == os.path.abspath(f1)])
        == 1
    )


def test_load_table_schema_matches_inference(spark):
    # the memoized-schema read must see exactly what inference sees
    from lakehouse_tools_spark.sources.tables import DEFAULT_SF_DIR, load_table

    sf = "/root/testdata/sf0.001"
    for t in ("lineitem", "events", "embeddings"):
        got = load_table(spark, sf, t)
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        raw = spark.read.parquet(f"{sf}/{t}.parquet")
        # load_table post-normalizes NTZ/nanos; compare the raw footer
        from lakehouse_tools_spark.sources.tables import _parquet_schema

        assert _parquet_schema(spark, f"{sf}/{t}.parquet") == raw.schema, t
        assert got.count() == raw.count(), t


def test_table_plan_memo_hits_invalidates_and_stays_lazy(spark, tmp_path):
    # r12 §11: load_table memoizes the built JVM plan for an
    # unchanged regular file and serves a toDF() CLONE per call —
    # lazy metadata only. Distinct handles, same data; a rewritten
    # file (new mtime) rebuilds; and actions on a served clone read
    # the file's CURRENT bytes (nothing is result-cached).
    import os

    from pyspark.sql import Row

    from lakehouse_tools_spark.sources import tables as src

    d = str(tmp_path)
    f1 = os.path.join(d, "t.parquet")
    tmp = os.path.join(d, "_w")
    spark.createDataFrame([Row(a=i) for i in range(5)]).coalesce(1).write.mode(
        "overwrite"
    ).parquet(tmp)
    part = [p for p in os.listdir(tmp) if p.startswith("part")][0]
    os.rename(os.path.join(tmp, part), f1)

    def path_keys():
        return [
            k
            for per in src._TABLE_PLAN_CACHE.values()
            for k in per
            if k[0] == os.path.abspath(f1)
        ]

    h1 = src.load_table(spark, d, "t")
    key1 = path_keys()
    assert len(key1) == 1
    h2 = src.load_table(spark, d, "t")
    assert h2 is not h1  # fresh handle (own dataset id) per call
    assert h2.schema == h1.schema and h2.count() == 5
    assert len(path_keys()) == 1  # second call was a hit, not a rebuild

    # rewrite -> new key -> rebuilt plan sees the new rows, and the
    # STALE entry is evicted (ADVICE r12): only the latest stat-key
    # per path survives, so the replaced JVM Dataset is released
    spark.createDataFrame([Row(a=i) for i in range(7)]).coalesce(1).write.mode(
        "overwrite"
    ).parquet(tmp)
    part = [p for p in os.listdir(tmp) if p.startswith("part")][0]
    os.replace(os.path.join(tmp, part), f1)
    assert src.load_table(spark, d, "t").count() == 7
    key2 = path_keys()
    assert len(key2) == 1
    assert key2 != key1


def test_table_plan_cache_dead_session_entries_evicted():
    # VERDICT r12 item 8: the plan cache weak-keys on the session, so
    # a stopped-and-dropped session releases every JVM Dataset it
    # pinned instead of leaking them for the life of the process.
    import gc

    from lakehouse_tools_spark.sources import tables as src

    class FakeSession:
        pass

    s = FakeSession()
    src._TABLE_PLAN_CACHE[s] = {("dead-path", 1, 2): object()}
    assert any(
        ("dead-path", 1, 2) in per for per in src._TABLE_PLAN_CACHE.values()
    )
    del s
    gc.collect()
    assert not any(
        ("dead-path", 1, 2) in per for per in src._TABLE_PLAN_CACHE.values()
    )


def test_table_plan_memo_self_join_via_alias(spark):
    # Two loads of one unchanged file share lineage (clone of one
    # plan), so a column-object self-join needs .alias() per side —
    # the standard Spark self-join discipline. Pin that the aliased
    # form works and is correct.
    from pyspark.sql import functions as F

    from lakehouse_tools_spark.sources.tables import load_table

    sf = "/root/testdata/sf0.001"
    a = load_table(spark, sf, "region").alias("a")
    b = load_table(spark, sf, "region").alias("b")
    j = a.join(b, F.col("a.r_regionkey") == F.col("b.r_regionkey")).select(
        F.col("a.r_regionkey")
    )
    assert j.count() == load_table(spark, sf, "region").count()
