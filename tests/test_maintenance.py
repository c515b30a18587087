"""Layout rewrites (reference O1: OPTIMIZE ZORDER, dbc cell@9.0/10.0)."""

from __future__ import annotations

from lakehouse_tools_spark.operators.maintenance import compact, zorder_layout


def test_zorder_preserves_rowset(spark, tables):
    li = tables["lineitem"]
    out = zorder_layout(li, ["l_returnflag", "l_shipdate"])
    assert out.count() == li.count()
    assert li.exceptAll(out.select(li.columns)).count() == 0


def test_zorder_clusters_leading_column(spark, tables):
    # Within every partition the leading Z column must be sorted —
    # that ordering is what gives parquet min/max file skipping.
    out = zorder_layout(tables["lineitem"], ["l_returnflag"], num_partitions=4)

    def check(it):
        vals = [r.l_returnflag for r in it]
        yield vals == sorted(vals)

    assert all(out.rdd.mapPartitions(check).collect())


def test_compact_sets_partition_count(spark, tables):
    assert compact(tables["lineitem"], 3).rdd.getNumPartitions() == 3


def test_compact_small_files_preserves_rows_and_shrinks(spark, tables, tmp_path):
    from lakehouse_tools_spark.operators.maintenance import compact_small_files

    path = str(tmp_path / "frag")
    nation = tables["nation"]
    nation.repartition(20).write.parquet(path)
    before = sorted(spark.read.parquet(path).collect())
    report = compact_small_files(spark, path, target_file_bytes=64 * 1024 * 1024)
    assert report["files_before"] == 20
    assert report["files_after"] == 1
    after = sorted(spark.read.parquet(path).collect())
    assert after == before
    import os

    # staging and backup dirs are gone after the swap
    assert not os.path.exists(path + "__compacting")
    assert not os.path.exists(path + "__precompact")


def test_compact_small_files_respects_target(spark, tables, tmp_path):
    """A small target must yield several files: ceil(total/target)."""
    import math
    import os

    from lakehouse_tools_spark.operators.maintenance import compact_small_files

    path = str(tmp_path / "frag2")
    tables["orders"].repartition(30).write.parquet(path)
    total = sum(
        os.path.getsize(os.path.join(path, f))
        for f in os.listdir(path)
        if f.endswith(".parquet")
    )
    target = max(1, total // 4)
    report = compact_small_files(spark, path, target_file_bytes=target)
    assert report["files_after"] == math.ceil(total / target)
    assert report["bytes_total"] == total


def test_compact_small_files_restores_table_when_swap_fails(
    spark, tables, tmp_path, monkeypatch
):
    """If the staging→path rename fails, the original directory is
    renamed back, so the table stays readable at ``path``."""
    import os

    import pytest

    from lakehouse_tools_spark.operators.maintenance import compact_small_files

    path = str(tmp_path / "frag3")
    tables["nation"].repartition(5).write.parquet(path)
    before = sorted(spark.read.parquet(path).collect())

    real_rename = os.rename
    calls = []

    def failing_rename(src, dst):
        calls.append(src)
        if len(calls) == 2:
            raise OSError("rename failed")
        return real_rename(src, dst)

    monkeypatch.setattr(os, "rename", failing_rename)
    with pytest.raises(OSError, match="rename failed"):
        compact_small_files(spark, path, target_file_bytes=64 * 1024 * 1024)
    monkeypatch.undo()

    assert not os.path.exists(path + "__precompact")
    assert sorted(spark.read.parquet(path).collect()) == before


def test_compact_small_files_keeps_the_callers_caches(spark, tmp_path):
    """Compaction refreshes only its own path: a frame the caller
    persisted stays cached, and one cached over the compacted path
    reads the same rows from the new files."""
    from lakehouse_tools_spark.operators.maintenance import compact_small_files

    path = str(tmp_path / "frag4")
    spark.range(6).repartition(3).write.parquet(path)
    kept = spark.range(10).persist()
    over = spark.read.parquet(path).persist()
    assert kept.count() == 10 and over.count() == 6
    level = kept.storageLevel
    compact_small_files(spark, path, target_file_bytes=64 * 1024 * 1024)
    assert kept.storageLevel == level
    assert sorted(r.id for r in over.collect()) == list(range(6))
    kept.unpersist()
    over.unpersist()
