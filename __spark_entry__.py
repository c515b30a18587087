"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship end-to-end profiler pipeline
(SURVEY.md §3.1) on sf0.001. ``queries()`` registers one callable per
implemented operator from SURVEY.md §2 plus the training-data
extension surface (dedup / similarity / text / event-time windows),
and ``oracle_sql()`` supplies the DuckDB-runnable ANSI-SQL equivalent
for every SQL-expressible one. Both are views of the one ``_REGISTRY``
table at the bottom of this file.

Cross-engine determinism rules used throughout (see
lakehouse_tools_spark.functions.portable):

- Money/value sums are computed in DECIMAL (exact) and cast to DOUBLE
  at the end — both engines produce bit-identical doubles. Plain
  double SUMs are order-sensitive at 1e5+ rows and would hash-differ.
- Ratios of integers (and of already-identical doubles) are single
  IEEE ops → deterministic; they are rounded to 6 decimals only for
  display stability.
- Doubles rendered to strings go through round(x,6)::DECIMAL(28,6);
  timestamps through an explicit UTC format. Hashes are md5 (Spark's
  murmur3 ``hash()`` is engine-specific).
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from lakehouse_tools_spark import session as lts_session
from lakehouse_tools_spark.ext import chunking as X_chunk
from lakehouse_tools_spark.ext import dedup as X_dedup
from lakehouse_tools_spark.ext import redact as X_redact
from lakehouse_tools_spark.ext import sampling as X_sample
from lakehouse_tools_spark.ext import similarity as X_sim
from lakehouse_tools_spark.ext import text as X_text
from lakehouse_tools_spark.operators.maintenance import zorder_layout
from lakehouse_tools_spark.operators.merge import not_in, upsert
from lakehouse_tools_spark.plans.pipeline import create_data_profile
from lakehouse_tools_spark.operators.profile import profile_data, schema_information
from lakehouse_tools_spark.sources.tables import load_table, load_tables
from lakehouse_tools_spark.streaming import windows as X_win

DB = "tpch"
TS_FMT_SPARK = "yyyy-MM-dd HH:mm:ss"
TS_FMT_SQL = "%Y-%m-%d %H:%M:%S"

# Static schema map of the fixture tables (TESTDATA.md), used to
# generate the profiler oracles. Types are Spark simpleString()s.
FIXTURE_SCHEMAS: dict[str, list[tuple[str, str]]] = {
    "region": [("r_regionkey", "int"), ("r_name", "string")],
    "nation": [("n_nationkey", "int"), ("n_name", "string"), ("n_regionkey", "int")],
    "customer": [
        ("c_custkey", "bigint"),
        ("c_name", "string"),
        ("c_nationkey", "int"),
        ("c_acctbal", "double"),
        ("c_mktsegment", "string"),
    ],
    "supplier": [
        ("s_suppkey", "bigint"),
        ("s_name", "string"),
        ("s_nationkey", "int"),
        ("s_acctbal", "double"),
    ],
    "part": [
        ("p_partkey", "bigint"),
        ("p_name", "string"),
        ("p_brand", "string"),
        ("p_type", "string"),
        ("p_size", "int"),
        ("p_retailprice", "double"),
    ],
    "orders": [
        ("o_orderkey", "bigint"),
        ("o_custkey", "bigint"),
        ("o_orderstatus", "string"),
        ("o_totalprice", "double"),
        ("o_orderdate", "timestamp"),
        ("o_orderpriority", "string"),
    ],
    "lineitem": [
        ("l_orderkey", "bigint"),
        ("l_partkey", "bigint"),
        ("l_suppkey", "bigint"),
        ("l_linenumber", "int"),
        ("l_quantity", "double"),
        ("l_extendedprice", "double"),
        ("l_discount", "double"),
        ("l_tax", "double"),
        ("l_returnflag", "string"),
        ("l_linestatus", "string"),
        ("l_shipdate", "timestamp"),
    ],
    "events": [
        ("event_id", "bigint"),
        ("ts", "timestamp"),
        ("user_id", "bigint"),
        ("event_type", "string"),
        ("value", "double"),
        ("props", "string"),
    ],
}

#: Subset profiled by the small profiler queries (keeps the oracle
#: UNION tree readable; profiler_e2e covers every table above).
PROFILE_TABLES = ("region", "nation", "supplier", "orders")

_NORM_SQL = "trim(regexp_replace(lower({c}), '\\s+', ' ', 'g'))"
_STOPWORDS = X_text.LANG_MARKERS["en"]

#: DuckDB twin of sampling.hash_u32 (memory: hex→int parity trick).
_HASH_U32_SQL = (
    "CAST(concat('0x', substr(md5(concat(CAST({key} AS VARCHAR), '{salt}')), 1, 8))"
    " AS BIGINT)"
)


def _spark(spark: SparkSession) -> SparkSession:
    return lts_session.configure(spark)


def _warehouse_path(s: SparkSession, *parts: str) -> str:
    """A path under the session's ``spark.sql.warehouse.dir``, with any
    ``file:`` prefix stripped so Spark, ``os`` and ``shutil`` all take it."""
    wh = s.conf.get("spark.sql.warehouse.dir", "spark-warehouse")
    return os.path.join(wh.removeprefix("file:").rstrip("/"), *parts)


def _dec(c: str) -> F.Column:
    return F.col(c).cast(T.DecimalType(10, 2))


# ---------------------------------------------------------------- profiler


def _render_sql(col: str, dtype: str) -> str:
    """DuckDB expression matching profile.stable_string for ``dtype``."""
    if dtype == "double":
        return f"CAST(CAST(round({col}, 6) AS DECIMAL(28,6)) AS VARCHAR)"
    if dtype == "timestamp":
        return f"strftime({col}, '{TS_FMT_SQL}')"
    return f"CAST({col} AS VARCHAR)"


def _profile_intended_oracle(
    tables: tuple[str, ...], table_sql: dict[str, str] | None = None
) -> str:
    """``table_sql`` overrides a table's FROM-relation (e.g. a
    modified snapshot as an inline subquery) — used by the
    incremental-reprofile oracle."""
    parts = []
    for t in tables:
        rel = (table_sql or {}).get(t, t)
        for c, dt in FIXTURE_SCHEMAS[t]:
            r = _render_sql(f'"{c}"', dt)
            parts.append(
                f"SELECT '{DB}' AS databaseName, '{t}' AS tableName, "
                f"'{c}' AS columnName, '{dt}' AS dataType, {r} AS value, "
                f"CAST(count(*) AS FLOAT) AS num_records, "
                f"CAST(length({r}) AS FLOAT) AS len FROM {rel} GROUP BY {r}"
            )
    return " UNION ALL ".join(parts)


def _profile_as_written_oracle(tables: tuple[str, ...]) -> str:
    per_table = []
    for t in tables:
        branches = [
            f"SELECT '{DB}' AS databaseName, '{t}' AS tableName, "
            f"'{c}' AS columnName, '{dt}' AS dataType, '{c}' AS value, "
            f"CAST(count(*) AS FLOAT) AS num_records, "
            f"CAST(length('{c}') AS FLOAT) AS len FROM {t} GROUP BY \"{c}\""
            for c, dt in FIXTURE_SCHEMAS[t]
        ]
        per_table.append("SELECT * FROM (" + " UNION ".join(branches) + ")")
    return " UNION ALL ".join(per_table)


def _schema_info_oracle(tables: tuple[str, ...]) -> str:
    rows = ", ".join(
        f"('{DB}', '{t}', '{c}', '{dt}', CAST(NULL AS VARCHAR))"
        for t in tables
        for c, dt in FIXTURE_SCHEMAS[t]
    )
    return (
        f"SELECT * FROM (VALUES {rows}) AS v(databaseName, tableName, "
        "columnName, dataType, comments)"
    )


def q_profile_intended(spark: SparkSession, sf_dir: str) -> DataFrame:
    tables = load_tables(_spark(spark), sf_dir, PROFILE_TABLES)
    return profile_data(tables, DB, mode="intended")


def q_profile_as_written(spark: SparkSession, sf_dir: str) -> DataFrame:
    tables = load_tables(_spark(spark), sf_dir, PROFILE_TABLES)
    return profile_data(tables, DB, mode="as_written")


def q_profile_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Capped histogram: K most-frequent values per column with a
    deterministic tiebreak (count desc, value asc nulls first). The
    100 TB guard for key columns, where the uncapped profile is the
    size of the input; output is bounded by K×n_columns and the plan
    stays join-free (row_number window over the aggregated counts)."""
    tables = load_tables(_spark(spark), sf_dir, PROFILE_TABLES)
    return profile_data(tables, DB, mode="intended", top_k=5)


def _profile_topk_oracle(tables: tuple[str, ...], k: int = 5) -> str:
    parts = []
    for t in tables:
        for c, dt in FIXTURE_SCHEMAS[t]:
            r = _render_sql(f'"{c}"', dt)
            parts.append(
                "SELECT databaseName, tableName, columnName, dataType, value, "
                "num_records, len FROM ("
                f"SELECT '{DB}' AS databaseName, '{t}' AS tableName, "
                f"'{c}' AS columnName, '{dt}' AS dataType, {r} AS value, "
                f"CAST(count(*) AS FLOAT) AS num_records, "
                f"CAST(length({r}) AS FLOAT) AS len, "
                f"row_number() OVER (ORDER BY count(*) DESC, {r} ASC NULLS FIRST) AS rn "
                f"FROM {t} GROUP BY {r}"
                f") WHERE rn <= {k}"
            )
    return " UNION ALL ".join(parts)


def _orders_modified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministically-mutated orders snapshot: ~30% of rows (by
    key hash) get their priority rewritten — shifts the value
    histogram so the incremental re-profile has real work."""
    orders = load_table(spark, sf_dir, "orders")
    changed = X_sample.hash_fraction(F.col("o_orderkey"), "incr") < 0.3
    return orders.withColumn(
        "o_orderpriority",
        F.when(changed, F.lit("9-INCR")).otherwise(F.col("o_orderpriority")),
    )


_ORDERS_MODIFIED_SQL = (
    "(SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate, "
    "CASE WHEN "
    + _HASH_U32_SQL.format(key="o_orderkey", salt="incr")
    + " / 4294967296.0 < 0.3 THEN '9-INCR' ELSE o_orderpriority END "
    "AS o_orderpriority FROM orders)"
)


def q_profiler_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental catalog re-profile: the base profileData covers
    all 4 tables; orders then changes (30% of priorities rewritten),
    and ONLY orders is re-scanned — merged with full_sync scoped to
    the changed table, so its stale value rows are deleted and the
    other tables' rows are untouched. The oracle is the FULL profile
    of the new catalog state: incremental must equal recompute."""
    from lakehouse_tools_spark.plans.pipeline import incremental_reprofile

    s = _spark(spark)
    tables = load_tables(s, sf_dir, PROFILE_TABLES)
    base = profile_data(tables, DB, mode="intended")
    changed = {"orders": _orders_modified(s, sf_dir)}
    return incremental_reprofile(s, changed, DB, base)


def q_schema_information(spark: SparkSession, sf_dir: str) -> DataFrame:
    tables = load_tables(_spark(spark), sf_dir, PROFILE_TABLES)
    return schema_information(tables, DB, spark)


def q_profiler_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full pipeline (discover → profile → MERGE into empty targets),
    reference flow §3.1. With empty targets MERGE reduces to
    insert-all, so the oracle is the intended-mode profile of every
    table."""
    tables = load_tables(_spark(spark), sf_dir, tuple(FIXTURE_SCHEMAS))
    return create_data_profile(spark, tables, DB, mode="intended").profile_data


def q_profile_summary_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-pass sketch profiler: nulls/min/max/HLL-distinct for
    every column in ONE wide aggregate — no melt, no row
    multiplication; the shape that survives 100 TB. HLL estimates are
    engine-specific → rows-only check; the ≤3σ closeness bound vs the
    exact mode is asserted in tests/test_summary.py."""
    from lakehouse_tools_spark.operators.profile import profile_summary

    s = _spark(spark)
    parts = [
        profile_summary(load_table(s, sf_dir, t), DB, t, exact_distinct=False)
        for t in ("orders", "lineitem")
    ]
    return parts[0].unionByName(parts[1])


def q_profile_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate quartiles per numeric column via mergeable GK
    sketches, one wide aggregate per table. Sketch outputs are
    engine-specific → rows-only; rank-error tolerance vs exact
    percentiles is asserted in tests/test_summary.py."""
    from lakehouse_tools_spark.operators.profile import numeric_quantiles

    s = _spark(spark)
    parts = [
        numeric_quantiles(load_table(s, sf_dir, t), DB, t)
        for t in ("orders", "lineitem")
    ]
    return parts[0].unionByName(parts[1])


def q_profile_quantiles_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT quartiles per numeric column (orders + lineitem) —
    the oracle-checkable companion of the sketch profiler above.
    ``F.percentile`` and DuckDB's ``quantile_cont`` share the linear
    interpolation at rank p·(n−1); both sides round to 6 decimals."""
    from lakehouse_tools_spark.operators.profile import numeric_quantiles_exact

    s = _spark(spark)
    parts = [
        numeric_quantiles_exact(
            load_table(s, sf_dir, t).select(*[c for c, _ in _QUANT_COLS[t]]),
            DB,
            t,
        )
        for t in ("orders", "lineitem")
    ]
    return parts[0].unionByName(parts[1])


#: measure columns only — exact percentile buffers every value per
#: column in the aggregate, so surrogate keys (uniform by
#: construction, profiled by the sketch path anyway) aren't worth
#: doubling the memory/sort cost for
_QUANT_COLS = {
    "orders": [
        ("o_totalprice", "double"),
    ],
    "lineitem": [
        ("l_quantity", "double"),
        ("l_extendedprice", "double"),
        ("l_discount", "double"),
        ("l_tax", "double"),
    ],
}

_QUANT_EXACT_ORACLE = "\nUNION ALL\n".join(
    f"SELECT '{DB}' AS databaseName, '{t}' AS tableName,"
    f" '{c}' AS columnName, '{dt}' AS dataType,"
    f" round(quantile_cont({c}, 0.25), 6) AS q25,"
    f" round(quantile_cont({c}, 0.50), 6) AS q50,"
    f" round(quantile_cont({c}, 0.75), 6) AS q75 FROM {t}"
    for t, cols in _QUANT_COLS.items()
    for c, dt in cols
)


def q_profile_nested(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nested-type profiling (profile.profile_nested): length and
    null-element stats for array/struct columns as ONE wide aggregate
    over one scan — elements never melted. The query derives extra
    nested shapes from the embeddings fixture (slice, nullable
    variant, element holes, a struct) so every stat path is exercised;
    DuckDB mirrors them with list slicing / ``list_transform`` /
    ``list_filter``."""
    from lakehouse_tools_spark.operators.profile import profile_nested

    emb = load_table(_spark(spark), sf_dir, "embeddings")
    df = emb.select(
        "embedding",
        F.slice("embedding", 1, 8).alias("emb_head"),
        F.when(F.col("vec_id") % 17 == 0, F.lit(None))
        .otherwise(F.col("embedding"))
        .alias("emb_nullable"),
        F.transform(
            "embedding",
            lambda x: F.when(x.cast("double") < -0.2, F.lit(None).cast("float"))
            .otherwise(x),
        ).alias("emb_holes"),
        F.struct(F.col("label"), F.col("vec_id")).alias("meta"),
    )
    return profile_nested(df, DB, "embeddings")


def _profile_nested_oracle() -> str:
    base = (
        "WITH base AS (SELECT embedding,"
        " embedding[1:8] AS emb_head,"
        " CASE WHEN vec_id % 17 = 0 THEN NULL ELSE embedding END AS emb_nullable,"
        " list_transform(embedding, x -> CASE WHEN CAST(x AS DOUBLE) < -0.2"
        " THEN NULL ELSE x END) AS emb_holes,"
        " label, vec_id FROM embeddings)"
    )
    arr_cols = ["embedding", "emb_head", "emb_nullable", "emb_holes"]
    parts = [
        f"SELECT '{DB}' AS databaseName, 'embeddings' AS tableName,"
        f" '{c}' AS columnName, 'array<float>' AS dataType,"
        f" COUNT(*) AS n_rows,"
        f" CAST(SUM(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,"
        f" CAST(MIN(len({c})) AS BIGINT) AS len_min,"
        f" CAST(MAX(len({c})) AS BIGINT) AS len_max,"
        f" ROUND(AVG(len({c})), 6) AS len_avg,"
        f" CAST(SUM(len({c})) AS BIGINT) AS n_elements,"
        f" CAST(SUM(len(list_filter({c}, x -> x IS NULL))) AS BIGINT)"
        f" AS n_null_elements FROM base"
        for c in arr_cols
    ]
    parts.append(
        f"SELECT '{DB}' AS databaseName, 'embeddings' AS tableName,"
        f" 'meta' AS columnName, 'struct<label:int,vec_id:bigint>' AS dataType,"
        f" COUNT(*) AS n_rows, CAST(0 AS BIGINT) AS n_null,"
        f" CAST(2 AS BIGINT) AS len_min, CAST(2 AS BIGINT) AS len_max,"
        f" CAST(2.0 AS DOUBLE) AS len_avg,"
        f" CAST(2 * COUNT(*) AS BIGINT) AS n_elements,"
        f" CAST(SUM((CASE WHEN label IS NULL THEN 1 ELSE 0 END)"
        f" + (CASE WHEN vec_id IS NULL THEN 1 ELSE 0 END)) AS BIGINT)"
        f" AS n_null_elements FROM base"
    )
    return base + " " + "\nUNION ALL\n".join(parts)


_HIST_BINS = 16


def q_profile_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width numeric histograms over lineitem: bounded
    distribution profile (≤ bins rows/column), two jobs for all
    columns (min/max agg → melt + single groupBy). Bin edges are
    plain double arithmetic, so DuckDB reproduces counts exactly."""
    from lakehouse_tools_spark.operators.profile import numeric_histogram

    li = load_table(_spark(spark), sf_dir, "lineitem")
    return numeric_histogram(li, DB, "lineitem", bins=_HIST_BINS)


def _profile_histogram_oracle() -> str:
    num_cols = [
        c for c, dt in FIXTURE_SCHEMAS["lineitem"]
        if dt in ("bigint", "int", "double")
    ]
    parts = []
    for c in num_cols:
        st = (
            f"(SELECT CAST(min({c}) AS DOUBLE) AS mn, "
            f"(CAST(max({c}) AS DOUBLE) - CAST(min({c}) AS DOUBLE)) / {_HIST_BINS} AS w "
            f"FROM lineitem WHERE {c} IS NOT NULL) st"
        )
        parts.append(
            f"SELECT '{DB}' AS databaseName, 'lineitem' AS tableName, "
            f"'{c}' AS columnName, CAST(b AS INT) AS bin, "
            f"mn + b * w AS lo, mn + (b + 1) * w AS hi, CAST(cnt AS BIGINT) AS cnt "
            f"FROM ("
            f"SELECT CASE WHEN st.w = 0 THEN 0 ELSE "
            f"least(CAST(floor((CAST({c} AS DOUBLE) - st.mn) / st.w) AS BIGINT), {_HIST_BINS - 1}) END AS b, "
            f"st.mn AS mn, st.w AS w, count(*) AS cnt "
            f"FROM lineitem CROSS JOIN {st} "
            f"WHERE {c} IS NOT NULL GROUP BY 1, 2, 3"
            f")"
        )
    return " UNION ALL ".join(parts)


def q_profile_distinct_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental distinct-count profiling via mergeable HLL
    sketches (operators/sketches.py): orders is profiled as two
    separate batches whose sketches are merged — the no-rescan
    pattern for growing tables. Rows-only by design (sketch bytes are
    engine-specific); the merge-equals-whole law and accuracy bounds
    are pinned in tests/test_sketches.py."""
    from lakehouse_tools_spark.operators.sketches import (
        distinct_sketches,
        estimate_distinct,
        merge_sketches,
    )

    orders = load_table(_spark(spark), sf_dir, "orders")
    cols = ["o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority"]
    batches = [
        distinct_sketches(orders.filter(F.col("o_orderkey") % 2 == i), cols)
        for i in (0, 1)
    ]
    return estimate_distinct(merge_sketches(batches))


_SKETCH_COLS = ("o_custkey", "o_orderkey", "o_orderpriority", "o_orderstatus")
_SKETCH_ERR_BOUND = 0.05  # ~3x the lg_k=12 RSE of 1.6%


def q_sketch_error_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-verifiable accuracy contract for the HLL sketch path
    (same pattern as sim_recall_report): per column, the merged
    two-batch sketch estimate must land within ±5% of the exact
    distinct count. The exact side is SQL-expressible, so the oracle
    asserts both the exact counts and within_bound=TRUE — a sketch
    regression (broken merge, wrong lg_k, canonicalization drift)
    flips the boolean and fails the driver compare."""
    from lakehouse_tools_spark.operators.sketches import (
        distinct_sketches,
        estimate_distinct,
        merge_sketches,
    )

    orders = load_table(_spark(spark), sf_dir, "orders")
    cols = list(_SKETCH_COLS)
    batches = [
        distinct_sketches(orders.filter(F.col("o_orderkey") % 2 == i), cols)
        for i in (0, 1)
    ]
    est = estimate_distinct(merge_sketches(batches))
    exact = orders.agg(
        *[F.countDistinct(F.col(c).cast("string")).alias(c) for c in cols]
    ).unpivot([], cols, "columnName", "n_exact")
    return (
        est.join(exact, "columnName")
        .select(
            "columnName",
            F.col("n_exact").cast("long"),
            F.lit(float(_SKETCH_ERR_BOUND)).alias("rel_err_bound"),
            (
                F.abs(F.col("n_distinct_est") - F.col("n_exact"))
                / F.col("n_exact")
                <= F.lit(float(_SKETCH_ERR_BOUND))
            ).alias("within_bound"),
        )
        .orderBy("columnName")
    )


_SKETCH_ERROR_ORACLE = "\nUNION ALL\n".join(
    f"SELECT '{c}' AS columnName,"
    f" CAST(COUNT(DISTINCT {c}) AS BIGINT) AS n_exact,"
    f" CAST({_SKETCH_ERR_BOUND} AS DOUBLE) AS rel_err_bound,"
    f" TRUE AS within_bound FROM orders"
    for c in _SKETCH_COLS
)


_CMS_WIDTH, _CMS_DEPTH, _CMS_TOPK = 512, 3, 20


def q_profile_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy hitters via a count-min sketch
    (operators/sketches.countmin_sketch): events.user_id frequencies
    sketched into depth×width counters built as TWO merged batches
    (the incremental pattern — per-batch sketches sum pointwise, no
    rescan), then the top-20 users' estimates read back from the
    merged sketch. Shuffle is ≤ 3×512 counter rows regardless of
    input size; the estimate join broadcasts the sketch.

    Unlike the HLL path, the CMS is md5-derived, so an ANSI engine
    building the same sketch gets IDENTICAL counters — the oracle
    recomputes sketch + estimates and the driver hash-verifies the
    estimates themselves, overcount included (one-sided error: the
    sketch never undercounts, pinned in tests/test_sketches.py).
    The exact top-20 here is the audit companion; at 100 TB the
    candidate set comes from a sample or prior profile, and only the
    broadcast-sized sketch touches the full data."""
    from lakehouse_tools_spark.operators.sketches import (
        countmin_estimate,
        countmin_sketch,
        merge_countmin,
    )

    ev = load_table(_spark(spark), sf_dir, "events")
    batches = [
        countmin_sketch(
            ev.filter(F.col("event_id") % 2 == i),
            "user_id",
            _CMS_WIDTH,
            _CMS_DEPTH,
        )
        for i in (0, 1)
    ]
    sketch = merge_countmin(batches)
    true_counts = (
        ev.groupBy(F.col("user_id").cast("string").alias("key"))
        .agg(F.count(F.lit(1)).alias("cnt_true"))
    )
    top = (
        true_counts.withColumn(
            "_rn",
            F.row_number().over(
                Window.orderBy(F.col("cnt_true").desc(), F.col("key"))
            ),
        )
        .filter(F.col("_rn") <= _CMS_TOPK)
        .drop("_rn")
    )
    est = countmin_estimate(sketch, top, "key", _CMS_WIDTH, _CMS_DEPTH)
    return top.join(est, "key").select(
        F.col("key").alias("user_id"),
        "cnt_true",
        F.col("cnt_est").cast("long"),
        (F.col("cnt_est") - F.col("cnt_true")).cast("long").alias("overcount"),
    )


_CMS_BUCKET_SQL = (
    "CAST(('0x' || substr(md5(d.d || ':' || {key}), 1, 8)) AS BIGINT) % "
    f"{_CMS_WIDTH}"
)

_HEAVY_HITTERS_ORACLE = f"""
WITH d AS (SELECT unnest(range({_CMS_DEPTH})) AS d),
tc AS (
  SELECT CAST(user_id AS VARCHAR) AS k, CAST(count(*) AS BIGINT) AS cnt_true
  FROM events GROUP BY 1
),
top AS (
  SELECT k, cnt_true FROM tc
  ORDER BY cnt_true DESC, k LIMIT {_CMS_TOPK}
),
sk AS (
  SELECT d.d, {_CMS_BUCKET_SQL.format(key="CAST(e.user_id AS VARCHAR)")} AS bucket,
         CAST(count(*) AS BIGINT) AS cnt
  FROM events e CROSS JOIN d GROUP BY 1, 2
),
est AS (
  SELECT t.k, min(sk.cnt) AS cnt_est
  FROM top t
  CROSS JOIN d
  JOIN sk ON sk.d = d.d
         AND sk.bucket = {_CMS_BUCKET_SQL.format(key="t.k")}
  GROUP BY t.k
)
SELECT t.k AS user_id, t.cnt_true, e.cnt_est,
       e.cnt_est - t.cnt_true AS overcount
FROM top t JOIN est e ON e.k = t.k
"""


#: FD-discovery candidate pairs (orders): two holding (the key
#: determines everything) and two violated (a customer has orders in
#: several statuses; a status spans several priorities) — the mix the
#: operator exists to tell apart.
_FD_PAIRS = (
    ("o_orderkey", "o_custkey"),
    ("o_orderkey", "o_totalprice"),
    ("o_custkey", "o_orderstatus"),
    ("o_orderstatus", "o_orderpriority"),
)


def q_profile_fd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Functional-dependency discovery
    (operators/dependencies.fd_candidates): for each candidate
    (determinant → dependent) pair on orders, does the data satisfy
    the FD? ONE aggregate pass computes every pair's
    count(distinct det) / count(distinct det, dep) simultaneously
    (the Expand the multi-distinct exact plan inserts is the
    oracle-verifiable audit mode; approx=True is the Expand-free
    100 TB path), then a stack melt emits one row per pair. The
    schema-profiling question the reference's per-column profiler
    (dbc cell@8.0:24-38) stops short of: relations BETWEEN columns."""
    from lakehouse_tools_spark.operators.dependencies import fd_candidates

    orders = load_table(_spark(spark), sf_dir, "orders")
    return fd_candidates(orders, list(_FD_PAIRS))


def _fd_oracle(pairs) -> str:
    # rows with a NULL det or dep are excluded from BOTH counts —
    # keep in lockstep with operators/dependencies.fd_candidates
    nd = ",\n       ".join(
        f"count(DISTINCT CASE WHEN {dep} IS NULL THEN NULL "
        f"ELSE {det} END) AS nd{i},\n       "
        f"count(DISTINCT CASE WHEN {det} IS NULL OR {dep} IS NULL "
        f"THEN NULL ELSE ROW({det}, {dep}) END) AS np{i}"
        for i, (det, dep) in enumerate(pairs)
    )
    rows = "\nUNION ALL\n".join(
        f"SELECT '{det}' AS determinant, '{dep}' AS dependent, "
        f"CAST(nd{i} AS BIGINT) AS n_det, CAST(np{i} AS BIGINT) AS n_pair "
        "FROM a"
        for i, (det, dep) in enumerate(pairs)
    )
    return f"""
WITH a AS (
SELECT {nd}
FROM orders
), m AS (
{rows}
)
SELECT determinant, dependent, n_det, n_pair,
       n_det = n_pair AS fd_holds,
       CASE WHEN n_pair = 0 THEN NULL ELSE
         floor(CAST(n_det AS DOUBLE) / CAST(n_pair AS DOUBLE) * 1000000)
           / 1000000 END AS strength
FROM m
"""


#: Benford digit extraction, ANSI form — MUST stay in lockstep with
#: operators/quality.benford_report's string-typed extraction. The
#: isnan/isinf guard mirrors Spark's try_cast (which NULLs NaN/inf);
#: DuckDB's try_cast still hard-errors on NaN.
_BENFORD_DIGIT_SQL = (
    "substr(regexp_replace(CAST(CASE WHEN isnan(l_extendedprice) OR "
    "isinf(l_extendedprice) THEN NULL ELSE try_cast(l_extendedprice AS "
    "DECIMAL(38,6)) END AS VARCHAR), '[^1-9]', '', 'g'), 1, 1)"
)

_BENFORD_ORACLE = f"""
WITH c AS (
  SELECT CAST({_BENFORD_DIGIT_SQL} AS INT) AS digit,
         CAST(count(*) AS BIGINT) AS n
  FROM lineitem
  WHERE length({_BENFORD_DIGIT_SQL}) > 0
  GROUP BY 1
), t AS (SELECT sum(n) AS total FROM c),
p AS (
  SELECT digit, n,
         floor(CAST(n AS DOUBLE) / CAST(total AS DOUBLE) * 1000000)
           / 1000000 AS observed_p,
         floor(log10(1.0 + 1.0 / CAST(digit AS DOUBLE)) * 1000000)
           / 1000000 AS expected_p
  FROM c CROSS JOIN t
)
SELECT digit, n, observed_p, expected_p,
       floor(abs(observed_p - expected_p) * 1000000) / 1000000 AS abs_dev
FROM p
"""


def q_profile_benford(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford first-digit screen (operators/quality.benford_report)
    on lineitem.l_extendedprice: per-digit counts vs the log10(1+1/d)
    expectation — the forensic data-quality check for fabricated or
    truncated numerics. One projection + one 9-group aggregate with
    map-side combine; the grand total joins back broadcast. The digit
    comes from a decimal(38,6)-rendered string (exact in every
    engine), not floor(log10(x)) (libm last-ulp territory)."""
    from lakehouse_tools_spark.operators.quality import benford_report

    li = load_table(_spark(spark), sf_dir, "lineitem")
    return benford_report(li, "l_extendedprice")


#: token alphabet + pattern for the sequence matcher: a purchase path
#: is a view, any clicks/re-views, then a purchase — signups/errors
#: in between break it.
_PATTERN_TOKENS = {
    "view": "v",
    "click": "c",
    "purchase": "p",
    "signup": "s",
    "error": "e",
}
_PATTERN_REGEX = "v[cv]*p"

_PATTERN_CASE_SQL = (
    "CASE event_type "
    + " ".join(f"WHEN '{k}' THEN '{v}'" for k, v in _PATTERN_TOKENS.items())
    + " END"
)

#: The oracle mirrors the OPERATOR's row filter exactly (ADVICE r09):
#: only tokenized events (the CASE maps the event type) with non-null
#: order keys enter the sequence AND the n_events count — so the
#: comparison holds for any fixture alphabet / null pattern, not just
#: the current one where every event type happens to be tokenized.
_PATTERN_ORACLE = f"""
WITH tok AS (
  SELECT user_id AS key, ts, event_id, {_PATTERN_CASE_SQL} AS t
  FROM events
  WHERE {_PATTERN_CASE_SQL} IS NOT NULL
    AND ts IS NOT NULL AND event_id IS NOT NULL
),
seq AS (
  SELECT key,
         CAST(count(*) AS BIGINT) AS n_events,
         string_agg(t, '' ORDER BY ts, event_id) AS s
  FROM tok
  GROUP BY key
)
SELECT key, n_events,
       CAST(len(regexp_extract_all(s, '{_PATTERN_REGEX}')) AS BIGINT)
         AS n_matches,
       len(regexp_extract_all(s, '{_PATTERN_REGEX}')) > 0 AS matched
FROM seq
"""


def q_events_pattern(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MATCH_RECOGNIZE-lite sequence matching
    (operators/sequences.pattern_match): per user, how many
    view→clicks→purchase paths (regex ``v[cv]*p`` over the tokenized
    event sequence, non-overlapping like AFTER MATCH SKIP PAST LAST
    ROW)? Project-then-group: the single shuffle carries only
    (user, ts, event_id, token); the sequence forms JVM-side via
    sort_array(collect_list(struct)) and regexp_count — no window
    sort, no Python. Per-key state = the key's sequence (pre-segment
    with session_ids for unbounded keys)."""
    from lakehouse_tools_spark.operators.sequences import pattern_match

    ev = load_table(_spark(spark), sf_dir, "events")
    return pattern_match(
        ev,
        "user_id",
        "event_type",
        ["ts", "event_id"],
        _PATTERN_REGEX,
        _PATTERN_TOKENS,
    )


#: GK-sketch rank-error contract: percentile_approx(accuracy=10000)
#: guarantees rank error ≤ n/10000; the check brackets each approx
#: quartile between the exact quantiles at p ± _QERR_EPS, with eps set
#: 10× the guarantee so the contract is robust to interpolation edge
#: effects at small n but still catches a broken sketch outright.
_QERR_EPS = 0.001


#: approx_count_distinct's default rsd is 5% (one standard error);
#: ±15% = 3σ keeps the contract robust while still catching a broken
#: estimator or column binding outright.
_SUMMARY_ERR_BOUND = 0.15


def q_summary_error_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-verifiable accuracy contract for the single-pass summary
    profiler's HyperLogLog++ mode (profile_summary(exact_distinct=
    False)) — the last approximate path without one: per column of
    orders, the one-wide-aggregate estimate must land within ±15%
    (3σ at the default 5% rsd) of the exact distinct count, and the
    exactly-computable fields (rows, nulls) must MATCH the exact
    values outright. The oracle asserts all of it, so an estimator
    or column-binding regression fails the driver compare."""
    from lakehouse_tools_spark.operators.profile import profile_summary

    orders = load_table(_spark(spark), sf_dir, "orders")
    approx = profile_summary(orders, DB, "orders", exact_distinct=False).select(
        "columnName", "n_rows", "n_nulls",
        F.col("n_distinct").alias("_est"),
    )
    cols = [f.name for f in orders.schema.fields]
    exact = orders.agg(
        *[F.countDistinct(F.col(c)).alias(c) for c in cols]
    ).unpivot([], cols, "columnName", "n_exact")
    return (
        approx.join(exact, "columnName")
        .select(
            "columnName",
            F.col("n_rows").cast("long"),
            F.col("n_nulls").cast("long"),
            F.col("n_exact").cast("long"),
            F.lit(float(_SUMMARY_ERR_BOUND)).alias("rel_err_bound"),
            (
                F.abs(F.col("_est") - F.col("n_exact")) / F.col("n_exact")
                <= F.lit(float(_SUMMARY_ERR_BOUND))
            ).alias("within_bound"),
        )
        .orderBy("columnName")
    )


def _summary_error_oracle() -> str:
    return "\nUNION ALL\n".join(
        f"SELECT '{c}' AS columnName,"
        f" CAST(count(*) AS BIGINT) AS n_rows,"
        f" CAST(sum(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS BIGINT)"
        f" AS n_nulls,"
        f" CAST(count(DISTINCT {c}) AS BIGINT) AS n_exact,"
        f" CAST({_SUMMARY_ERR_BOUND} AS DOUBLE) AS rel_err_bound,"
        f" TRUE AS within_bound FROM orders"
        for c, _ in FIXTURE_SCHEMAS["orders"]
    )


def q_quantile_error_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-verifiable accuracy contract for the GK quantile-sketch
    profiler (same pattern as sketch_error_report): each approximate
    quartile from ``numeric_quantiles`` must land between the EXACT
    quantiles at p−eps and p+eps. The exact brackets are
    SQL-expressible (``quantile_cont``), so the oracle asserts the
    bracket values and within_bracket=TRUE — a sketch regression
    (accuracy drop, merge bug, wrong column binding) flips the
    boolean and fails the driver compare. This upgrades the
    rows-only ``profile_quantiles`` path to a driver-checked
    guarantee.

    The GK sketches are ``numeric_quantiles``'s own rows, so the audit
    exercises the production aggregate. The exact ±eps brackets come
    from the DISTRIBUTED exact-percentile path
    (``exact_quantile_cells``, optimization r13): the former fused single-scan shape kept an exact
    ``F.percentile`` value→count buffer per column whose final merge
    holds every distinct value of a column in ONE reducer's memory —
    the last unbounded-memory aggregate in the package (guide §5).
    The two sides join per column (a handful of rows each); the
    second scan this reintroduces is linear and bounded, which at
    100 TB is the difference between slower and impossible."""
    from lakehouse_tools_spark.functions.memo import expr_memo
    from lakehouse_tools_spark.operators.profile import (
        exact_quantile_cells,
        numeric_quantiles,
    )

    def _build() -> dict:
        bracket_sel = [F.col("columnName")]
        for i, nm in enumerate(("lo25", "hi25", "lo50", "hi50", "lo75", "hi75")):
            bracket_sel.append(F.round(F.col(f"q{i}"), 6).alias(nm))
        within = None
        for p, q in zip(("25", "50", "75"), ("q25", "q50", "q75")):
            ok = (F.col(q) >= F.col(f"lo{p}")) & (F.col(q) <= F.col(f"hi{p}"))
            within = ok if within is None else (within & ok)
        return {
            "bracket_sel": bracket_sel,
            "select": [
                F.col("tableName"),
                F.col("columnName"),
                F.col("lo25"),
                F.col("hi25"),
                F.col("lo50"),
                F.col("hi50"),
                F.col("lo75"),
                F.col("hi75"),
                within.alias("within_bracket"),
            ],
        }

    bundle = expr_memo(("q_quantile_error_report",), _build)
    s = _spark(spark)
    probs = (0.25, 0.5, 0.75)
    parts = []
    for t, cols in _QUANT_COLS.items():
        df = load_table(s, sf_dir, t).select(*[c for c, _ in cols])
        sketch_long = numeric_quantiles(df, DB, t)
        brackets = exact_quantile_cells(
            df,
            [c for c, _ in cols],
            tuple(p + d for p in probs for d in (-_QERR_EPS, _QERR_EPS)),
        ).select(*bundle["bracket_sel"])
        parts.append(
            # left join: the sketch side always carries every column;
            # an all-null column has no brackets row and must surface
            # with NULL brackets (what the fused aggregate produced)
            sketch_long.join(F.broadcast(brackets), "columnName", "left")
            .select(*bundle["select"])
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


_QUANT_ERROR_ORACLE = "\nUNION ALL\n".join(
    f"SELECT '{t}' AS tableName, '{c}' AS columnName,"
    + ",".join(
        f" round(quantile_cont({c}, {p + d}), 6) AS {nm}{lbl}"
        for p, lbl in ((0.25, "25"), (0.50, "50"), (0.75, "75"))
        for d, nm in ((-_QERR_EPS, "lo"), (_QERR_EPS, "hi"))
    )
    + f", TRUE AS within_bracket FROM {t}"
    for t, cols in _QUANT_COLS.items()
    for c, _ in cols
)


def q_profile_quantiles_grouped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language document-length quartiles
    (profile.grouped_quantiles): one groupBy(lang) percentile
    aggregate — partial states combine map-side, shuffle carries
    groups×state. Exact interpolation here for quantile_cont oracle
    parity; the GK-sketch mode is the unbounded-cardinality path."""
    from lakehouse_tools_spark.operators.profile import grouped_quantiles

    docs = load_table(_spark(spark), sf_dir, "documents")
    return grouped_quantiles(docs, "lang", "n_chars", DB, "documents")


_QUANT_GROUPED_ORACLE = f"""
SELECT '{DB}' AS databaseName, 'documents' AS tableName,
       'n_chars' AS columnName, lang AS groupValue,
       round(quantile_cont(n_chars, 0.25), 6) AS q25,
       round(quantile_cont(n_chars, 0.50), 6) AS q50,
       round(quantile_cont(n_chars, 0.75), 6) AS q75,
       CAST(count(n_chars) AS BIGINT) AS n_values
FROM documents GROUP BY lang
"""


_ENTROPY_COLS = {
    "orders": ["o_orderstatus", "o_orderpriority"],
    "documents": ["lang", "source"],
}


def q_profile_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon entropy per categorical column
    (profile.column_entropy): ≈0 flags a near-constant column (dead
    feature / broken join), ln(k) means uniform over k values. One
    melt + one distinct-value count per table — the profiler's
    shuffle shape — then a per-column fold of −Σ p·ln p expressed as
    ln(n) − (Σ c·ln c)/n so the float path has one division."""
    from lakehouse_tools_spark.operators.profile import column_entropy

    s = _spark(spark)
    parts = [
        column_entropy(load_table(s, sf_dir, t), DB, t, cols)
        for t, cols in _ENTROPY_COLS.items()
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


_PROFILE_ENTROPY_ORACLE = "\nUNION ALL\n".join(
    f"""SELECT '{DB}' AS databaseName, '{t}' AS tableName,
       '{c}' AS columnName,
       CAST(count(*) AS BIGINT) AS n_values,
       floor((ln(n) - sum(cnt * ln(cnt)) / n) * 1000000) / 1000000
         AS entropy
FROM (SELECT {c} AS v, CAST(count(*) AS DOUBLE) AS cnt
      FROM {t} GROUP BY 1),
     (SELECT CAST(count(*) AS DOUBLE) AS n FROM {t})
GROUP BY n"""
    for t, cols in _ENTROPY_COLS.items()
    for c in cols
)


def q_profile_clip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorization (profile.clip_outliers): lineitem's
    l_extendedprice clamped to its Tukey fences, verified through the
    clipped column's row count, min, max, and floor6 mean — the
    repair action for what profile_outliers reports. Fences derive
    from 6-rounded quartiles, so the clamped values are bit-identical
    across engines."""
    from lakehouse_tools_spark.operators.profile import clip_outliers

    li = load_table(_spark(spark), sf_dir, "lineitem").select(
        "l_extendedprice"
    )
    clipped = clip_outliers(li, ["l_extendedprice"])
    return clipped.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.round(F.min("l_extendedprice"), 6).alias("min_clipped"),
        F.round(F.max("l_extendedprice"), 6).alias("max_clipped"),
        F.expr(
            "floor(avg(l_extendedprice) * 1000000) / 1000000"
        ).alias("mean_clipped"),
    ).select(
        F.col("n_rows").cast("long"),
        "min_clipped",
        "max_clipped",
        "mean_clipped",
    )


_PROFILE_CLIP_ORACLE = """
WITH q AS (
  SELECT round(quantile_cont(l_extendedprice, 0.25), 6) AS q1,
         round(quantile_cont(l_extendedprice, 0.75), 6) AS q3
  FROM lineitem
),
c AS (
  SELECT CASE WHEN l_extendedprice < q.q1 - 1.5 * (q.q3 - q.q1)
                THEN q.q1 - 1.5 * (q.q3 - q.q1)
              WHEN l_extendedprice > q.q3 + 1.5 * (q.q3 - q.q1)
                THEN q.q3 + 1.5 * (q.q3 - q.q1)
              ELSE l_extendedprice END AS v
  FROM lineitem, q
)
SELECT CAST(count(*) AS BIGINT) AS n_rows,
       round(min(v), 6) AS min_clipped,
       round(max(v), 6) AS max_clipped,
       floor(avg(v) * 1000000) / 1000000 AS mean_clipped
FROM c
"""


def q_profile_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson correlation for every pair of lineitem measure columns
    (profile.numeric_correlations) — the redundancy/leakage screen of
    a feature-profiling pass. All C(4,2)=6 coefficients come from ONE
    wide aggregate over one scan (corr's co-moment partials merge
    associatively, so the shuffle carries one state row per
    partition)."""
    from lakehouse_tools_spark.operators.profile import (
        numeric_correlations,
    )

    li = load_table(_spark(spark), sf_dir, "lineitem")
    cols = [c for c, _ in _QUANT_COLS["lineitem"]]
    return numeric_correlations(li.select(*cols), DB, "lineitem", cols=cols)


_PROFILE_CORR_ORACLE = "\nUNION ALL\n".join(
    f"SELECT '{DB}' AS databaseName, 'lineitem' AS tableName,"
    f" '{a}' AS col1, '{b}' AS col2,"
    f" round(corr({a}, {b}), 6) AS corr FROM lineitem"
    for i, (a, _) in enumerate(_QUANT_COLS["lineitem"])
    for b, _b in _QUANT_COLS["lineitem"][i + 1 :]
)


def q_sim_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label element-wise embedding centroids
    (ext/similarity.embedding_centroids): posexplode → one aggregate;
    partial sums combine map-side inside the scan stage, so the
    shuffle carries labels×dim aggregated rows, never rows×dim.
    Long (group, pos, centroid, n_vecs) output is oracle-exact."""
    from lakehouse_tools_spark.ext.similarity import embedding_centroids

    emb = load_table(_spark(spark), sf_dir, "embeddings")
    return embedding_centroids(emb, group_col="label")


_SIM_CENTROIDS_ORACLE = """
SELECT label AS group_key, CAST(u.i AS INT) AS pos,
       floor(avg(CAST(embedding[u.i + 1] AS DOUBLE)) * 1000000) / 1000000
         AS centroid,
       CAST(count(*) AS BIGINT) AS n_vecs
FROM embeddings, UNNEST(generate_series(0, len(embedding) - 1)) AS u(i)
GROUP BY label, u.i
"""


def q_profile_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tukey-fence outlier screen (profile.numeric_outliers) over the
    lineitem measure columns: one wide exact-quartile aggregate, then
    one wide conditional-count aggregate with the 1-row fence relation
    broadcast back. Quartiles round to 6 before the fence arithmetic,
    so every comparison is bit-identical across engines."""
    from lakehouse_tools_spark.operators.profile import numeric_outliers

    li = load_table(_spark(spark), sf_dir, "lineitem")
    cols = [c for c, _ in _QUANT_COLS["lineitem"]]
    return numeric_outliers(li.select(*cols), DB, "lineitem", cols=cols)


_PROFILE_OUTLIERS_ORACLE = "\nUNION ALL\n".join(
    f"""SELECT '{DB}' AS databaseName, 'lineitem' AS tableName,
       '{c}' AS columnName,
       round(q.q1 - 1.5 * (q.q3 - q.q1), 6) AS lo_fence,
       round(q.q3 + 1.5 * (q.q3 - q.q1), 6) AS hi_fence,
       CAST(sum(CASE WHEN t.{c} < q.q1 - 1.5 * (q.q3 - q.q1)
                       OR t.{c} > q.q3 + 1.5 * (q.q3 - q.q1)
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
       CAST(count(t.{c}) AS BIGINT) AS n_values
FROM lineitem t, (SELECT round(quantile_cont({c}, 0.25), 6) AS q1,
                         round(quantile_cont({c}, 0.75), 6) AS q3
                  FROM lineitem) q
GROUP BY q.q1, q.q3"""
    for c, _ in _QUANT_COLS["lineitem"]
)


def q_events_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-rate anomaly detection (operators/anomaly.rate_zscores):
    hourly counts per event type, z-scored against the type's own
    bucket-count distribution. Everything past the first bucketed
    count operates on the keys×buckets aggregated relation —
    metadata-scale at any input size."""
    from lakehouse_tools_spark.operators.anomaly import rate_zscores

    ev = load_table(_spark(spark), sf_dir, "events")
    return rate_zscores(ev, bucket="1 hour", z_threshold=2.0)


_EVENTS_ANOMALY_ORACLE = f"""
WITH c AS (
  SELECT event_type AS key, time_bucket(INTERVAL '1 hour', ts) AS ws,
         CAST(count(*) AS BIGINT) AS n_events
  FROM events GROUP BY 1, 2
),
z AS (
  SELECT key, ws, n_events,
         (n_events - avg(n_events) OVER (PARTITION BY key))
         / nullif(stddev_samp(n_events) OVER (PARTITION BY key), 0) AS zraw
  FROM c
)
SELECT key, strftime(ws, '{TS_FMT_SQL}') AS window_start, n_events,
       floor((zraw + 1e-9) * 1000000) / 1000000 AS z,
       abs(zraw) >= 2.0 - 1e-9 AS is_anomaly
FROM z
"""


def q_profile_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution drift (PSI) between orders and a deterministically
    shifted snapshot (30% of rows by key hash get o_totalprice ×1.5):
    the monitoring check that gates retraining. Key columns must read
    ~0 PSI, the shifted price column must light up; the oracle
    recomputes the identical binning + Laplace-smoothed PSI in SQL."""
    from lakehouse_tools_spark.operators.drift import histogram_drift

    s = _spark(spark)
    orders = load_table(s, sf_dir, "orders")
    shifted = X_sample.hash_fraction(F.col("o_orderkey"), "drift") < 0.3
    current = orders.withColumn(
        "o_totalprice",
        F.when(shifted, F.col("o_totalprice") * 1.5).otherwise(
            F.col("o_totalprice")
        ),
    )
    return histogram_drift(orders, current, DB, "orders", bins=_HIST_BINS)


def _profile_drift_oracle() -> str:
    num_cols = [
        c
        for c, dt in FIXTURE_SCHEMAS["orders"]
        if dt in ("bigint", "int", "double")
    ]
    cur = (
        "(SELECT o_orderkey, o_custkey, CASE WHEN "
        + _HASH_U32_SQL.format(key="o_orderkey", salt="drift")
        + " / 4294967296.0 < 0.3 THEN o_totalprice * 1.5 ELSE o_totalprice END"
        " AS o_totalprice FROM orders)"
    )
    parts = []
    for c in num_cols:
        st = (
            f"(SELECT CAST(min({c}) AS DOUBLE) AS mn, "
            f"(CAST(max({c}) AS DOUBLE) - CAST(min({c}) AS DOUBLE)) / {_HIST_BINS} AS w "
            f"FROM orders WHERE {c} IS NOT NULL)"
        )
        binexpr = (
            f"least(greatest(CAST(floor((CAST({c} AS DOUBLE) - st.mn) / st.w)"
            f" AS BIGINT), 0), {_HIST_BINS - 1})"
        )
        parts.append(
            f"SELECT '{DB}' AS databaseName, 'orders' AS tableName,"
            f" '{c}' AS columnName,"
            f" CAST(tb AS BIGINT) AS n_base, CAST(tc AS BIGINT) AS n_curr,"
            f" round(sum((p - q) * ln(p / q)), 6) AS psi"
            f" FROM ("
            f"  SELECT (b + 0.5) / (tb + {_HIST_BINS} * 0.5) AS p,"
            f"         (c + 0.5) / (tc + {_HIST_BINS} * 0.5) AS q,"
            f"         tb, tc FROM ("
            f"   SELECT coalesce(bb.cnt, 0) AS b, coalesce(cb.cnt, 0) AS c,"
            f"          sum(coalesce(bb.cnt, 0)) OVER () AS tb,"
            f"          sum(coalesce(cb.cnt, 0)) OVER () AS tc"
            f"   FROM (SELECT unnest(generate_series(0, {_HIST_BINS - 1})) AS bin) f"
            f"   LEFT JOIN (SELECT {binexpr} AS bin, count(*) AS cnt"
            f"              FROM orders CROSS JOIN {st} st"
            f"              WHERE {c} IS NOT NULL GROUP BY 1) bb USING (bin)"
            f"   LEFT JOIN (SELECT {binexpr} AS bin, count(*) AS cnt"
            f"              FROM {cur} AS t CROSS JOIN {st} st"
            f"              WHERE {c} IS NOT NULL GROUP BY 1) cb USING (bin)"
            f"  )"
            f" ) GROUP BY tb, tc"
        )
    return " UNION ALL ".join(parts)


def q_drift_ks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact two-sample Kolmogorov–Smirnov drift (operators/drift.
    ks_drift) between the even- and odd-event_id halves of events —
    the binless companion to PSI (`profile_drift`): D = max |F1−F2|
    over the union of observed values, so shifts PSI's fixed bin
    edges smear are still caught. The shuffle carries each column's
    DISTINCT values, never the rows; counts are exact integers and
    every |F1−F2| term is a fixed-order double expression, so the
    oracle recomputes the identical CDFs and D hash-exactly."""
    from lakehouse_tools_spark.operators.drift import ks_drift

    ev = load_table(_spark(spark), sf_dir, "events")
    base = ev.filter(F.pmod(F.col("event_id"), F.lit(2)) == 0)
    cur = ev.filter(F.pmod(F.col("event_id"), F.lit(2)) == 1)
    out = ks_drift(base, cur, ["value", "user_id"])
    return out.select(
        "columnName",
        F.col("n_base").cast("long").alias("n_base"),
        F.col("n_curr").cast("long").alias("n_curr"),
        "ks",
    )


def _drift_ks_oracle() -> str:
    melts = []
    for side, par in (("b", 0), ("c", 1)):
        melts.append(
            f"{side} AS ("
            f"SELECT 'value' AS columnName, CAST(value AS DOUBLE) AS v"
            f" FROM events WHERE event_id % 2 = {par} AND value IS NOT NULL"
            f" UNION ALL "
            f"SELECT 'user_id', CAST(user_id AS DOUBLE)"
            f" FROM events WHERE event_id % 2 = {par} AND user_id IS NOT NULL)"
        )
    return (
        "WITH "
        + ", ".join(melts)
        + """,
bg AS (SELECT columnName, v, count(*) AS c_b FROM b GROUP BY 1, 2),
cg AS (SELECT columnName, v, count(*) AS c_c FROM c GROUP BY 1, 2),
merged AS (
  SELECT coalesce(bg.columnName, cg.columnName) AS columnName,
         coalesce(bg.v, cg.v) AS v,
         coalesce(c_b, 0) AS c_b, coalesce(c_c, 0) AS c_c
  FROM bg FULL OUTER JOIN cg
    ON bg.columnName = cg.columnName AND bg.v = cg.v
),
cdf AS (
  SELECT columnName,
         sum(c_b) OVER (PARTITION BY columnName ORDER BY v ASC
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_b,
         sum(c_c) OVER (PARTITION BY columnName ORDER BY v ASC
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_c,
         sum(c_b) OVER (PARTITION BY columnName) AS n_b,
         sum(c_c) OVER (PARTITION BY columnName) AS n_c
  FROM merged
)
SELECT columnName,
       CAST(max(n_b) AS BIGINT) AS n_base,
       CAST(max(n_c) AS BIGINT) AS n_curr,
       floor((max(abs(CAST(cum_b AS DOUBLE) / CAST(n_b AS DOUBLE)
                      - CAST(cum_c AS DOUBLE) / CAST(n_c AS DOUBLE)))
              + 1e-9) * 1000000) / 1000000 AS ks
FROM cdf GROUP BY columnName"""
    )


def q_profile_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Summary-stats profiler (rows/nulls/distinct/min/max) on orders
    + lineitem; exact-distinct mode for the oracle, approx mode tested
    in tests/ for the single-pass 100 TB path."""
    from lakehouse_tools_spark.operators.profile import profile_summary

    s = _spark(spark)
    parts = [
        profile_summary(load_table(s, sf_dir, t), DB, t) for t in ("orders", "lineitem")
    ]
    return parts[0].unionByName(parts[1])


def _profile_summary_oracle() -> str:
    parts = []
    for t in ("orders", "lineitem"):
        for c, dt in FIXTURE_SCHEMAS[t]:
            r = _render_sql(f'"{c}"', dt)
            rmin = _render_sql(f'min("{c}")', dt)
            rmax = _render_sql(f'max("{c}")', dt)
            parts.append(
                f"SELECT '{DB}' AS databaseName, '{t}' AS tableName, "
                f"'{c}' AS columnName, '{dt}' AS dataType, "
                f"count(*) AS n_rows, "
                f'CAST(SUM(CASE WHEN "{c}" IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls, '
                f"CAST(count(DISTINCT {r}) AS BIGINT) AS n_distinct, "
                f"{rmin} AS min_value, {rmax} AS max_value FROM {t}"
            )
    return " UNION ALL ".join(parts)


def q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each event matched to the same user's latest
    PRIOR-or-equal event value — the point-in-time lookup Spark's
    built-in joins lack, as one shuffle + one window (operators.asof).
    DuckDB verifies with its native ASOF JOIN."""
    from lakehouse_tools_spark.operators.asof import asof_join

    s = _spark(spark)
    ev = load_table(s, sf_dir, "events")
    left = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    right = ev.filter(F.col("event_type") == "view").select(
        "user_id", "ts", F.col("value").alias("view_value")
    )
    out = asof_join(left, right, ["user_id"], "ts", "ts", ["view_value"])
    return out.select(
        "event_id",
        "user_id",
        F.date_format("ts", TS_FMT_SPARK).alias("ts_s"),
        "view_value",
    )


_ASOF_ORACLE = f"""
SELECT l.event_id, l.user_id, strftime(l.ts, '{TS_FMT_SQL}') AS ts_s,
       r.value AS view_value
FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase') l
ASOF LEFT JOIN (SELECT user_id, ts, value FROM events WHERE event_type = 'view') r
  ON l.user_id = r.user_id AND l.ts >= r.ts
"""


def q_events_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval × interval overlap join
    (operators/ranges.interval_overlap_join): purchase windows
    [ts, ts+5min] against the same user's view windows [ts, ts+10min]
    — the campaign-attribution shape. Both sides explode across
    covered buckets and equi-join on (user, bucket); the owner-bucket
    rule (keep the pair only in max(starts)'s bucket) makes each
    overlapping pair appear exactly once with NO dedup pass. DuckDB
    verifies with the plain inequality join."""
    from lakehouse_tools_spark.operators.ranges import interval_overlap_join

    s = _spark(spark)
    ev = load_table(s, sf_dir, "events")
    left = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("p_id"),
        "user_id",
        F.col("ts").alias("p_start"),
        (F.col("ts") + F.expr("INTERVAL 5 MINUTES")).alias("p_end"),
    )
    right = ev.filter(F.col("event_type") == "view").select(
        F.col("event_id").alias("v_id"),
        "user_id",
        F.col("ts").alias("v_start"),
        (F.col("ts") + F.expr("INTERVAL 10 MINUTES")).alias("v_end"),
    )
    out = interval_overlap_join(
        left, right, "p_start", "p_end", "v_start", "v_end",
        bucket_seconds=600, extra_keys=("user_id",),
    )
    return out.select("p_id", "user_id", "v_id")


_EVENTS_INTERVAL_ORACLE = """
SELECT p.event_id AS p_id, p.user_id, v.event_id AS v_id
FROM (SELECT event_id, user_id, ts AS s, ts + INTERVAL 5 MINUTE AS e
      FROM events WHERE event_type = 'purchase') p
JOIN (SELECT event_id, user_id, ts AS s, ts + INTERVAL 10 MINUTE AS e
      FROM events WHERE event_type = 'view') v
  ON p.user_id = v.user_id AND p.s <= v.e AND v.s <= p.e
"""


def q_asof_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join with direction='nearest' (pandas merge_asof parity):
    each purchase matched to the same user's CLOSEST view in time,
    ties to the earlier one. Both directional fills run over one
    shuffle (two window sorts); DuckDB verifies with an explicit
    argmin-by-|gap| window."""
    from lakehouse_tools_spark.operators.asof import asof_join

    s = _spark(spark)
    ev = load_table(s, sf_dir, "events")
    left = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    right = ev.filter(F.col("event_type") == "view").select(
        "user_id", "ts", F.col("value").alias("view_value")
    )
    out = asof_join(
        left, right, ["user_id"], "ts", "ts", ["view_value"],
        direction="nearest",
    )
    return out.select(
        "event_id",
        "user_id",
        F.date_format("ts", TS_FMT_SPARK).alias("ts_s"),
        "view_value",
    )


_ASOF_NEAREST_ORACLE = f"""
SELECT event_id, user_id, ts_s, view_value FROM (
  SELECT l.event_id, l.user_id, strftime(l.ts, '{TS_FMT_SQL}') AS ts_s,
         r.value AS view_value,
         row_number() OVER (
           PARTITION BY l.event_id
           ORDER BY abs(epoch(l.ts) - epoch(r.ts)) ASC,
                    CASE WHEN r.ts <= l.ts THEN 0 ELSE 1 END ASC,
                    r.ts ASC
         ) AS rn
  FROM (SELECT event_id, user_id, ts FROM events
        WHERE event_type = 'purchase') l
  LEFT JOIN (SELECT user_id, ts, value FROM events
             WHERE event_type = 'view') r
    ON l.user_id = r.user_id
) WHERE rn = 1
"""


MERGE_RESIDUAL_EXCL = ["NATION_7", "NATION_20"]


def q_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1 MERGE semantics incl. the residual-in-ON subtlety: source
    rows failing the residual never match, so they are *inserted* even
    when their key exists in the target (dbc cell@8.5:3)."""
    nation = load_table(_spark(spark), sf_dir, "nation")
    tgt = nation.filter(F.col("n_nationkey") < 15).select(
        F.col("n_nationkey").alias("k"), F.col("n_name").alias("v")
    )
    src = nation.filter(F.col("n_nationkey") >= 5).select(
        F.col("n_nationkey").alias("k"), F.upper("n_name").alias("v")
    )
    return upsert(tgt, src, ["k"], not_in("v", MERGE_RESIDUAL_EXCL))


_MERGE_ORACLE = f"""
WITH t AS (SELECT n_nationkey AS k, n_name AS v FROM nation WHERE n_nationkey < 15),
     s AS (SELECT n_nationkey AS k, upper(n_name) AS v FROM nation WHERE n_nationkey >= 5),
     sm AS (SELECT * FROM s WHERE v NOT IN ('{MERGE_RESIDUAL_EXCL[0]}', '{MERGE_RESIDUAL_EXCL[1]}'))
SELECT t.k AS k, t.v AS v FROM t WHERE t.k NOT IN (SELECT k FROM sm)
UNION ALL
SELECT sm.k AS k, sm.v AS v FROM t JOIN sm ON t.k = sm.k
UNION ALL
SELECT s.k AS k, s.v AS v FROM s
WHERE s.v IN ('{MERGE_RESIDUAL_EXCL[0]}', '{MERGE_RESIDUAL_EXCL[1]}')
   OR s.k NOT IN (SELECT k FROM t)
"""


def q_merge_evolve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE with Delta-style automatic schema evolution
    (operators/merge.upsert(evolve_schema=True)): the source drops
    c_mktsegment (target-only → RETAINED on match, null on insert)
    and adds loyalty_tier (source-new → appended, null where the
    source didn't touch). Same single full-outer join — evolution is
    pure output-expression bookkeeping, zero extra shuffles."""
    cust = load_table(_spark(spark), sf_dir, "customer")
    src = (
        cust.filter(F.col("c_custkey") % 3 == 0)
        .drop("c_mktsegment")
        .withColumn("c_acctbal", F.col("c_acctbal") * 2)
        .withColumn(
            "loyalty_tier",
            F.concat(F.lit("tier_"), (F.col("c_custkey") % 2).cast("string")),
        )
    )
    return upsert(cust, src, ["c_custkey"], evolve_schema=True)


_MERGE_EVOLVE_ORACLE = """
SELECT c_custkey, c_name, c_nationkey,
       CASE WHEN c_custkey % 3 = 0 THEN c_acctbal * 2
            ELSE c_acctbal END AS c_acctbal,
       c_mktsegment,
       CASE WHEN c_custkey % 3 = 0
            THEN 'tier_' || CAST(c_custkey % 2 AS VARCHAR)
       END AS loyalty_tier
FROM customer
"""


def q_quality_quarantine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dead-letter split (operators/quality.quarantine): one
    projection tags each row with the rules it violates; violators
    exit with per-row reasons instead of failing the batch. The
    query emits the exploded (key, reason) quarantine feed — exactly
    reproducible in SQL as one UNION branch per rule."""
    from lakehouse_tools_spark.operators.quality import quarantine

    orders = load_table(_spark(spark), sf_dir, "orders")
    good, bad = quarantine(
        orders,
        [
            ("matches", "o_orderpriority", r"^[1-3]-"),
            ("in_range", "o_totalprice", None, 200000.0),
        ],
    )
    return bad.select(
        "o_orderkey", F.explode("dq_reasons").alias("reason")
    )


_QUARANTINE_ORACLE = """
SELECT o_orderkey, 'matches:o_orderpriority' AS reason
FROM orders
WHERE o_orderpriority IS NOT NULL
  AND NOT regexp_matches(o_orderpriority, '^[1-3]-')
UNION ALL
SELECT o_orderkey, 'in_range:o_totalprice' AS reason
FROM orders
WHERE o_totalprice IS NOT NULL AND o_totalprice > 200000.0
"""


def q_layout_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-verifiable data-skipping contract for the clustering
    layouts (operators/layout + maintenance.zorder_layout): orders is
    written twice — round-robin repartition(8) and range-partition+
    sort on o_custkey — and a min/max-pruning reader's file-skip
    fraction is measured for a narrow o_custkey range. The clustered
    layout must let the reader skip a majority of files while the
    random layout skips none, and both layouts must preserve every
    row. This is OPTIMIZE ZORDER's value proposition as a driver-
    checked boolean rather than a claim."""
    from lakehouse_tools_spark.operators.layout import (
        file_stats,
        skipping_effectiveness,
    )
    from lakehouse_tools_spark.operators.maintenance import zorder_layout

    s = _spark(spark)
    orders = load_table(s, sf_dir, "orders")
    base = _warehouse_path(s, "_io", "layout_report")
    rand_p, clus_p = base + "_rand", base + "_clus"
    orders.repartition(8).write.mode("overwrite").parquet(rand_p)
    zorder_layout(orders, ["o_custkey"], num_partitions=8).write.mode(
        "overwrite"
    ).parquet(clus_p)
    lo, hi = 100, 200
    eff_r = skipping_effectiveness(
        file_stats(s, rand_p, ["o_custkey"]), "o_custkey", lo, hi
    )
    eff_c = skipping_effectiveness(
        file_stats(s, clus_p, ["o_custkey"]), "o_custkey", lo, hi
    )
    n_rand = s.read.parquet(rand_p).count()
    n_clus = s.read.parquet(clus_p).count()
    return orders.agg(F.count(F.lit(1)).alias("n_rows")).select(
        F.col("n_rows").cast("long"),
        F.lit(n_rand == n_clus).alias("row_counts_equal"),
        (F.col("n_rows") == n_rand).alias("rows_preserved"),
        F.lit(eff_c >= 0.5).alias("clustered_skips_majority"),
        F.lit(eff_r == 0.0).alias("random_skips_none"),
        F.lit(eff_c > eff_r).alias("clustered_beats_random"),
    )


_LAYOUT_REPORT_ORACLE = """
SELECT CAST(count(*) AS BIGINT) AS n_rows, TRUE AS row_counts_equal,
       TRUE AS rows_preserved, TRUE AS clustered_skips_majority,
       TRUE AS random_skips_none, TRUE AS clustered_beats_random
FROM orders
"""


def q_schema_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Catalog-level schema drift (catalog.schema_changes): orders vs
    an evolved version that drops o_orderpriority, retypes o_custkey
    to string, and adds o_channel — one row per added / removed /
    type-changed column. Driver-side by design: schemas are driver
    metadata (zero scans at any size); a distributed join over two
    tiny relations would shuffle for nothing."""
    from lakehouse_tools_spark.catalog import schema_changes

    orders = load_table(_spark(spark), sf_dir, "orders")
    evolved = (
        orders.drop("o_orderpriority")
        .withColumn("o_custkey", F.col("o_custkey").cast("string"))
        .withColumn("o_channel", F.lit("web"))
    )
    return schema_changes(orders, evolved, DB, "orders")


def _schema_drift_oracle() -> str:
    dtypes = dict(FIXTURE_SCHEMAS["orders"])
    rows = [
        ("o_orderpriority", "removed", dtypes["o_orderpriority"], None),
        ("o_custkey", "type_changed", dtypes["o_custkey"], "string"),
        ("o_channel", "added", None, "string"),
    ]
    return "\nUNION ALL\n".join(
        f"SELECT '{DB}' AS databaseName, 'orders' AS tableName,"
        f" '{c}' AS columnName, '{chg}' AS change,"
        f" {'NULL' if old is None else repr(old)} AS old_type,"
        f" {'NULL' if new is None else repr(new)} AS new_type"
        for c, chg, old, new in rows
    )


def q_merge_full_sync(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE with WHEN NOT MATCHED BY SOURCE AND cond THEN DELETE —
    the reference's To-Do (dbc cell@1.0:37). Target = nations k<20;
    source = k in [5,15) uppercased under the residual. Stale target
    rows (unmatched) are deleted only where k >= 10, so the output
    exercises all four branches: kept-stale (k<5, plus the k=7
    residual-failer's original row), updated (matched), inserted
    (residual-failers), deleted (k in [15,20))."""
    nation = load_table(_spark(spark), sf_dir, "nation")
    tgt = nation.filter(F.col("n_nationkey") < 20).select(
        F.col("n_nationkey").alias("k"), F.col("n_name").alias("v")
    )
    src = nation.filter(
        (F.col("n_nationkey") >= 5) & (F.col("n_nationkey") < 15)
    ).select(F.col("n_nationkey").alias("k"), F.upper("n_name").alias("v"))
    return upsert(
        tgt,
        src,
        ["k"],
        not_in("v", MERGE_RESIDUAL_EXCL),
        full_sync=True,
        delete_condition=lambda t: t["k"] >= 10,
    )


_MERGE_FULL_SYNC_ORACLE = f"""
WITH t AS (SELECT n_nationkey AS k, n_name AS v FROM nation WHERE n_nationkey < 20),
     s AS (SELECT n_nationkey AS k, upper(n_name) AS v FROM nation
           WHERE n_nationkey >= 5 AND n_nationkey < 15),
     sm AS (SELECT * FROM s WHERE v NOT IN ('{MERGE_RESIDUAL_EXCL[0]}', '{MERGE_RESIDUAL_EXCL[1]}'))
SELECT t.k AS k, t.v AS v FROM t
WHERE t.k NOT IN (SELECT k FROM sm) AND NOT (t.k >= 10)
UNION ALL
SELECT sm.k AS k, sm.v AS v FROM t JOIN sm ON t.k = sm.k
UNION ALL
SELECT s.k AS k, s.v AS v FROM s
WHERE s.v IN ('{MERGE_RESIDUAL_EXCL[0]}', '{MERGE_RESIDUAL_EXCL[1]}')
   OR s.k NOT IN (SELECT k FROM t)
"""


def q_table_versions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time travel on the durable layer: two keyed upserts with
    ``keep_versions`` retain each replaced generation as a metastore
    rename (zero data movement), and every historical state stays
    queryable via read_version — the parquet stand-in for Delta's
    VERSION AS OF. Returns all three states stacked; the oracle
    recomputes each from nation with CASE."""
    from lakehouse_tools_spark.operators.writer import (
        create_or_replace,
        read_version,
        upsert_into,
    )

    import shutil

    s = _spark(spark)
    tbl = "nation_versioned"
    for t in s.catalog.listTables():
        if t.name == tbl or t.name.startswith(f"{tbl}__"):
            s.sql(f"DROP TABLE `{t.name}`")
    # a PREVIOUS session's archives leave warehouse dirs behind with no
    # catalog entry (in-memory catalog, persistent disk); saveAsTable
    # refuses to reuse such a location, so clear them for this fixture
    wh = _warehouse_path(s)
    if os.path.isdir(wh):
        for d in os.listdir(wh):
            if d == tbl or d.startswith(f"{tbl}__"):
                shutil.rmtree(os.path.join(wh, d), ignore_errors=True)
    nation = load_table(s, sf_dir, "nation").filter(F.col("n_nationkey") < 20)
    base = nation.select(
        F.col("n_nationkey").alias("k"), F.col("n_name").alias("v")
    )
    create_or_replace(s, base, tbl)
    src1 = base.filter(F.col("k") < 10).select("k", F.upper("v").alias("v"))
    upsert_into(s, tbl, src1, ["k"], keep_versions=4)
    src2 = base.filter((F.col("k") >= 5) & (F.col("k") < 15)).select(
        "k", F.concat(F.col("v"), F.lit("!")).alias("v")
    )
    upsert_into(s, tbl, src2, ["k"], keep_versions=4)
    states = [
        read_version(s, tbl, v).select(
            F.lit(v).alias("version"), "k", "v"
        )
        for v in (1, 2, 3)
    ]
    return states[0].unionByName(states[1]).unionByName(states[2])


_TABLE_VERSIONS_ORACLE = """
SELECT 1 AS version, n_nationkey AS k, n_name AS v
FROM nation WHERE n_nationkey < 20
UNION ALL
SELECT 2, n_nationkey,
       CASE WHEN n_nationkey < 10 THEN upper(n_name) ELSE n_name END
FROM nation WHERE n_nationkey < 20
UNION ALL
SELECT 3, n_nationkey,
       CASE WHEN n_nationkey >= 5 AND n_nationkey < 15 THEN concat(n_name, '!')
            WHEN n_nationkey < 10 THEN upper(n_name)
            ELSE n_name END
FROM nation WHERE n_nationkey < 20
"""


def _cdc_feed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events as a CDC change feed: key = user_id, sequence = event_id
    (unique, arrival-ordered), op = delete on 'error' events else
    upsert — the shape a Debezium/Delta-CDF consumer hands an apply
    job."""
    ev = load_table(spark, sf_dir, "events")
    return ev.select(
        "user_id",
        "event_id",
        "ts",
        "value",
        "props",
        F.when(F.col("event_type") == "error", F.lit("D"))
        .otherwise(F.lit("U"))
        .alias("op"),
    )


def q_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC change-feed resolution (operators/cdc.py): the table state
    a change feed implies — latest op per key wins, keys whose final
    op is a delete disappear. One hash shuffle on the key (window
    row_number), no join. Oracle: the same window in SQL."""
    from lakehouse_tools_spark.operators.cdc import apply_changes

    return apply_changes(
        _cdc_feed(_spark(spark), sf_dir), keys=["user_id"], sequence_col="event_id"
    )


_CDC_APPLY_ORACLE = """
WITH feed AS (
  SELECT user_id, event_id, ts, value, props,
         CASE WHEN event_type = 'error' THEN 'D' ELSE 'U' END AS op
  FROM events
), r AS (
  SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn
  FROM feed
)
SELECT user_id, event_id, ts, value, props FROM r WHERE rn = 1 AND op <> 'D'
"""


def q_cdc_merge_into(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental CDC application: resolve a prefix of the feed into
    a base table state, then apply the remainder as a batch
    (left-anti replace + union, operators/cdc.py). The oracle is the
    SINGLE-pass resolution of the whole feed — chunked application
    must land on the identical state (associativity; also pinned for
    every split point in tests/test_cdc.py)."""
    from lakehouse_tools_spark.operators.cdc import (
        apply_changes,
        apply_changes_into,
    )

    feed = _cdc_feed(_spark(spark), sf_dir)
    base = apply_changes(
        feed.filter(F.col("event_id") <= 5000),
        keys=["user_id"],
        sequence_col="event_id",
    )
    return apply_changes_into(
        base,
        feed.filter(F.col("event_id") > 5000),
        keys=["user_id"],
        sequence_col="event_id",
    )


def q_zorder_rowset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O1 row-preservation property: the clustering layout rewrite
    (OPTIMIZE ZORDER analog, dbc cell@9.0/10.0) changes layout only."""
    li = load_table(_spark(spark), sf_dir, "lineitem")
    out = zorder_layout(li, ["l_returnflag", "l_shipdate"])
    return out.select(
        "l_orderkey",
        "l_partkey",
        "l_suppkey",
        "l_linenumber",
        "l_quantity",
        "l_extendedprice",
        "l_returnflag",
        "l_linestatus",
        F.date_format("l_shipdate", TS_FMT_SPARK).alias("l_shipdate_s"),
    )


_ZORDER_ORACLE = f"""
SELECT l_orderkey, l_partkey, l_suppkey, l_linenumber, l_quantity,
       l_extendedprice, l_returnflag, l_linestatus,
       strftime(l_shipdate, '{TS_FMT_SQL}') AS l_shipdate_s
FROM lineitem
"""


# ---------------------------------------------------------------- TPC-H-style


def q_tpch_q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(_spark(spark), sf_dir, "lineitem").filter(
        F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp")
    )
    disc_price = _dec("l_extendedprice") * (F.lit(1) - _dec("l_discount"))
    charge = disc_price * (F.lit(1) + _dec("l_tax"))
    agg = li.groupBy("l_returnflag", "l_linestatus").agg(
        F.sum(_dec("l_quantity")).cast("double").alias("sum_qty"),
        F.sum(_dec("l_extendedprice")).cast("double").alias("sum_base_price"),
        F.sum(disc_price).cast("double").alias("sum_disc_price"),
        F.sum(charge).cast("double").alias("sum_charge"),
        F.count(F.lit(1)).alias("count_order"),
    )
    return agg.select(
        "l_returnflag",
        "l_linestatus",
        "sum_qty",
        "sum_base_price",
        "sum_disc_price",
        "sum_charge",
        F.round(F.col("sum_qty") / F.col("count_order"), 6).alias("avg_qty"),
        F.round(F.col("sum_base_price") / F.col("count_order"), 6).alias("avg_price"),
        "count_order",
    )


_Q1_ORACLE = """
WITH a AS (
  SELECT l_returnflag, l_linestatus,
         CAST(SUM(CAST(l_quantity AS DECIMAL(10,2))) AS DOUBLE) AS sum_qty,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(10,2))) AS DOUBLE) AS sum_base_price,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(10,2)) * (1 - CAST(l_discount AS DECIMAL(10,2)))) AS DOUBLE) AS sum_disc_price,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(10,2)) * (1 - CAST(l_discount AS DECIMAL(10,2))) * (1 + CAST(l_tax AS DECIMAL(10,2)))) AS DOUBLE) AS sum_charge,
         count(*) AS count_order
  FROM lineitem
  WHERE l_shipdate <= TIMESTAMP '1998-09-02'
  GROUP BY l_returnflag, l_linestatus
)
SELECT l_returnflag, l_linestatus, sum_qty, sum_base_price, sum_disc_price,
       sum_charge, round(sum_qty / count_order, 6) AS avg_qty,
       round(sum_base_price / count_order, 6) AS avg_price, count_order
FROM a
"""


def q_tpch_q3(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = _spark(spark)
    cust = load_table(s, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    orders = load_table(s, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp")
    )
    li = load_table(s, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1998-01-01").cast("timestamp")
    )
    revenue = _dec("l_extendedprice") * (F.lit(1) - _dec("l_discount"))
    joined = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
    )
    return (
        joined.groupBy("l_orderkey", "o_orderdate")
        .agg(F.sum(revenue).cast("double").alias("revenue"))
        .select(
            "l_orderkey",
            "revenue",
            F.date_format("o_orderdate", TS_FMT_SPARK).alias("o_orderdate_s"),
        )
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey"))
        .limit(10)
    )


_Q3_ORACLE = f"""
SELECT l_orderkey,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(10,2)) * (1 - CAST(l_discount AS DECIMAL(10,2)))) AS DOUBLE) AS revenue,
       strftime(o_orderdate, '{TS_FMT_SQL}') AS o_orderdate_s
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-01-01'
  AND l_shipdate > TIMESTAMP '1998-01-01'
GROUP BY l_orderkey, o_orderdate
ORDER BY revenue DESC, l_orderkey
LIMIT 10
"""


def q_tpch_q5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local-supplier-volume: 6-way join; small dims broadcast."""
    s = _spark(spark)
    t = load_tables(
        s, sf_dir, ("region", "nation", "customer", "supplier", "orders", "lineitem")
    )
    region = t["region"].filter(F.col("r_name") == "ASIA")
    orders = t["orders"].filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    revenue = _dec("l_extendedprice") * (F.lit(1) - _dec("l_discount"))
    joined = (
        t["lineitem"]
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(t["supplier"]), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(
            t["customer"],
            (F.col("o_custkey") == F.col("c_custkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .join(F.broadcast(t["nation"]), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
    )
    return joined.groupBy("n_name").agg(
        F.sum(revenue).cast("double").alias("revenue"),
        F.count(F.lit(1)).alias("n_items"),
    )


_Q5_ORACLE = """
SELECT n_name,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(10,2)) * (1 - CAST(l_discount AS DECIMAL(10,2)))) AS DOUBLE) AS revenue,
       count(*) AS n_items
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN customer ON o_custkey = c_custkey AND c_nationkey = s_nationkey
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate < TIMESTAMP '1998-01-01'
GROUP BY n_name
"""


def q_tpch_q6(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forecasting-revenue-change: pure filter + aggregate — the query
    whose cost is 100% scan, so pushdown/pruning decide everything."""
    li = load_table(_spark(spark), sf_dir, "lineitem")
    out = li.filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_discount") >= 0.05)
        & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24)
    )
    return out.agg(
        F.sum(_dec("l_extendedprice") * _dec("l_discount"))
        .cast("double")
        .alias("revenue"),
        F.count(F.lit(1)).alias("n_items"),
    )


_Q6_ORACLE = """
SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(10,2)) * CAST(l_discount AS DECIMAL(10,2))) AS DOUBLE) AS revenue,
       count(*) AS n_items
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
  AND l_discount >= 0.05 AND l_discount <= 0.07 AND l_quantity < 24
"""


def q_tpch_q4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: correlated EXISTS subquery → LEFT SEMI join
    (SURVEY §2.4 notes the reference has no semi joins — this covers
    the shape). Fixture lineitem has no commit/receipt dates, so the
    exists-predicate is "some line shipped ≥90 days after the order
    date". Semi join is an equi-join on orderkey with a non-equi
    residual: both sides shuffle on the key once, the residual is
    evaluated stream-side, and no lineitem columns survive the join —
    at 100 TB only (orderkey, shipdate) moves for the probe side.
    """
    s = _spark(spark)
    orders = load_table(s, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    li = load_table(s, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    late = orders.join(
        li,
        (orders.o_orderkey == li.l_orderkey)
        & (li.l_shipdate >= orders.o_orderdate + F.expr("INTERVAL 90 DAY")),
        "left_semi",
    )
    return late.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("order_count")
    )


_Q4_ORACLE = """
SELECT o_orderpriority, count(*) AS order_count
FROM orders o
WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1996-04-01'
  AND EXISTS (SELECT 1 FROM lineitem l
              WHERE l.l_orderkey = o.o_orderkey
                AND l.l_shipdate >= o.o_orderdate + INTERVAL 90 DAY)
GROUP BY o_orderpriority
"""


def q_tpch_q17(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: correlated scalar-aggregate subquery
    (revenue from small-quantity lines vs the per-part average).
    De-correlated Spark-first: per-part (sum, count) aggregate over
    the brand's lineitems, broadcast back (one brand ≈ 1% of parts →
    tiny), so lineitem shuffles once for the partial agg and never
    again for the re-join. The threshold qty < 0.2·avg is compared
    multiplied-out (5·cnt·qty < sum) in exact DECIMAL — no division,
    no float boundary flips between engines.
    """
    s = _spark(spark)
    p = (
        load_table(s, sf_dir, "part")
        .filter(F.col("p_brand") == "Brand#1")
        .select("p_partkey")
    )
    li = load_table(s, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice"
    )
    li_b = li.join(F.broadcast(p), li.l_partkey == p.p_partkey).drop("p_partkey")
    stats = li_b.groupBy("l_partkey").agg(
        F.sum(_dec("l_quantity")).alias("_sum_qty"),
        F.count(F.lit(1)).alias("_cnt"),
    )
    small = li_b.join(F.broadcast(stats), "l_partkey").where(
        _dec("l_quantity") * F.lit(5) * F.col("_cnt") < F.col("_sum_qty")
    )
    return small.agg(
        (F.sum(_dec("l_extendedprice")).cast("double") / F.lit(7)).alias(
            "avg_yearly"
        ),
        F.count(F.lit(1)).alias("n_small"),
    )


_Q17_ORACLE = """
WITH brand_li AS (
  SELECT l_partkey, l_quantity, l_extendedprice
  FROM lineitem JOIN part ON l_partkey = p_partkey
  WHERE p_brand = 'Brand#1'
),
stats AS (
  SELECT l_partkey,
         SUM(CAST(l_quantity AS DECIMAL(10,2))) AS sum_qty,
         count(*) AS cnt
  FROM brand_li GROUP BY l_partkey
)
SELECT CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(10,2))) AS DOUBLE) / 7 AS avg_yearly,
       count(*) AS n_small
FROM brand_li l JOIN stats s ON l.l_partkey = s.l_partkey
WHERE CAST(l.l_quantity AS DECIMAL(10,2)) * 5 * s.cnt < s.sum_qty
"""


def q_tpch_q7(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape (volume shipping): lineitem joined through both
    the supplier-side and customer-side nation dimension, grouped by
    (supp_nation, cust_nation, year). Scale plan: the two-nation
    filter is pushed into the broadcast nation dims *before* the join,
    so the fact stream is pruned at the earliest hash probe; only the
    orders/customer equi-joins shuffle. The asymmetric-pair filter
    (supp != cust) runs post-join on two broadcast-resident columns.
    """
    s = _spark(spark)
    t = load_tables(
        s, sf_dir, ("nation", "customer", "supplier", "orders", "lineitem")
    )
    nations = ("NATION_1", "NATION_2")
    n_s = t["nation"].filter(F.col("n_name").isin(*nations)).select(
        F.col("n_nationkey").alias("s_nkey"), F.col("n_name").alias("supp_nation")
    )
    n_c = t["nation"].filter(F.col("n_name").isin(*nations)).select(
        F.col("n_nationkey").alias("c_nkey"), F.col("n_name").alias("cust_nation")
    )
    li = t["lineitem"].filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    revenue = _dec("l_extendedprice") * (F.lit(1) - _dec("l_discount"))
    joined = (
        li.join(F.broadcast(t["supplier"]), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(n_s), F.col("s_nationkey") == F.col("s_nkey"))
        .join(t["orders"], F.col("l_orderkey") == F.col("o_orderkey"))
        .join(t["customer"], F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n_c), F.col("c_nationkey") == F.col("c_nkey"))
        .filter(F.col("supp_nation") != F.col("cust_nation"))
    )
    return joined.groupBy(
        "supp_nation",
        "cust_nation",
        F.year("l_shipdate").cast("long").alias("l_year"),
    ).agg(
        F.sum(revenue).cast("double").alias("revenue"),
        F.count(F.lit(1)).alias("n_items"),
    )


_Q7_ORACLE = """
SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
       EXTRACT(YEAR FROM l_shipdate) AS l_year,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(10,2)) * (1 - CAST(l_discount AS DECIMAL(10,2)))) AS DOUBLE) AS revenue,
       count(*) AS n_items
FROM lineitem
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation n1 ON s_nationkey = n1.n_nationkey
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation n2 ON c_nationkey = n2.n_nationkey
WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
  AND n1.n_name IN ('NATION_1', 'NATION_2')
  AND n2.n_name IN ('NATION_1', 'NATION_2')
  AND n1.n_name <> n2.n_name
GROUP BY n1.n_name, n2.n_name, EXTRACT(YEAR FROM l_shipdate)
"""


def q_tpch_q8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape (market share): NATION_1 suppliers' share of
    PROMO-part volume sold to AMERICA customers, per order year.
    Numerator and denominator are both exact DECIMAL sums cast to
    double at the end; the share is one IEEE division truncated with
    floor6 — bit-identical across engines. The supplier-side nation
    name rides through the join as a broadcast column so the CASE
    needs no extra shuffle.
    """
    from lakehouse_tools_spark.functions.portable import floor6

    s = _spark(spark)
    t = load_tables(
        s,
        sf_dir,
        ("region", "nation", "customer", "supplier", "orders", "lineitem", "part"),
    )
    part = t["part"].filter(F.col("p_type") == "PROMO").select("p_partkey")
    region = t["region"].filter(F.col("r_name") == "AMERICA")
    orders = t["orders"].filter(
        (F.col("o_orderdate") >= F.lit("1995-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    n_s = t["nation"].select(
        F.col("n_nationkey").alias("s_nkey"), F.col("n_name").alias("supp_nation")
    )
    n_c = t["nation"].select("n_nationkey", "n_regionkey")
    revenue = _dec("l_extendedprice") * (F.lit(1) - _dec("l_discount"))
    joined = (
        t["lineitem"]
        .join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .join(F.broadcast(t["supplier"]), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(n_s), F.col("s_nationkey") == F.col("s_nkey"))
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(t["customer"], F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n_c), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
    )
    by_year = joined.groupBy(
        F.year("o_orderdate").cast("long").alias("o_year")
    ).agg(
        F.sum(F.when(F.col("supp_nation") == "NATION_1", revenue).otherwise(F.lit(0)))
        .cast("double")
        .alias("nation_volume"),
        F.sum(revenue).cast("double").alias("total_volume"),
    )
    return by_year.select(
        "o_year",
        "nation_volume",
        "total_volume",
        floor6(F.col("nation_volume") / F.col("total_volume")).alias("mkt_share"),
    )


_Q8_ORACLE = """
WITH j AS (
  SELECT EXTRACT(YEAR FROM o_orderdate) AS o_year,
         CAST(SUM(CASE WHEN n1.n_name = 'NATION_1'
                       THEN CAST(l_extendedprice AS DECIMAL(10,2)) * (1 - CAST(l_discount AS DECIMAL(10,2)))
                       ELSE 0 END) AS DOUBLE) AS nation_volume,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(10,2)) * (1 - CAST(l_discount AS DECIMAL(10,2)))) AS DOUBLE) AS total_volume
  FROM lineitem
  JOIN part ON l_partkey = p_partkey
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation n1 ON s_nationkey = n1.n_nationkey
  JOIN orders ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation n2 ON c_nationkey = n2.n_nationkey
  JOIN region ON n2.n_regionkey = r_regionkey
  WHERE p_type = 'PROMO' AND r_name = 'AMERICA'
    AND o_orderdate >= TIMESTAMP '1995-01-01' AND o_orderdate < TIMESTAMP '1997-01-01'
  GROUP BY EXTRACT(YEAR FROM o_orderdate)
)
SELECT o_year, nation_volume, total_volume,
       floor(nation_volume / total_volume * 1000000) / 1000000 AS mkt_share
FROM j
"""


def q_tpch_q10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape (returned-item reporting): top-20 customers by
    revenue lost to returns in one quarter. Top-k over a grouped join:
    orders is filtered to the quarter before joining (partition-prunes
    at scale), lineitem prunes to returnflag='R' at the scan, nation
    broadcasts. Deterministic cutoff: custkey tiebreak."""
    s = _spark(spark)
    t = load_tables(s, sf_dir, ("nation", "customer", "orders", "lineitem"))
    orders = t["orders"].filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    li = t["lineitem"].filter(F.col("l_returnflag") == "R")
    revenue = _dec("l_extendedprice") * (F.lit(1) - _dec("l_discount"))
    joined = (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(t["customer"], F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(t["nation"]), F.col("c_nationkey") == F.col("n_nationkey"))
    )
    return (
        joined.groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(F.sum(revenue).cast("double").alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("c_custkey"))
        .limit(20)
    )


_Q10_ORACLE = """
SELECT c_custkey, c_name, c_acctbal, n_name,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(10,2)) * (1 - CAST(l_discount AS DECIMAL(10,2)))) AS DOUBLE) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
WHERE l_returnflag = 'R'
  AND o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1996-04-01'
GROUP BY c_custkey, c_name, c_acctbal, n_name
ORDER BY revenue DESC, c_custkey
LIMIT 20
"""


def q_tpch_q12(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape (shipping-priority counts): conditional
    aggregation (CASE inside SUM) over a late-shipment join. The
    fixture lacks l_shipmode/receiptdate, so "mode" is l_returnflag
    and "late" is shipped ≥60 days after the order date — the
    operator shape (equi-join + residual + pivot-style CASE sums) is
    identical. Map-side the CASE folds into the partial aggregate, so
    only (returnflag, 2 longs) cross the final exchange.
    """
    s = _spark(spark)
    orders = load_table(s, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    li = load_table(s, sf_dir, "lineitem").select(
        "l_orderkey", "l_shipdate", "l_returnflag"
    )
    late = li.join(
        orders,
        (F.col("l_orderkey") == F.col("o_orderkey"))
        & (F.col("l_shipdate") >= F.col("o_orderdate") + F.expr("INTERVAL 60 DAY")),
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return late.groupBy("l_returnflag").agg(
        F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
        F.sum(F.when(high, 0).otherwise(1)).alias("low_line_count"),
    )


_Q12_ORACLE = """
SELECT l_returnflag,
       CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1997-01-01'
  AND l_shipdate >= o_orderdate + INTERVAL 60 DAY
GROUP BY l_returnflag
"""


def q_tpch_q13(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape (customer order-count distribution): LEFT OUTER
    join so zero-order customers survive with c_count=0, then a
    second aggregation over the first's output. The filter lives on
    the orders side *before* the join (ON-clause semantics). Two
    shuffles total — join/agg#1 share the custkey partitioning
    (groupBy on the join key reuses the exchange), agg#2 is over a
    tiny distribution."""
    s = _spark(spark)
    cust = load_table(s, sf_dir, "customer").select("c_custkey")
    orders = load_table(s, sf_dir, "orders").filter(
        F.col("o_orderpriority") != "4-NOT SPECIFIED"
    ).select("o_custkey", "o_orderkey")
    per_cust = (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left_outer")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


_Q13_ORACLE = """
SELECT c_count, count(*) AS custdist
FROM (
  SELECT c_custkey, count(o_orderkey) AS c_count
  FROM customer
  LEFT OUTER JOIN orders
    ON c_custkey = o_custkey AND o_orderpriority <> '4-NOT SPECIFIED'
  GROUP BY c_custkey
)
GROUP BY c_count
"""


def q_tpch_q14(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape (promotion effect): percentage of one month's
    revenue from PROMO parts. Part broadcasts with only (partkey,
    type); both sums are exact DECIMAL; the percentage is
    100·(num/den) — two IEEE ops on identical doubles, floor6'd."""
    from lakehouse_tools_spark.functions.portable import floor6

    s = _spark(spark)
    part = load_table(s, sf_dir, "part").select("p_partkey", "p_type")
    li = load_table(s, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-09-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-10-01").cast("timestamp"))
    )
    revenue = _dec("l_extendedprice") * (F.lit(1) - _dec("l_discount"))
    j = li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
    agg = j.agg(
        F.sum(F.when(F.col("p_type") == "PROMO", revenue).otherwise(F.lit(0)))
        .cast("double")
        .alias("promo_revenue_abs"),
        F.sum(revenue).cast("double").alias("total_revenue"),
        F.count(F.lit(1)).alias("n_items"),
    )
    return agg.select(
        floor6(F.lit(100.0) * F.col("promo_revenue_abs") / F.col("total_revenue"))
        .alias("promo_revenue_pct"),
        "promo_revenue_abs",
        "total_revenue",
        "n_items",
    )


_Q14_ORACLE = """
WITH a AS (
  SELECT CAST(SUM(CASE WHEN p_type = 'PROMO'
                       THEN CAST(l_extendedprice AS DECIMAL(10,2)) * (1 - CAST(l_discount AS DECIMAL(10,2)))
                       ELSE 0 END) AS DOUBLE) AS promo_revenue_abs,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(10,2)) * (1 - CAST(l_discount AS DECIMAL(10,2)))) AS DOUBLE) AS total_revenue,
         count(*) AS n_items
  FROM lineitem JOIN part ON l_partkey = p_partkey
  WHERE l_shipdate >= TIMESTAMP '1996-09-01' AND l_shipdate < TIMESTAMP '1996-10-01'
)
SELECT floor(100.0 * promo_revenue_abs / total_revenue * 1000000) / 1000000 AS promo_revenue_pct,
       promo_revenue_abs, total_revenue, n_items
FROM a
"""


def q_tpch_q18(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape (large-volume orders): HAVING over a grouped
    fact, re-joined to its dimensions. The qty>250 aggregate output is
    tiny (~1% of orders), so AQE downgrades the orders join to a
    broadcast at runtime — no explicit hint needed, and at 100 TB the
    same plan holds because the selectivity, not the input size,
    bounds the build side. Quantity compared in exact DECIMAL."""
    s = _spark(spark)
    t = load_tables(s, sf_dir, ("customer", "orders", "lineitem"))
    big = (
        t["lineitem"]
        .groupBy("l_orderkey")
        .agg(F.sum(_dec("l_quantity")).alias("sum_qty_dec"))
        .filter(F.col("sum_qty_dec") > 250)
    )
    j = (
        t["orders"]
        .join(big, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(t["customer"], F.col("o_custkey") == F.col("c_custkey"))
    )
    return (
        j.select(
            "c_name",
            "c_custkey",
            "o_orderkey",
            F.date_format("o_orderdate", TS_FMT_SPARK).alias("o_orderdate_s"),
            "o_totalprice",
            F.col("sum_qty_dec").cast("double").alias("sum_qty"),
        )
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .limit(100)
    )


_Q18_ORACLE = f"""
SELECT c_name, c_custkey, o_orderkey,
       strftime(o_orderdate, '{TS_FMT_SQL}') AS o_orderdate_s,
       o_totalprice,
       CAST(sum_qty_dec AS DOUBLE) AS sum_qty
FROM (
  SELECT l_orderkey, SUM(CAST(l_quantity AS DECIMAL(10,2))) AS sum_qty_dec
  FROM lineitem GROUP BY l_orderkey
  HAVING SUM(CAST(l_quantity AS DECIMAL(10,2))) > 250
)
JOIN orders ON o_orderkey = l_orderkey
JOIN customer ON o_custkey = c_custkey
ORDER BY o_totalprice DESC, o_orderkey
LIMIT 100
"""


def q_tpch_q19(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape (discounted revenue, disjunctive predicates):
    an OR of three brand/size/quantity conjunctions spanning both join
    sides. Spark pushes the part-only disjunction (brand+size) into
    the broadcast build and evaluates the cross-side residual at probe
    time — the scan-level OR predicate is the point of this shape."""
    s = _spark(spark)
    part = load_table(s, sf_dir, "part").select("p_partkey", "p_brand", "p_size")
    li = load_table(s, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice", "l_discount"
    )
    j = li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
    cond = (
        (
            (F.col("p_brand") == "Brand#1")
            & F.col("p_size").between(1, 15)
            & F.col("l_quantity").between(1, 30)
        )
        | (
            (F.col("p_brand") == "Brand#2")
            & F.col("p_size").between(10, 30)
            & F.col("l_quantity").between(10, 40)
        )
        | (
            (F.col("p_brand") == "Brand#3")
            & F.col("p_size").between(20, 50)
            & F.col("l_quantity").between(20, 50)
        )
    )
    revenue = _dec("l_extendedprice") * (F.lit(1) - _dec("l_discount"))
    return j.filter(cond).agg(
        F.sum(revenue).cast("double").alias("revenue"),
        F.count(F.lit(1)).alias("n_items"),
    )


_Q19_ORACLE = """
SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(10,2)) * (1 - CAST(l_discount AS DECIMAL(10,2)))) AS DOUBLE) AS revenue,
       count(*) AS n_items
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 1 AND 30)
   OR (p_brand = 'Brand#2' AND p_size BETWEEN 10 AND 30 AND l_quantity BETWEEN 10 AND 40)
   OR (p_brand = 'Brand#3' AND p_size BETWEEN 20 AND 50 AND l_quantity BETWEEN 20 AND 50)
"""


def q_tpch_q22(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape (global-sales opportunity): scalar-subquery
    threshold (average positive balance) + NOT EXISTS anti-join,
    grouped by nation (the fixture's stand-in for the phone country
    code). The 1-row average broadcasts via crossJoin; the anti-join
    streams customers against orders' custkey projection. The average
    is an exact DECIMAL sum over one division — deterministic, so the
    > threshold cut is identical in both engines. Fixture custkeys are
    dense (every customer has ≥1 order), so the NOT EXISTS is scoped
    to URGENT orders to keep the anti-join non-degenerate."""
    s = _spark(spark)
    cust = load_table(s, sf_dir, "customer")
    orders = (
        load_table(s, sf_dir, "orders")
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .select("o_custkey")
    )
    avg_bal = cust.filter(F.col("c_acctbal") > 0).agg(
        (F.sum(_dec("c_acctbal")).cast("double") / F.count(F.lit(1))).alias(
            "avg_bal"
        )
    )
    rich = cust.crossJoin(F.broadcast(avg_bal)).filter(
        F.col("c_acctbal") > F.col("avg_bal")
    )
    no_orders = rich.join(
        orders, rich.c_custkey == orders.o_custkey, "left_anti"
    )
    return no_orders.groupBy("c_nationkey").agg(
        F.count(F.lit(1)).alias("numcust"),
        F.sum(_dec("c_acctbal")).cast("double").alias("totacctbal"),
    )


_Q22_ORACLE = """
WITH t AS (
  SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(10,2))) AS DOUBLE) / count(*) AS avg_bal
  FROM customer WHERE c_acctbal > 0
)
SELECT c_nationkey, count(*) AS numcust,
       CAST(SUM(CAST(c_acctbal AS DECIMAL(10,2))) AS DOUBLE) AS totacctbal
FROM customer, t
WHERE c_acctbal > avg_bal
  AND NOT EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
GROUP BY c_nationkey
"""


def q_tpch_q15(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape (top supplier by revenue): an aggregate-of-
    aggregate — revenue per supplier over one quarter, keep the
    supplier(s) whose revenue equals the global max. The max is a
    1-row broadcast crossJoin (the scalar-subquery pattern), so the
    revenue relation is computed once and never re-shuffled."""
    s = _spark(spark)
    li = load_table(s, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    revenue = li.groupBy("l_suppkey").agg(
        F.sum(
            _dec("l_extendedprice") * (F.lit(1) - _dec("l_discount"))
        ).alias("_rev")
    )
    from pyspark import StorageLevel

    revenue = revenue.persist(StorageLevel.MEMORY_AND_DISK)
    mx = revenue.agg(F.max("_rev").alias("_mx"))
    sup = load_table(s, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        revenue.crossJoin(F.broadcast(mx))
        .filter(F.col("_rev") == F.col("_mx"))
        .join(sup, F.col("l_suppkey") == F.col("s_suppkey"))
        .select(
            "s_suppkey",
            "s_name",
            F.col("_rev").cast("double").alias("total_revenue"),
        )
    )


_Q15_ORACLE = """
WITH revenue AS (
  SELECT l_suppkey,
         SUM(CAST(l_extendedprice AS DECIMAL(10,2))
             * (1 - CAST(l_discount AS DECIMAL(10,2)))) AS rev
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1996-04-01'
  GROUP BY l_suppkey
)
SELECT s.s_suppkey, s.s_name, CAST(r.rev AS DOUBLE) AS total_revenue
FROM revenue r JOIN supplier s ON r.l_suppkey = s.s_suppkey
WHERE r.rev = (SELECT max(rev) FROM revenue)
"""


def q_tpch_q21(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape (suppliers who kept orders waiting), adapted to
    the fixture's columns (no commit/receipt dates → "late" means
    shipped >60 days after the order date): for finished orders, count
    per supplier the orders where THIS supplier shipped late, another
    supplier participated (EXISTS), and no OTHER supplier shipped late
    (NOT EXISTS). The exists-pair compiles to one aggregate over the
    order's lineitems (counts of other-supplier lines / other-supplier
    late lines) joined back — one shuffle on orderkey instead of two
    correlated self-joins."""
    s = _spark(spark)
    orders = load_table(s, sf_dir, "orders").filter(
        F.col("o_orderstatus") == "F"
    ).select("o_orderkey", "o_orderdate")
    li = load_table(s, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate"
    )
    lo = li.join(
        orders, li.l_orderkey == orders.o_orderkey
    ).select(
        "l_orderkey",
        "l_suppkey",
        (F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAY"))
        .alias("_late"),
    )
    from pyspark import StorageLevel

    lo = lo.persist(StorageLevel.MEMORY_AND_DISK)
    per_order = lo.groupBy("l_orderkey").agg(
        F.count(F.lit(1)).alias("_n_lines"),
        F.sum(F.when(F.col("_late"), 1).otherwise(0)).alias("_n_late"),
        F.count_distinct(F.col("l_suppkey")).alias("_n_supps"),
        F.count_distinct(F.when(F.col("_late"), F.col("l_suppkey"))).alias(
            "_n_late_supps"
        ),
    )
    waiting = (
        lo.filter(F.col("_late"))
        .select("l_orderkey", "l_suppkey")
        .distinct()
        .join(per_order, "l_orderkey")
        # another supplier participated; no other supplier was late
        .filter((F.col("_n_supps") > 1) & (F.col("_n_late_supps") == 1))
    )
    return (
        waiting.groupBy("l_suppkey")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.col("numwait").desc(), F.col("l_suppkey").asc())
        .limit(20)
        .select(F.col("l_suppkey").alias("s_suppkey"), "numwait")
    )


_Q21_ORACLE = """
WITH lo AS (
  SELECT l.l_orderkey, l.l_suppkey,
         (l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY) AS late
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
  WHERE o.o_orderstatus = 'F'
),
per_order AS (
  SELECT l_orderkey,
         count(DISTINCT l_suppkey) AS n_supps,
         count(DISTINCT CASE WHEN late THEN l_suppkey END) AS n_late_supps
  FROM lo GROUP BY l_orderkey
)
SELECT l_suppkey AS s_suppkey, CAST(count(*) AS BIGINT) AS numwait
FROM (
  SELECT DISTINCT lo.l_orderkey, lo.l_suppkey
  FROM lo JOIN per_order p ON lo.l_orderkey = p.l_orderkey
  WHERE lo.late AND p.n_supps > 1 AND p.n_late_supps = 1
)
GROUP BY l_suppkey
ORDER BY numwait DESC, l_suppkey ASC
LIMIT 20
"""


# ------------------------------------------------- partsupp-family TPC-H
# The fixture set has no partsupp table, so the five partsupp queries
# (Q2/Q9/Q11/Q16/Q20) run over a DERIVED partsupp: one row per
# (l_partkey, l_suppkey) with availqty = total lineitem quantity
# (exact DECIMAL sum) and supplycost = min extended price × 0.1 — a
# cost surrogate chosen to be PURE decimal arithmetic (no binary
# division/rounding anywhere), so every downstream decimal comparison
# and aggregate is bit-reproducible across engines. The query SHAPES
# — correlated min subquery, scalar-subquery threshold, NOT-IN anti
# join, correlated quantity subquery — are the TPC-H ones.


def _ps_derived(s: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(s, sf_dir, "lineitem")
    return li.groupBy(
        F.col("l_partkey").alias("ps_partkey"),
        F.col("l_suppkey").alias("ps_suppkey"),
    ).agg(
        F.sum(_dec("l_quantity")).cast(T.DecimalType(14, 2)).alias("ps_availqty"),
        (F.min(_dec("l_extendedprice")) * F.lit(0.1).cast(T.DecimalType(2, 1)))
        .cast(T.DecimalType(18, 6))
        .alias("ps_supplycost"),
    )


_PS_SQL = """
  SELECT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey,
         CAST(SUM(CAST(l_quantity AS DECIMAL(10,2))) AS DECIMAL(14,2)) AS ps_availqty,
         CAST(MIN(CAST(l_extendedprice AS DECIMAL(10,2))) * CAST(0.1 AS DECIMAL(2,1)) AS DECIMAL(18,6)) AS ps_supplycost
  FROM lineitem GROUP BY 1, 2
"""


def q_tpch_q2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape (min-cost supplier per part in a region): the
    correlated MIN subquery becomes a per-part min aggregate joined
    back on (part, cost) equality. Dimension sides (region-filtered
    suppliers, filtered parts, the per-part minima) are broadcast —
    the derived-partsupp fact relation shuffles once on its own keys
    and is never re-shuffled."""
    s = _spark(spark)
    nr = (
        load_table(s, sf_dir, "nation")
        .join(
            F.broadcast(
                load_table(s, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
            ),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .select("n_nationkey", "n_name")
    )
    sup = (
        load_table(s, sf_dir, "supplier")
        .join(F.broadcast(nr), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    )
    part_f = (
        load_table(s, sf_dir, "part")
        .filter((F.col("p_size") <= 25) & (F.col("p_type") == "STANDARD"))
        .select("p_partkey", "p_name")
    )
    cand = (
        _ps_derived(s, sf_dir)
        .join(F.broadcast(sup), F.col("ps_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(part_f), F.col("ps_partkey") == F.col("p_partkey"))
    )
    minc = cand.groupBy(F.col("ps_partkey").alias("_mpk")).agg(
        F.min("ps_supplycost").alias("_minc")
    )
    return (
        cand.join(
            F.broadcast(minc),
            (F.col("ps_partkey") == F.col("_mpk"))
            & (F.col("ps_supplycost") == F.col("_minc")),
        )
        .select(
            "s_acctbal",
            "s_name",
            "n_name",
            "p_partkey",
            "p_name",
            F.col("ps_supplycost").cast("double").alias("supplycost"),
        )
        .orderBy(
            F.col("s_acctbal").desc(), "n_name", "s_name", "p_partkey"
        )
        .limit(100)
    )


_Q2_ORACLE = f"""
WITH ps AS ({_PS_SQL}),
euro_sup AS (
  SELECT s_suppkey, s_name, s_acctbal, n_name
  FROM supplier JOIN nation ON s_nationkey = n_nationkey
  JOIN region ON n_regionkey = r_regionkey
  WHERE r_name = 'EUROPE'
),
cand AS (
  SELECT * FROM ps
  JOIN euro_sup ON ps_suppkey = s_suppkey
  JOIN (SELECT p_partkey, p_name FROM part
        WHERE p_size <= 25 AND p_type = 'STANDARD') p
    ON ps_partkey = p_partkey
)
SELECT s_acctbal, s_name, n_name, p_partkey, p_name,
       CAST(ps_supplycost AS DOUBLE) AS supplycost
FROM cand c
WHERE ps_supplycost = (SELECT MIN(ps_supplycost) FROM cand c2
                       WHERE c2.ps_partkey = c.ps_partkey)
ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
LIMIT 100
"""


def q_tpch_q9(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape (product-type profit by nation and year):
    lineitem joins the derived partsupp on (partkey, suppkey) — the
    one big co-keyed shuffle — plus broadcast part filter / supplier
    ⋈ nation dims and a shuffle join to orders for the year. Profit
    is exact DECIMAL throughout, cast to double once at the end."""
    s = _spark(spark)
    part_red = (
        load_table(s, sf_dir, "part")
        .filter(F.col("p_name").like("%red%"))
        .select("p_partkey")
    )
    supn = (
        load_table(s, sf_dir, "supplier")
        .join(
            F.broadcast(load_table(s, sf_dir, "nation")),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey", "n_name")
    )
    li = load_table(s, sf_dir, "lineitem").join(
        F.broadcast(part_red), F.col("l_partkey") == F.col("p_partkey")
    )
    ps = _ps_derived(s, sf_dir).join(
        F.broadcast(part_red.select(F.col("p_partkey").alias("_ppk"))),
        F.col("ps_partkey") == F.col("_ppk"),
    )
    amount = _dec("l_extendedprice") * (F.lit(1) - _dec("l_discount")) - F.col(
        "ps_supplycost"
    ) * _dec("l_quantity")
    return (
        li.join(
            ps,
            (F.col("l_partkey") == F.col("ps_partkey"))
            & (F.col("l_suppkey") == F.col("ps_suppkey")),
        )
        .join(F.broadcast(supn), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(
            load_table(s, sf_dir, "orders").select("o_orderkey", "o_orderdate"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("int").alias("o_year"),
        )
        .agg(F.sum(amount).cast("double").alias("sum_profit"))
    )


_Q9_ORACLE = f"""
WITH ps AS ({_PS_SQL})
SELECT n_name AS nation,
       CAST(EXTRACT(year FROM o_orderdate) AS INTEGER) AS o_year,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(10,2))
                * (1 - CAST(l_discount AS DECIMAL(10,2)))
                - ps_supplycost * CAST(l_quantity AS DECIMAL(10,2)))
            AS DOUBLE) AS sum_profit
FROM lineitem
JOIN part ON l_partkey = p_partkey AND p_name LIKE '%red%'
JOIN ps ON l_partkey = ps_partkey AND l_suppkey = ps_suppkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
JOIN orders ON l_orderkey = o_orderkey
GROUP BY 1, 2
"""


def q_tpch_q11(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape (important stock): per-part value restricted
    to one nation's suppliers, kept where value exceeds a scalar
    fraction of the total — the scalar subquery is a 1-row broadcast
    crossJoin over the SAME aggregated relation (computed once,
    persisted implicitly by reuse). All value arithmetic is exact
    DECIMAL so the threshold comparison cannot drift."""
    s = _spark(spark)
    nat_sup = (
        load_table(s, sf_dir, "supplier")
        .join(
            F.broadcast(
                load_table(s, sf_dir, "nation").filter(
                    F.col("n_name") == "NATION_7"
                )
            ),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey")
    )
    val = F.col("ps_supplycost") * F.col("ps_availqty")
    per_part = (
        _ps_derived(s, sf_dir)
        .join(F.broadcast(nat_sup), F.col("ps_suppkey") == F.col("s_suppkey"))
        .groupBy("ps_partkey")
        .agg(F.sum(val).alias("_value"))
    )
    total = per_part.agg(
        (F.sum("_value") * F.lit(0.0005).cast(T.DecimalType(8, 6))).alias("_thr")
    )
    return (
        per_part.crossJoin(F.broadcast(total))
        .filter(F.col("_value") > F.col("_thr"))
        .select(
            "ps_partkey", F.col("_value").cast("double").alias("part_value")
        )
        .orderBy(F.col("part_value").desc(), "ps_partkey")
    )


_Q11_ORACLE = f"""
WITH ps AS ({_PS_SQL}),
pp AS (
  SELECT ps_partkey, SUM(ps_supplycost * ps_availqty) AS value
  FROM ps JOIN supplier ON ps_suppkey = s_suppkey
  JOIN nation ON s_nationkey = n_nationkey
  WHERE n_name = 'NATION_7'
  GROUP BY ps_partkey
)
SELECT ps_partkey, CAST(value AS DOUBLE) AS part_value
FROM pp
WHERE value > (SELECT SUM(value) * CAST(0.0005 AS DECIMAL(8,6)) FROM pp)
ORDER BY part_value DESC, ps_partkey
"""


def q_tpch_q16(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape (supplier count by part attributes): filtered
    part dim broadcast into the derived partsupp, NOT-IN complaint
    suppliers as a broadcast anti join (fixture has no s_comment →
    negative account balance stands in), then a distinct-count per
    (brand, type, size)."""
    s = _spark(spark)
    part_f = (
        load_table(s, sf_dir, "part")
        .filter(
            (F.col("p_brand") != "Brand#5")
            & (F.col("p_type") != "MEDIUM")
            & F.col("p_size").isin(1, 4, 9, 14, 19, 23, 36, 45)
        )
        .select("p_partkey", "p_brand", "p_type", "p_size")
    )
    bad_sup = (
        load_table(s, sf_dir, "supplier")
        .filter(F.col("s_acctbal") < 0)
        .select("s_suppkey")
    )
    return (
        _ps_derived(s, sf_dir)
        .join(F.broadcast(part_f), F.col("ps_partkey") == F.col("p_partkey"))
        .join(
            F.broadcast(bad_sup),
            F.col("ps_suppkey") == F.col("s_suppkey"),
            "left_anti",
        )
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("ps_suppkey").alias("supplier_cnt"))
        .orderBy(
            F.col("supplier_cnt").desc(), "p_brand", "p_type", "p_size"
        )
    )


_Q16_ORACLE = f"""
WITH ps AS ({_PS_SQL})
SELECT p_brand, p_type, p_size,
       CAST(COUNT(DISTINCT ps_suppkey) AS BIGINT) AS supplier_cnt
FROM ps JOIN part ON ps_partkey = p_partkey
WHERE p_brand <> 'Brand#5' AND p_type <> 'MEDIUM'
  AND p_size IN (1, 4, 9, 14, 19, 23, 36, 45)
  AND ps_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
GROUP BY 1, 2, 3
ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
"""


def q_tpch_q20(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape (suppliers with excess stock of promoted
    parts): the correlated quantity subquery becomes a grouped
    1996-shipments aggregate joined on (partkey, suppkey); eligible
    supplier keys semi-join the one-nation supplier dim. DECIMAL
    quantity comparison on both sides."""
    s = _spark(spark)
    small_parts = (
        load_table(s, sf_dir, "part")
        .filter(F.col("p_name").like("small%"))
        .select(F.col("p_partkey").alias("_spk"))
    )
    li = load_table(s, sf_dir, "lineitem")
    q96 = (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
        )
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.sum(_dec("l_quantity")).cast(T.DecimalType(14, 2)).alias("_q96"))
    )
    eligible = (
        _ps_derived(s, sf_dir)
        .join(F.broadcast(small_parts), F.col("ps_partkey") == F.col("_spk"))
        .join(
            q96,
            (F.col("ps_partkey") == F.col("l_partkey"))
            & (F.col("ps_suppkey") == F.col("l_suppkey")),
        )
        .filter(
            F.col("ps_availqty")
            > F.lit(0.5).cast(T.DecimalType(2, 1)) * F.col("_q96")
        )
        .select("ps_suppkey")
        .distinct()
    )
    return (
        load_table(s, sf_dir, "supplier")
        .join(
            F.broadcast(
                load_table(s, sf_dir, "nation").filter(
                    F.col("n_name") == "NATION_3"
                )
            ),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .join(eligible, F.col("s_suppkey") == F.col("ps_suppkey"), "left_semi")
        .select("s_suppkey", "s_name", "s_acctbal")
        .orderBy("s_name")
    )


_Q20_ORACLE = f"""
WITH ps AS ({_PS_SQL}),
q96 AS (
  SELECT l_partkey, l_suppkey,
         CAST(SUM(CAST(l_quantity AS DECIMAL(10,2))) AS DECIMAL(14,2)) AS q96
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
    AND l_shipdate < TIMESTAMP '1997-01-01'
  GROUP BY 1, 2
)
SELECT s_suppkey, s_name, s_acctbal
FROM supplier JOIN nation ON s_nationkey = n_nationkey
WHERE n_name = 'NATION_3'
  AND s_suppkey IN (
    SELECT ps_suppkey FROM ps
    JOIN part ON ps_partkey = p_partkey AND p_name LIKE 'small%'
    JOIN q96 ON ps_partkey = l_partkey AND ps_suppkey = l_suppkey
    WHERE ps_availqty > CAST(0.5 AS DECIMAL(2,1)) * q96
  )
ORDER BY s_name
"""


def q_skew_salted_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-phase salted aggregation over an extreme-skew key
    (l_returnflag: 3 values across the whole fact table). The first
    exchange hashes (key, salt) so no reducer owns a hot key's full
    volume; the second reduces 3×16 partial rows. Result is provably
    identical to the direct groupBy — sums are exact DECIMAL, so the
    two-phase addition order cannot drift — which is exactly what the
    oracle checks."""
    from lakehouse_tools_spark.functions.skew import salted_agg

    li = load_table(_spark(spark), sf_dir, "lineitem").select(
        "l_returnflag", _dec("l_quantity").alias("_q")
    )
    out = salted_agg(li, ["l_returnflag"], ["_q"], buckets=16)
    return out.select(
        "l_returnflag", "n", F.col("sum__q").cast("double").alias("sum_qty")
    )


_SKEW_SALTED_ORACLE = """
SELECT l_returnflag, count(*) AS n,
       CAST(SUM(CAST(l_quantity AS DECIMAL(10,2))) AS DOUBLE) AS sum_qty
FROM lineitem GROUP BY l_returnflag
"""


def q_skew_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted equi-join over a skewed key: lineitem (hot l_returnflag
    values) ⋈ a tiny per-flag dimension. The left salts by a hash of
    its non-key columns, the dimension replicates ``buckets`` times,
    the join runs on (key, salt) — the hot key's rows spread over 16
    partitions. The oracle is the PLAIN join: salting must be
    invisible in the result."""
    from lakehouse_tools_spark.functions.skew import salted_join

    li = load_table(_spark(spark), sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_returnflag"
    )
    dim = (
        load_table(_spark(spark), sf_dir, "lineitem")
        .select("l_returnflag")
        .distinct()
        .select(
            "l_returnflag",
            F.concat(F.lit("flag_"), F.col("l_returnflag")).alias("flag_desc"),
        )
    )
    return salted_join(li, dim, ["l_returnflag"], buckets=16)


_SKEW_SALTED_JOIN_ORACLE = """
SELECT l.l_orderkey, l.l_linenumber, l.l_returnflag,
       'flag_' || d.l_returnflag AS flag_desc
FROM (SELECT l_orderkey, l_linenumber, l_returnflag FROM lineitem) l
JOIN (SELECT DISTINCT l_returnflag FROM lineitem) d
  ON l.l_returnflag = d.l_returnflag
"""


def q_bloom_join_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-style join pruning (functions/prune.semi_prune): a
    selective orders filter (urgent + high-value) is reduced to a
    broadcast fingerprint of distinct md5 key buckets, and lineitem
    drops non-member rows MAP-SIDE — before its join shuffle — via a
    broadcast left-semi join on the bucket. The fingerprint stays
    ≤ num_buckets rows no matter how many orders qualify, which is
    the point at 100 TB: the fact side's shuffle shrinks to ≈ the
    joining rows (+ n/num_buckets false positives the real join then
    drops) without the dim side having to fit a raw broadcast. The
    oracle is the PLAIN join + aggregate: pruning must be invisible
    in the result (no false negatives). Catalyst's AQE runtime bloom
    does this automatically when its thresholds see the case; this is
    the explicit operator for when they can't."""
    from lakehouse_tools_spark.functions.prune import semi_prune

    s = _spark(spark)
    hot = load_table(s, sf_dir, "orders").filter(
        (F.col("o_orderpriority") == "1-URGENT")
        & (F.col("o_totalprice") > 150000)
    )
    li = load_table(s, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice", "l_discount", "l_returnflag"
    )
    pruned = semi_prune(li, "l_orderkey", hot, "o_orderkey", num_buckets=1 << 16)
    revenue = _dec("l_extendedprice") * (F.lit(1) - _dec("l_discount"))
    return (
        pruned.join(hot, pruned.l_orderkey == hot.o_orderkey)
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.sum(revenue).cast("double").alias("revenue"),
        )
    )


_BLOOM_PRUNE_ORACLE = """
SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n_lines,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(10,2)) * (1 - CAST(l_discount AS DECIMAL(10,2)))) AS DOUBLE) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
WHERE o_orderpriority = '1-URGENT' AND o_totalprice > 150000
GROUP BY l_returnflag
"""


def q_window_ranking_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full ranking-function family in one pass: row_number /
    rank / dense_rank / ntile / percent_rank / cume_dist per customer
    over their orders by price — one shuffle, one sort, six outputs
    (all ANSI-defined, so DuckDB agrees exactly). Order is total
    (price desc, orderkey asc) so ties are deterministic."""
    from pyspark.sql import Window

    from lakehouse_tools_spark.functions.portable import floor6

    orders = load_table(_spark(spark), sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey").asc()
    )
    return orders.select(
        "o_orderkey",
        "o_custkey",
        F.row_number().over(w).alias("rn"),
        F.rank().over(w).alias("rk"),
        F.dense_rank().over(w).alias("drk"),
        F.ntile(4).over(w).alias("quartile"),
        floor6(F.percent_rank().over(w)).alias("pct_rank"),
        floor6(F.cume_dist().over(w)).alias("cume"),
    )


_WINDOW_RANKING_ORACLE = """
SELECT o_orderkey, o_custkey,
       CAST(row_number() OVER w AS INT) AS rn,
       CAST(rank() OVER w AS INT) AS rk,
       CAST(dense_rank() OVER w AS INT) AS drk,
       CAST(ntile(4) OVER w AS INT) AS quartile,
       floor(percent_rank() OVER w * 1000000) / 1000000 AS pct_rank,
       floor(cume_dist() OVER w * 1000000) / 1000000 AS cume
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey ASC)
"""


def q_events_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention triangle: users grouped by first-activity
    week; for each (cohort week, week offset) the count of distinct
    users still active. Two aggregates total — first-week per user
    (one shuffle on user_id), then the triangle (one shuffle on the
    cohort pair); weeks are integer floor((days since a Monday
    epoch)/7), identical arithmetic in any engine (date_trunc week
    conventions differ; integer math doesn't)."""
    ev = load_table(_spark(spark), sf_dir, "events")
    week = (
        F.floor(
            F.datediff(F.col("ts").cast("date"), F.lit("1970-01-05").cast("date"))
            / 7
        )
        .cast("long")
    )
    base = ev.select("user_id", week.alias("wk"))
    first = base.groupBy("user_id").agg(F.min("wk").alias("cohort_wk"))
    return (
        base.join(first, "user_id")
        .groupBy("cohort_wk", (F.col("wk") - F.col("cohort_wk")).alias("week_offset"))
        .agg(F.count_distinct("user_id").alias("n_users"))
    )


_EVENTS_RETENTION_ORACLE = """
WITH base AS (
  SELECT user_id,
         CAST(floor(datediff('day', DATE '1970-01-05', CAST(ts AS DATE)) / 7) AS BIGINT) AS wk
  FROM events
),
first AS (SELECT user_id, min(wk) AS cohort_wk FROM base GROUP BY user_id)
SELECT f.cohort_wk, b.wk - f.cohort_wk AS week_offset,
       CAST(count(DISTINCT b.user_id) AS BIGINT) AS n_users
FROM base b JOIN first f ON b.user_id = f.user_id
GROUP BY f.cohort_wk, b.wk - f.cohort_wk
"""


def q_events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered-funnel analytics: per user, did view → click →
    purchase happen in sequence? Computed as three conditional
    min-timestamp aggregates in ONE pass over events (no self-joins —
    the naive 3-way self-join shuffles the fact table three times),
    then step flags from timestamp ordering."""
    ev = load_table(_spark(spark), sf_dir, "events")

    def first_ts(t: str):
        return F.min(F.when(F.col("event_type") == t, F.col("ts")))

    agg = ev.groupBy("user_id").agg(
        first_ts("view").alias("_v"),
        first_ts("click").alias("_c"),
        first_ts("purchase").alias("_p"),
    )
    step1 = F.col("_v").isNotNull()
    step2 = step1 & F.col("_c").isNotNull() & (F.col("_c") >= F.col("_v"))
    step3 = step2 & F.col("_p").isNotNull() & (F.col("_p") >= F.col("_c"))
    return agg.select(
        "user_id",
        step1.alias("did_view"),
        step2.alias("viewed_then_clicked"),
        step3.alias("full_funnel"),
    )


_EVENTS_FUNNEL_ORACLE = """
SELECT user_id,
       (v IS NOT NULL) AS did_view,
       (v IS NOT NULL AND c IS NOT NULL AND c >= v) AS viewed_then_clicked,
       (v IS NOT NULL AND c IS NOT NULL AND c >= v
        AND p IS NOT NULL AND p >= c) AS full_funnel
FROM (
  SELECT user_id,
         min(CASE WHEN event_type = 'view' THEN ts END) AS v,
         min(CASE WHEN event_type = 'click' THEN ts END) AS c,
         min(CASE WHEN event_type = 'purchase' THEN ts END) AS p
  FROM events GROUP BY user_id
)
"""


def q_quality_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality expectations (operators/quality.py): declarative
    rules → per-rule violation counts. All row-level rules on a table
    share ONE aggregate pass; unique is a groupBy; the foreign-key
    rule is a left-anti join. The discount range rule is deliberately
    tight so real violations show up."""
    from lakehouse_tools_spark.operators.quality import check

    s = _spark(spark)
    li = load_table(s, sf_dir, "lineitem")
    orders = load_table(s, sf_dir, "orders")
    cust = load_table(s, sf_dir, "customer")
    li_checks = check(
        li,
        "lineitem",
        [
            ("not_null", "l_orderkey"),
            ("in_range", "l_discount", 0.0, 0.05),
            ("matches", "l_returnflag", r"^[ANR]$"),
            ("unique", ["l_orderkey", "l_linenumber"]),
        ],
    )
    o_checks = check(
        orders,
        "orders",
        [
            ("not_null", "o_custkey"),
            ("references", "o_custkey", cust, "c_custkey"),
        ],
    )
    return li_checks.unionByName(o_checks)


_QUALITY_CHECK_ORACLE = """
SELECT 'lineitem' AS tableName, 'not_null' AS rule, 'l_orderkey' AS "column",
       CAST(sum(CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_violations
FROM lineitem
UNION ALL
SELECT 'lineitem', 'in_range', 'l_discount',
       CAST(sum(CASE WHEN l_discount IS NOT NULL
                      AND (l_discount < 0.0 OR l_discount > 0.05)
                     THEN 1 ELSE 0 END) AS BIGINT)
FROM lineitem
UNION ALL
SELECT 'lineitem', 'matches', 'l_returnflag',
       CAST(sum(CASE WHEN l_returnflag IS NOT NULL
                      AND NOT regexp_matches(l_returnflag, '^[ANR]$')
                     THEN 1 ELSE 0 END) AS BIGINT)
FROM lineitem
UNION ALL
SELECT 'lineitem', 'unique', 'l_orderkey,l_linenumber',
       CAST(coalesce((SELECT sum(n) FROM (
         SELECT count(*) AS n FROM lineitem
         GROUP BY l_orderkey, l_linenumber HAVING count(*) > 1
       )), 0) AS BIGINT)
UNION ALL
SELECT 'orders', 'not_null', 'o_custkey',
       CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
FROM orders
UNION ALL
SELECT 'orders', 'references', 'o_custkey',
       CAST((SELECT count(*) FROM orders
             WHERE o_custkey IS NOT NULL
               AND o_custkey NOT IN (SELECT c_custkey FROM customer)) AS BIGINT)
"""


def q_rollup_pricing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouping-sets surface (absent in the reference, SURVEY §2.5):
    ROLLUP over (returnflag, linestatus) with subtotal rows."""
    li = load_table(_spark(spark), sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.sum(_dec("l_quantity")).cast("double").alias("sum_qty"),
        F.count(F.lit(1)).alias("n_items"),
    )


_ROLLUP_ORACLE = """
SELECT l_returnflag, l_linestatus,
       CAST(SUM(CAST(l_quantity AS DECIMAL(10,2))) AS DOUBLE) AS sum_qty,
       count(*) AS n_items
FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
"""


def q_cube_pricing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE — the full grouping-sets lattice over (returnflag,
    linestatus, shipmode-ish priority): all 2^n subtotal combinations
    in one shuffle (Expand + single aggregate), completing the
    rollup/cube/grouping-id family."""
    li = load_table(_spark(spark), sf_dir, "lineitem")
    return li.cube("l_returnflag", "l_linestatus").agg(
        F.sum(_dec("l_extendedprice")).cast("double").alias("sum_price"),
        F.count(F.lit(1)).alias("n_items"),
        F.grouping_id("l_returnflag", "l_linestatus").alias("gid"),
    )


_CUBE_ORACLE = """
SELECT l_returnflag, l_linestatus,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(10,2))) AS DOUBLE) AS sum_price,
       count(*) AS n_items,
       GROUPING(l_returnflag, l_linestatus) AS gid
FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
"""


def q_setop_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT / EXCEPT surface (absent in the reference, §2.7):
    nations with customers but no suppliers, and with both."""
    s = _spark(spark)
    cust = load_table(s, sf_dir, "customer").select(
        F.col("c_nationkey").alias("nationkey")
    )
    supp = load_table(s, sf_dir, "supplier").select(
        F.col("s_nationkey").alias("nationkey")
    )
    both = cust.intersect(supp).withColumn("relation", F.lit("both"))
    # subtract = SQL EXCEPT (set semantics); exceptAll would be
    # EXCEPT ALL and leave surviving duplicates of shared keys
    only_cust = cust.subtract(supp).withColumn("relation", F.lit("customers_only"))
    return both.unionByName(only_cust)


_SETOP_ORACLE = """
SELECT nationkey, 'both' AS relation FROM (
  SELECT c_nationkey AS nationkey FROM customer
  INTERSECT SELECT s_nationkey FROM supplier)
UNION ALL
SELECT nationkey, 'customers_only' AS relation FROM (
  SELECT c_nationkey AS nationkey FROM customer
  EXCEPT SELECT s_nationkey FROM supplier)
"""

#: Shared-dialect SQL executed VERBATIM by both engines — the raw-SQL
#: entry point (reference §3.2) demonstrated end-to-end.
_RAW_SQL = """
SELECT o_orderstatus, o_orderpriority, count(*) AS n_orders,
       min(o_orderkey) AS min_key, max(o_orderkey) AS max_key
FROM orders GROUP BY o_orderstatus, o_orderpriority
"""


def q_sql_passthrough(spark: SparkSession, sf_dir: str) -> DataFrame:
    from lakehouse_tools_spark.sql import run_sql

    return run_sql(_spark(spark), _RAW_SQL, sf_dir=sf_dir)


# Spark 4 SQL pipe syntax (|>): each stage is a self-contained
# transformation of the previous relation — scan, filter, aggregate,
# post-aggregation filter (the pipe spelling of HAVING), order. The
# engine's SQL passthrough accepts it unchanged because pipe queries
# parse to the SAME logical plan as their nested-SELECT equivalents
# (Catalyst sees no difference — pushdown/pruning/codegen all apply);
# the oracle is the standard-SQL equivalent, proving plan parity by
# value. Money sums follow the repo's determinism rule: exact DECIMAL
# accumulation, cast to double only at the edge.
_PIPE_SQL = """
FROM lineitem
|> WHERE l_shipdate <= DATE '1998-09-02'
|> AGGREGATE
     count(*) AS count_order,
     CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
     CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE)
       AS sum_base_price
   GROUP BY l_returnflag, l_linestatus
|> WHERE count_order > 100
|> ORDER BY l_returnflag, l_linestatus
"""


def q_sql_pipe_passthrough(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL pipe-syntax passthrough (Spark 4's |> operator chain) over
    the raw-SQL surface (F6): the TPC-H Q1 aggregation shape written
    as a linear pipe with a post-aggregation WHERE. Same run_sql
    entry point as q_sql_passthrough — the point is that the modern
    SQL surface needs zero engine changes."""
    from lakehouse_tools_spark.sql import run_sql

    return run_sql(_spark(spark), _PIPE_SQL, sf_dir=sf_dir)


_SQL_PIPE_ORACLE = """
SELECT l_returnflag, l_linestatus, count(*) AS count_order,
       CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE)
         AS sum_base_price
FROM lineitem
WHERE l_shipdate <= DATE '1998-09-02'
GROUP BY l_returnflag, l_linestatus
HAVING count(*) > 100
ORDER BY l_returnflag, l_linestatus
"""


def q_topk_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = _spark(spark)
    cust = load_table(s, sf_dir, "customer")
    orders = load_table(s, sf_dir, "orders")
    return (
        orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("c_custkey", "c_name")
        .agg(
            F.sum(_dec("o_totalprice")).cast("double").alias("total_spend"),
            F.count(F.lit(1)).alias("n_orders"),
        )
        .orderBy(F.col("total_spend").desc(), F.col("c_custkey"))
        .limit(10)
    )


_TOPK_CUSTOMERS_ORACLE = """
SELECT c_custkey, c_name,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(10,2))) AS DOUBLE) AS total_spend,
       count(*) AS n_orders
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_custkey, c_name
ORDER BY total_spend DESC, c_custkey
LIMIT 10
"""


def q_window_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window-function surface (absent in the reference, SURVEY §2.6):
    per-customer top-3 orders by price."""
    orders = load_table(_spark(spark), sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return (
        orders.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice", F.col("rn").cast("int").alias("rn"))
    )


_WINDOW_RANK_ORACLE = """
SELECT o_custkey, o_orderkey, o_totalprice, CAST(rn AS INT) AS rn FROM (
  SELECT o_custkey, o_orderkey, o_totalprice,
         row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rn
  FROM orders
) WHERE rn <= 3
"""


# ---------------------------------------------------------------- dedup

_SHINGLES_CTE = f"""
d AS (
  SELECT doc_id, string_split({_NORM_SQL.format(c="text")}, ' ') AS toks
  FROM documents
),
sh AS (
  SELECT DISTINCT doc_id,
         CASE WHEN len(toks) >= 3 THEN array_to_string(toks[u.i + 1 : u.i + 3], ' ')
              ELSE array_to_string(toks, ' ') END AS shingle
  FROM d, UNNEST(CASE WHEN len(toks) >= 3 THEN generate_series(0, len(toks) - 3)
                      ELSE [0] END) AS u(i)
)
"""

_MINHASH_CTE = (
    _SHINGLES_CTE
    + """,
m AS (
  SELECT doc_id, h.hash_id AS hash_id,
         min(md5(concat(h.hash_id, '|', shingle))) AS minhash
  FROM sh, UNNEST(generate_series(0, 7)) AS h(hash_id)
  GROUP BY doc_id, h.hash_id
)
"""
)


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(_spark(spark), sf_dir, "documents")
    return X_dedup.exact_duplicates(docs, "text", "doc_id")


_DEDUP_EXACT_ORACLE = f"""
SELECT md5({_NORM_SQL.format(c="text")}) AS fp, count(*) AS n_docs,
       min(doc_id) AS keep_id
FROM documents GROUP BY 1
"""


def q_dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(_spark(spark), sf_dir, "documents")
    sigs = X_dedup.minhash_signatures(docs, "text", "doc_id", num_hashes=8, k=3)
    return sigs.select("doc_id", F.col("hash_id").cast("int").alias("hash_id"), "minhash")


_DEDUP_MINHASH_ORACLE = (
    "WITH "
    + _MINHASH_CTE
    + "SELECT doc_id, CAST(hash_id AS INT) AS hash_id, minhash FROM m"
)


def q_dedup_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(_spark(spark), sf_dir, "documents")
    wide = X_dedup.minhash_wide(docs, "text", "doc_id", num_hashes=8, k=3)
    return X_dedup.lsh_candidate_pairs_wide(wide, bands=4, rows_per_band=2)


_DEDUP_LSH_ORACLE = (
    "WITH "
    + _MINHASH_CTE
    + """,
b AS (
  SELECT doc_id, CAST(hash_id // 2 AS INT) AS band,
         md5(array_to_string(list_sort(list(minhash)), '|')) AS bucket
  FROM m GROUP BY doc_id, CAST(hash_id // 2 AS INT)
)
SELECT DISTINCT a.doc_id AS doc_id, b2.doc_id AS doc_id2
FROM b a JOIN b b2 ON a.band = b2.band AND a.bucket = b2.bucket
                  AND a.doc_id < b2.doc_id
"""
)


def q_dedup_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship near-dup pipeline: LSH candidates → Jaccard verify,
    composed. The shingle relation is computed ONCE (persisted inside
    jaccard_pairs) and feeds both the MinHash signatures and the
    candidates' shingle sets; the intersection is computed only for
    LSH candidate pairs — the scale path, never the quadratic
    all-pairs self-join (that form stays in tests/test_dedup.py as
    the recall baseline)."""
    docs = load_table(_spark(spark), sf_dir, "documents")
    sh = X_dedup.word_shingles(docs, "text", "doc_id", k=3)
    wide = X_dedup.minhash_wide_from_shingles(sh, num_hashes=8)
    cand = X_dedup.lsh_candidate_pairs_wide(wide, bands=4, rows_per_band=2)
    return X_dedup.jaccard_pairs(sh, candidates=cand, threshold=0.1)


def q_dedup_graph_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree distribution of the near-dup graph on the oracle-
    computable vec_id<300 window: how many vertices have how many
    duplicate partners — the diagnostic that tells a dedup run
    whether it faces scattered pairs (degree 1-2) or hub documents
    (high degree ⇒ boilerplate/template detection). Exact pairs →
    symmetrize → per-vertex degree → degree histogram; every step is
    one aggregate."""
    emb = load_table(_spark(spark), sf_dir, "embeddings").filter(
        F.col("vec_id") < 300
    )
    pairs = X_sim.neardup_pairs(emb, threshold=0.2).select(
        "vec_id", "vec_id2"
    )
    sym = pairs.unionByName(
        pairs.select(
            F.col("vec_id2").alias("vec_id"), F.col("vec_id").alias("vec_id2")
        )
    )
    deg = sym.groupBy("vec_id").agg(F.count(F.lit(1)).alias("_deg"))
    return (
        deg.groupBy("_deg")
        .agg(F.count(F.lit(1)).alias("n_vertices"))
        .select(
            F.col("_deg").cast("long").alias("degree"),
            F.col("n_vertices").cast("long"),
        )
    )


_DEDUP_GRAPH_STATS_ORACLE = """
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
           FROM embeddings WHERE vec_id < 300),
pairs AS (
  SELECT a.vec_id AS x, b.vec_id AS y
  FROM e a JOIN e b ON a.vec_id < b.vec_id
  WHERE round(list_dot_product(a.v, b.v)
        / (sqrt(list_dot_product(a.v, a.v))
           * sqrt(list_dot_product(b.v, b.v))), 6) >= 0.2
),
sym AS (SELECT x, y FROM pairs UNION ALL SELECT y, x FROM pairs),
deg AS (SELECT x, CAST(count(*) AS BIGINT) AS d FROM sym GROUP BY x)
SELECT d AS degree, CAST(count(*) AS BIGINT) AS n_vertices
FROM deg GROUP BY d
"""


def q_sim_cross_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic contamination screen
    (ext/similarity.cross_neardup_pairs): training-corpus vectors
    (vec_id ≥ 100) within 0.3 cosine of an eval set (vec_id < 100) —
    the paraphrase-level leak exact-fingerprint / shared-n-gram
    decontamination can't see. Exact mode: the small eval side
    broadcasts and every cross pair scores (the audit baseline; the
    LSH-bucketed mode is the corpus×corpus path)."""
    from lakehouse_tools_spark.ext.similarity import cross_neardup_pairs

    emb = load_table(_spark(spark), sf_dir, "embeddings").filter(
        F.col("vec_id") < 300
    )
    ref = emb.filter(F.col("vec_id") < 100)
    corpus = emb.filter(F.col("vec_id") >= 100)
    return cross_neardup_pairs(corpus, ref, threshold=0.3)


_SIM_CROSS_ORACLE = """
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
           FROM embeddings WHERE vec_id < 300)
SELECT a.vec_id AS vec_id, b.vec_id AS ref_id,
       round(list_dot_product(a.v, b.v)
             / (sqrt(list_dot_product(a.v, a.v))
                * sqrt(list_dot_product(b.v, b.v))), 6) AS cos
FROM (SELECT * FROM e WHERE vec_id >= 100) a
JOIN (SELECT * FROM e WHERE vec_id < 100) b ON TRUE
WHERE round(list_dot_product(a.v, b.v)
      / (sqrt(list_dot_product(a.v, a.v))
         * sqrt(list_dot_product(b.v, b.v))), 6) >= 0.3
"""


def q_graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-iteration PageRank (ext/graph.pagerank) over the
    symmetrized near-dup graph on the oracle-computable vec_id<300
    window — link analysis for ranking hub documents / weighting
    cluster representatives by centrality. 3 damped iterations with
    uniform dangling-mass redistribution; the fixed iteration count
    is what lets a chained-CTE SQL oracle replay the computation
    exactly, value for value."""
    from lakehouse_tools_spark.ext.graph import pagerank

    emb = load_table(_spark(spark), sf_dir, "embeddings").filter(
        F.col("vec_id") < 300
    )
    pairs = X_sim.neardup_pairs(emb, threshold=0.2).select(
        "vec_id", "vec_id2"
    )
    sym = pairs.unionByName(
        pairs.select(
            F.col("vec_id2").alias("vec_id"), F.col("vec_id").alias("vec_id2")
        )
    )
    verts = emb.select("vec_id")
    return pagerank(
        verts, sym, id_col="vec_id", src_col="vec_id", dst_col="vec_id2",
        iters=3, damping=0.85,
    )


def _pagerank_oracle(iters: int = 3, d: float = 0.85) -> str:
    head = """
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
           FROM embeddings WHERE vec_id < 300),
pairs AS (
  SELECT a.vec_id AS x, b.vec_id AS y
  FROM e a JOIN e b ON a.vec_id < b.vec_id
  WHERE round(list_dot_product(a.v, b.v)
        / (sqrt(list_dot_product(a.v, a.v))
           * sqrt(list_dot_product(b.v, b.v))), 6) >= 0.2
),
sym AS (SELECT x AS src, y AS dst FROM pairs
        UNION ALL SELECT y, x FROM pairs),
od AS (SELECT src AS s, CAST(count(*) AS BIGINT) AS deg
       FROM sym GROUP BY src),
nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM e),
p0 AS (SELECT vec_id AS id, 1.0 / nn.n AS pr FROM e CROSS JOIN nn)"""
    its = []
    for k in range(1, iters + 1):
        prev = f"p{k - 1}"
        its.append(f""",
p{k} AS (
  SELECT v.vec_id AS id,
         (1 - {d}) / nn.n + {d} * (coalesce(c.s, 0) + dm.m / nn.n) AS pr
  FROM e v
  CROSS JOIN nn
  CROSS JOIN (SELECT coalesce(sum(p.pr), 0) AS m FROM {prev} p
              WHERE p.id NOT IN (SELECT s FROM od)) dm
  LEFT JOIN (SELECT s.dst AS dst, sum(p.pr / od.deg) AS s
             FROM sym s JOIN {prev} p ON p.id = s.src
             JOIN od ON od.s = s.src
             GROUP BY s.dst) c ON c.dst = v.vec_id
)""")
    tail = f"""
SELECT id AS vec_id,
       floor((pr + 1e-9) * 1000000) / 1000000 AS pagerank
FROM p{iters}
"""
    return head + "".join(its) + tail


def q_dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric n-gram containment pairs (ext/dedup.containment_pairs):
    C(A in B) = |A∩B|/|A| — the verdict Jaccard misses when a short
    doc is quoted wholesale inside a much larger one (containment ≈ 1,
    Jaccard ≈ |A|/|B|). Exact baseline here (pairs sharing ≥1 shingle
    via the shingle equi-join — never all-pairs); the LSH candidate
    path composes exactly as in dedup_jaccard via the shared
    _pair_intersections core."""
    docs = load_table(_spark(spark), sf_dir, "documents")
    sh = X_dedup.word_shingles(docs, "text", "doc_id", k=3)
    return X_dedup.containment_pairs(sh, threshold=0.4)


_DEDUP_CONTAINMENT_ORACLE = (
    "WITH "
    + _SHINGLES_CTE
    + """,
sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
inter AS (
  SELECT s1.doc_id AS doc_id, s2.doc_id AS doc_id2, count(*) AS n_inter
  FROM sh s1 JOIN sh s2 ON s1.shingle = s2.shingle AND s1.doc_id < s2.doc_id
  GROUP BY 1, 2
)
SELECT doc_id, doc_id2, c_1in2, c_2in1, containment FROM (
  SELECT i.doc_id, i.doc_id2,
         floor(i.n_inter / a.sz * 1000000) / 1000000 AS c_1in2,
         floor(i.n_inter / b.sz * 1000000) / 1000000 AS c_2in1,
         floor(greatest(i.n_inter / a.sz, i.n_inter / b.sz) * 1000000)
           / 1000000 AS containment
  FROM inter i
  JOIN sizes a ON i.doc_id = a.doc_id
  JOIN sizes b ON i.doc_id2 = b.doc_id
) WHERE containment >= 0.4
"""
)


def q_dedup_minhash_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-as-estimator accuracy, measured not assumed: for every
    LSH candidate pair, the signature-agreement estimate
    est = |{i : h_i(A) = h_i(B)}| / num_hashes sits next to the exact
    shingle Jaccard it estimates, plus the absolute error — the
    per-pair ground truth behind the banded-LSH recall story (E[est]
    = J, so systematic error here means a broken hash family or
    shingler). Everything is md5/integer-set arithmetic: the oracle
    replays signatures, candidates, both scores, and the error
    hash-exactly. Scale shape: signatures and shingles are computed
    once each; both scoring joins are candidate-pruned."""
    docs = load_table(_spark(spark), sf_dir, "documents")
    sh = X_dedup.word_shingles(docs, "text", "doc_id", k=3)
    wide = X_dedup.minhash_wide_from_shingles(sh, num_hashes=8)
    cand = X_dedup.lsh_candidate_pairs_wide(wide, bands=4, rows_per_band=2)
    exact = X_dedup.jaccard_pairs(sh, candidates=cand)
    agree = sum(
        (F.col(f"a._h{i}") == F.col(f"b._h{i}")).cast("int") for i in range(8)
    )
    est = (
        cand.join(wide.alias("a"), cand["doc_id"] == F.col("a.doc_id"))
        .join(wide.alias("b"), cand["doc_id2"] == F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_id"),
            F.col("b.doc_id").alias("doc_id2"),
            (agree.cast("double") / F.lit(8.0)).alias("_est"),
        )
    )
    from lakehouse_tools_spark.functions.portable import floor6

    return est.join(exact, ["doc_id", "doc_id2"]).select(
        "doc_id",
        "doc_id2",
        floor6(F.col("_est")).alias("est_jaccard"),
        "jaccard",
        floor6(F.abs(F.col("_est") - F.col("jaccard"))).alias("abs_err"),
    )


_DEDUP_MINHASH_EST_ORACLE = (
    "WITH "
    + _MINHASH_CTE
    + """,
bnd AS (
  SELECT doc_id, CAST(hash_id // 2 AS INT) AS band,
         md5(array_to_string(list_sort(list(minhash)), '|')) AS bucket
  FROM m GROUP BY doc_id, CAST(hash_id // 2 AS INT)
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_id, b2.doc_id AS doc_id2
  FROM bnd a JOIN bnd b2 ON a.band = b2.band AND a.bucket = b2.bucket
                        AND a.doc_id < b2.doc_id
),
est AS (
  SELECT c.doc_id, c.doc_id2,
         sum(CASE WHEN ma.minhash = mb.minhash THEN 1 ELSE 0 END) / 8.0 AS e
  FROM cand c
  JOIN m ma ON ma.doc_id = c.doc_id
  JOIN m mb ON mb.doc_id = c.doc_id2 AND mb.hash_id = ma.hash_id
  GROUP BY 1, 2
),
sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
inter AS (
  SELECT c.doc_id AS doc_id, c.doc_id2 AS doc_id2, count(*) AS n_inter
  FROM cand c
  JOIN sh s1 ON s1.doc_id = c.doc_id
  JOIN sh s2 ON s2.doc_id = c.doc_id2 AND s2.shingle = s1.shingle
  GROUP BY 1, 2
),
ex AS (
  SELECT i.doc_id, i.doc_id2,
         floor(i.n_inter / (a.sz + b.sz - i.n_inter) * 1000000) / 1000000 AS jaccard
  FROM inter i
  JOIN sizes a ON i.doc_id = a.doc_id
  JOIN sizes b ON i.doc_id2 = b.doc_id
)
SELECT e.doc_id, e.doc_id2,
       floor(e.e * 1000000) / 1000000 AS est_jaccard,
       ex.jaccard,
       floor(abs(e.e - ex.jaccard) * 1000000) / 1000000 AS abs_err
FROM est e JOIN ex ON e.doc_id = ex.doc_id AND e.doc_id2 = ex.doc_id2
"""
)


def q_dedup_cluster_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash cluster-dedup precision/recall, measured not assumed
    (ext/dedup.cluster_dedup_report — the r12 growth candidate
    extending ``dedup_minhash_estimate`` from per-pair estimator
    error to the DECISION level): at each threshold the sketch-only
    predicted duplicate set (LSH candidates with signature agreement
    >= t) is scored against the exact shingle-Jaccard truth set, as
    pairs (precision/recall) and as clusters (tree-contraction
    connected components over both graphs: cluster counts and how
    many docs a collapse would drop). The oracle replays signatures,
    candidates, both pair sets, and BOTH transitive closures
    (recursive CTEs) hash-exactly. The predicted side is the
    production bucketed path; the exact side is the audit baseline,
    sample-bounded at web scale like the other recall reports."""
    docs = load_table(_spark(spark), sf_dir, "documents")
    return X_dedup.cluster_dedup_report(
        docs, "text", "doc_id", thresholds=(0.25, 0.5, 0.75)
    )


def _cluster_report_oracle(thresholds: tuple[float, ...]) -> str:
    """Build the dedup_cluster_report oracle: the minhash/candidate/
    est CTEs from the estimator oracle, the exact-Jaccard truth
    relation, and per-(side, threshold) recursive-CTE transitive
    closures for the cluster counts."""
    tmin = min(thresholds)
    cc, rows = [], []
    for i, t in enumerate(thresholds):
        for side, col in (("p", "est"), ("t", "jac")):
            cc.append(f"""
e_{side}{i} AS (
  SELECT doc_id AS a, doc_id2 AS b FROM scored WHERE {col} >= {t}
),
sym_{side}{i} AS (
  SELECT a, b FROM e_{side}{i} UNION SELECT b, a FROM e_{side}{i}
),
reach_{side}{i} AS (
  SELECT DISTINCT a AS v, a AS u FROM sym_{side}{i}
  UNION
  SELECT r.v, s.b AS u FROM reach_{side}{i} r JOIN sym_{side}{i} s ON s.a = r.u
),
comp_{side}{i} AS (
  SELECT v, min(u) AS lbl FROM reach_{side}{i} GROUP BY v
),
cs_{side}{i} AS (
  SELECT count(DISTINCT lbl) AS n_clusters, count(*) AS n_dup FROM comp_{side}{i}
)""")
        rows.append(f"""
SELECT CAST({t} AS DOUBLE) AS threshold,
  (SELECT count(*) FROM scored WHERE est >= {t}) AS n_pred_pairs,
  (SELECT count(*) FROM scored WHERE jac >= {t}) AS n_true_pairs,
  (SELECT count(*) FROM scored WHERE est >= {t} AND jac >= {t}) AS n_hit_pairs,
  CASE WHEN (SELECT count(*) FROM scored WHERE est >= {t}) = 0 THEN 1.0
       ELSE floor((SELECT count(*) FROM scored WHERE est >= {t} AND jac >= {t})
                  / CAST((SELECT count(*) FROM scored WHERE est >= {t}) AS DOUBLE)
                  * 1000000) / 1000000
  END AS pair_precision,
  CASE WHEN (SELECT count(*) FROM scored WHERE jac >= {t}) = 0 THEN 1.0
       ELSE floor((SELECT count(*) FROM scored WHERE est >= {t} AND jac >= {t})
                  / CAST((SELECT count(*) FROM scored WHERE jac >= {t}) AS DOUBLE)
                  * 1000000) / 1000000
  END AS pair_recall,
  (SELECT coalesce(max(n_clusters), 0) FROM cs_p{i}) AS n_pred_clusters,
  (SELECT coalesce(max(n_dup - n_clusters), 0) FROM cs_p{i}) AS n_pred_collapsed,
  (SELECT coalesce(max(n_clusters), 0) FROM cs_t{i}) AS n_true_clusters,
  (SELECT coalesce(max(n_dup - n_clusters), 0) FROM cs_t{i}) AS n_true_collapsed
""")
    return (
        "WITH RECURSIVE "
        + _MINHASH_CTE
        + """,
bnd AS (
  SELECT doc_id, CAST(hash_id // 2 AS INT) AS band,
         md5(array_to_string(list_sort(list(minhash)), '|')) AS bucket
  FROM m GROUP BY doc_id, CAST(hash_id // 2 AS INT)
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_id, b2.doc_id AS doc_id2
  FROM bnd a JOIN bnd b2 ON a.band = b2.band AND a.bucket = b2.bucket
                        AND a.doc_id < b2.doc_id
),
est AS (
  SELECT c.doc_id, c.doc_id2,
         sum(CASE WHEN ma.minhash = mb.minhash THEN 1 ELSE 0 END) / 8.0 AS e
  FROM cand c
  JOIN m ma ON ma.doc_id = c.doc_id
  JOIN m mb ON mb.doc_id = c.doc_id2 AND mb.hash_id = ma.hash_id
  GROUP BY 1, 2
),
sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
inter AS (
  SELECT s1.doc_id AS doc_id, s2.doc_id AS doc_id2, count(*) AS n_inter
  FROM sh s1 JOIN sh s2 ON s2.shingle = s1.shingle AND s1.doc_id < s2.doc_id
  GROUP BY 1, 2
),
tru AS (
  SELECT doc_id, doc_id2, jaccard FROM (
    SELECT i.doc_id, i.doc_id2,
           floor(i.n_inter / CAST(a.sz + b.sz - i.n_inter AS DOUBLE)
                 * 1000000) / 1000000 AS jaccard
    FROM inter i
    JOIN sizes a ON i.doc_id = a.doc_id
    JOIN sizes b ON i.doc_id2 = b.doc_id
  ) WHERE jaccard >= """
        + str(tmin)
        + """
),
scored AS (
  SELECT coalesce(e.doc_id, t.doc_id) AS doc_id,
         coalesce(e.doc_id2, t.doc_id2) AS doc_id2,
         coalesce(e.e, -1.0) AS est,
         coalesce(t.jaccard, 0.0) AS jac
  FROM est e FULL OUTER JOIN tru t
    ON e.doc_id = t.doc_id AND e.doc_id2 = t.doc_id2
),"""
        + ",".join(cc)
        + "\n"
        + "\nUNION ALL\n".join(rows)
        + "\nORDER BY threshold"
    )


_DEDUP_CLUSTER_REPORT_ORACLE = _cluster_report_oracle((0.25, 0.5, 0.75))


def q_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise source-overlap matrix (ext/corpus.source_overlap):
    distinct-shingle Jaccard + both containments per source pair —
    the mixture-design diagnostic that catches two feeds carrying the
    same content before their weights double-count it. The corpus
    collapses to a distinct (source, shingle) relation first, so the
    pair join is bounded by sources² per shingle, never corpus-sized.
    Exact integer set arithmetic + 1e-6 floors → fully
    hash-verified."""
    from lakehouse_tools_spark.ext.corpus import source_overlap

    docs = load_table(_spark(spark), sf_dir, "documents")
    return source_overlap(docs, "text", "source")


_SOURCE_OVERLAP_ORACLE = f"""
WITH d AS (
  SELECT source, string_split({_NORM_SQL.format(c="text")}, ' ') AS toks
  FROM documents
),
sh AS (
  SELECT DISTINCT source,
         CASE WHEN len(toks) >= 3 THEN array_to_string(toks[u.i + 1 : u.i + 3], ' ')
              ELSE array_to_string(toks, ' ') END AS shingle
  FROM d, UNNEST(CASE WHEN len(toks) >= 3 THEN generate_series(0, len(toks) - 3)
                      ELSE [0] END) AS u(i)
),
sizes AS (SELECT source, count(*) AS sz FROM sh GROUP BY source),
inter AS (
  SELECT a.source AS source_a, b.source AS source_b, count(*) AS n_shared
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.source < b.source
  GROUP BY 1, 2
)
SELECT i.source_a, i.source_b,
       CAST(a.sz AS BIGINT) AS n_shingles_a,
       CAST(b.sz AS BIGINT) AS n_shingles_b,
       CAST(i.n_shared AS BIGINT) AS n_shared,
       floor(i.n_shared / (a.sz + b.sz - i.n_shared) * 1000000) / 1000000 AS jaccard,
       floor(i.n_shared / a.sz * 1000000) / 1000000 AS c_a_in_b,
       floor(i.n_shared / b.sz * 1000000) / 1000000 AS c_b_in_a
FROM inter i
JOIN sizes a ON i.source_a = a.source
JOIN sizes b ON i.source_b = b.source
"""


def q_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental new-batch dedup screening (ext/dedup.
    incremental_screen): the even-doc_id half of documents plays the
    EXISTING corpus — represented only by its persisted banded-MinHash
    index (build_dedup_index) — and the odd half arrives as the new
    batch. Candidates come from the batch-bands × index equi-join
    (never batch × corpus), and exact Jaccard verification
    re-shingles only documents in some candidate pair. The md5 hash
    family and band buckets are engine-portable, so the oracle
    replays the entire screen: both band relations, the candidate
    join, and the exact set arithmetic."""
    from lakehouse_tools_spark.ext.dedup import (
        build_dedup_index,
        incremental_screen,
    )

    docs = load_table(_spark(spark), sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") % 2 == 0)
    new = docs.filter(F.col("doc_id") % 2 == 1)
    index = build_dedup_index(corpus, "text", "doc_id")
    return incremental_screen(
        new, corpus, index, "text", "doc_id", threshold=0.1
    )


def _dedup_incremental_oracle() -> str:
    # replay both sides' band relations (the shared _MINHASH_CTE
    # machinery parameterized by the parity split), the candidate
    # equi-join, and the exact Jaccard over candidate docs only
    def side(par: int, tag: str) -> str:
        return f"""d{tag} AS (
  SELECT doc_id, string_split({_NORM_SQL.format(c="text")}, ' ') AS toks
  FROM documents WHERE doc_id % 2 = {par}
),
sh{tag} AS (
  SELECT DISTINCT doc_id,
         CASE WHEN len(toks) >= 3 THEN array_to_string(toks[u.i + 1 : u.i + 3], ' ')
              ELSE array_to_string(toks, ' ') END AS shingle
  FROM d{tag}, UNNEST(CASE WHEN len(toks) >= 3 THEN generate_series(0, len(toks) - 3)
                      ELSE [0] END) AS u(i)
),
m{tag} AS (
  SELECT doc_id, h.hash_id AS hash_id,
         min(md5(concat(h.hash_id, '|', shingle))) AS minhash
  FROM sh{tag}, UNNEST(generate_series(0, 7)) AS h(hash_id)
  GROUP BY doc_id, h.hash_id
),
b{tag} AS (
  SELECT doc_id, CAST(hash_id // 2 AS INT) AS band,
         md5(array_to_string(list_sort(list(minhash)), '|')) AS bucket
  FROM m{tag} GROUP BY doc_id, CAST(hash_id // 2 AS INT)
)"""

    return (
        "WITH "
        + side(1, "n")
        + ",\n"
        + side(0, "c")
        + """,
cand AS (
  SELECT DISTINCT n.doc_id AS doc_id, c.doc_id AS doc_id2
  FROM bn n JOIN bc c ON n.band = c.band AND n.bucket = c.bucket
),
sizes_n AS (SELECT doc_id, count(*) AS sz FROM shn GROUP BY doc_id),
sizes_c AS (SELECT doc_id, count(*) AS sz FROM shc GROUP BY doc_id),
inter AS (
  SELECT cd.doc_id AS doc_id, cd.doc_id2 AS doc_id2, count(*) AS n_inter
  FROM cand cd
  JOIN shn s1 ON s1.doc_id = cd.doc_id
  JOIN shc s2 ON s2.doc_id = cd.doc_id2 AND s2.shingle = s1.shingle
  GROUP BY 1, 2
)
SELECT i.doc_id, i.doc_id2,
       floor(i.n_inter / (a.sz + b.sz - i.n_inter) * 1000000) / 1000000 AS jaccard
FROM inter i
JOIN sizes_n a ON i.doc_id = a.doc_id
JOIN sizes_c b ON i.doc_id2 = b.doc_id
WHERE floor(i.n_inter / (a.sz + b.sz - i.n_inter) * 1000000) / 1000000 >= 0.1"""
    )


_DEDUP_JACCARD_ORACLE = (
    "WITH "
    + _MINHASH_CTE
    + """,
bnd AS (
  SELECT doc_id, CAST(hash_id // 2 AS INT) AS band,
         md5(array_to_string(list_sort(list(minhash)), '|')) AS bucket
  FROM m GROUP BY doc_id, CAST(hash_id // 2 AS INT)
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_id, b2.doc_id AS doc_id2
  FROM bnd a JOIN bnd b2 ON a.band = b2.band AND a.bucket = b2.bucket
                        AND a.doc_id < b2.doc_id
),
sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
inter AS (
  SELECT c.doc_id AS doc_id, c.doc_id2 AS doc_id2, count(*) AS n_inter
  FROM cand c
  JOIN sh s1 ON s1.doc_id = c.doc_id
  JOIN sh s2 ON s2.doc_id = c.doc_id2 AND s2.shingle = s1.shingle
  GROUP BY 1, 2
)
SELECT i.doc_id, i.doc_id2,
       floor(i.n_inter / (a.sz + b.sz - i.n_inter) * 1000000) / 1000000 AS jaccard
FROM inter i
JOIN sizes a ON i.doc_id = a.doc_id
JOIN sizes b ON i.doc_id2 = b.doc_id
WHERE floor(i.n_inter / (a.sz + b.sz - i.n_inter) * 1000000) / 1000000 >= 0.1
"""
)


def q_dedup_winnow(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(_spark(spark), sf_dir, "documents")
    return X_dedup.winnow_fingerprints(docs, "text", "doc_id", k=8, window=4)


_DEDUP_WINNOW_ORACLE = f"""
WITH base AS (
  SELECT doc_id, {_NORM_SQL.format(c="text")} AS txt FROM documents
),
grams AS (
  SELECT doc_id,
         list_transform(
           generate_series(1, greatest(length(txt) - 8 + 1, 1)),
           i -> CAST(CAST(concat('0x', substr(md5(substr(txt, i, 8)), 1, 8)) AS BIGINT) AS BIGINT)
         ) AS hashes
  FROM base
),
fps AS (
  SELECT doc_id,
         list_distinct(list_transform(
           generate_series(1, greatest(len(hashes) - 4 + 1, 1)),
           j -> list_min(hashes[j : j + 3])
         )) AS f
  FROM grams
)
SELECT DISTINCT doc_id, unnest(f) AS fingerprint FROM fps
"""


def q_dedup_winnow_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MOSS-style plagiarism candidates (ext/dedup.winnow_pairs):
    document pairs sharing ≥40 winnowing fingerprints — copied
    PASSAGES between otherwise different documents, a different
    detection axis than whole-document Jaccard/containment. The
    fixture's generated boilerplate puts the pairwise noise floor at
    ~7 shared fingerprints (median) with a 99th percentile of 25, so
    40 isolates genuine passage-level copies. One equi-self-join on
    the fingerprint value, never all-pairs."""
    docs = load_table(_spark(spark), sf_dir, "documents")
    fps = X_dedup.winnow_fingerprints(docs, "text", "doc_id", k=8, window=4)
    return X_dedup.winnow_pairs(fps, min_shared=40, persist=True)


_WINNOW_PAIRS_ORACLE = f"""
SELECT a.doc_id, b.doc_id2, CAST(count(*) AS BIGINT) AS n_shared
FROM ({_DEDUP_WINNOW_ORACLE}) a
JOIN (SELECT doc_id AS doc_id2, fingerprint
      FROM ({_DEDUP_WINNOW_ORACLE})) b
  ON a.fingerprint = b.fingerprint AND a.doc_id < b.doc_id2
GROUP BY 1, 2
HAVING count(*) >= 40
"""


def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(_spark(spark), sf_dir, "documents")
    return X_dedup.simhash(docs, "text", "doc_id", bits=32)


def _simhash_oracle() -> str:
    sums = ", ".join(
        f"SUM(((h >> {b}) & 1) * 2 - 1) AS b{b}" for b in range(32)
    )
    pack = " + ".join(
        f"CASE WHEN b{b} > 0 THEN CAST({1 << b} AS BIGINT) ELSE 0 END"
        for b in range(32)
    )
    norm = _NORM_SQL.format(c="text")
    return f"""
WITH d AS (SELECT doc_id, string_split({norm}, ' ') AS toks FROM documents),
w AS (SELECT DISTINCT doc_id, w FROM (SELECT doc_id, unnest(toks) AS w FROM d)),
h AS (SELECT doc_id, CAST(concat('0x', substr(md5(w), 1, 8)) AS BIGINT) AS h FROM w),
s AS (SELECT doc_id, {sums} FROM h GROUP BY doc_id)
SELECT doc_id, {pack} AS simhash FROM s
"""


# ---------------------------------------------------------------- similarity


def q_sim_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(_spark(spark), sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    out = X_sim.cosine_topk(emb, queries, k=10)
    return out.select("query_id", "vec_id", "cos", F.col("rank").cast("int").alias("rank"))


_SIM_TOPK_ORACLE = """
WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
           FROM embeddings WHERE vec_id < 5),
c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS cv FROM embeddings),
s AS (
  SELECT q.query_id, c.vec_id,
         round(list_dot_product(qv, cv)
               / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))), 6) AS cos
  FROM c, q WHERE c.vec_id != q.query_id
),
r AS (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rank FROM s)
SELECT query_id, vec_id, cos, CAST(rank AS INT) AS rank FROM r WHERE rank <= 10
"""


def q_sim_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining (ext/similarity.hard_negatives): for each
    of 5 query embeddings, the 10 most-similar vectors with a
    DIFFERENT label — the contrastive-training negatives that sit on
    the decision boundary. Exact broadcast scoring with the label
    exclusion applied before ranking; fully oracle-checkable."""
    emb = load_table(_spark(spark), sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    out = X_sim.hard_negatives(emb, queries, k=10)
    return out.select(
        "query_id", "vec_id", "cos", F.col("rank").cast("int").alias("rank")
    )


_SIM_HARD_NEG_ORACLE = """
WITH q AS (SELECT vec_id AS query_id, label AS qlabel,
                  CAST(embedding AS DOUBLE[]) AS qv
           FROM embeddings WHERE vec_id < 5),
c AS (SELECT vec_id, label AS clabel, CAST(embedding AS DOUBLE[]) AS cv
      FROM embeddings),
s AS (
  SELECT q.query_id, c.vec_id,
         round(list_dot_product(qv, cv)
               / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))), 6) AS cos
  FROM c, q
  WHERE c.clabel IS NOT NULL AND c.clabel IS DISTINCT FROM q.qlabel
),
r AS (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rank FROM s)
SELECT query_id, vec_id, cos, CAST(rank AS INT) AS rank FROM r WHERE rank <= 10
"""


def q_sim_quantize_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8 embedding quantization accuracy contract
    (functions/vectors.quantize_int8): every vector is quantized to
    symmetric int8 + per-vector scale (4× smaller storage/IO for ANN
    corpora), dequantized, and scored — max per-element error must
    sit within scale/2 and the original↔reconstructed cosine is
    reported. floor(x+0.5) rounding makes the codes bit-identical
    across engines, so the oracle recomputes the whole round trip and
    the driver hash-verifies errors and cosines, not just row
    counts."""
    from lakehouse_tools_spark.functions.portable import floor6
    from lakehouse_tools_spark.functions.vectors import (
        dequantize_int8,
        dot_product,
        l2_norm,
        quantize_int8,
    )

    emb = load_table(_spark(spark), sf_dir, "embeddings")
    vd = F.col("embedding").cast("array<double>")
    base = emb.select(
        "vec_id",
        vd.alias("_v"),
        dequantize_int8(quantize_int8(vd)).alias("_dq"),
        quantize_int8(vd).getField("scale").alias("_scale"),
    )
    max_err = F.array_max(
        F.zip_with(F.col("_v"), F.col("_dq"), lambda x, y: F.abs(x - y))
    )
    cos = dot_product(F.col("_v"), F.col("_dq")) / (
        l2_norm(F.col("_v")) * l2_norm(F.col("_dq"))
    )
    return base.select(
        "vec_id",
        floor6(F.col("_scale")).alias("scale6"),
        floor6(max_err).alias("max_abs_err"),
        floor6(cos).alias("cos_dq"),
        (max_err <= F.col("_scale") * 0.500001).alias("within_bound"),
    )


_SIM_QUANTIZE_ORACLE = """
WITH b AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
         list_max(list_transform(CAST(embedding AS DOUBLE[]), x -> abs(x))) / 127.0 AS scale
  FROM embeddings
),
d AS (
  SELECT vec_id, v, scale,
         CASE WHEN scale = 0
              THEN list_transform(v, x -> 0.0)
              ELSE list_transform(v, x -> floor(x / scale + 0.5) * scale)
         END AS dq
  FROM b
)
SELECT vec_id,
       floor(scale * 1000000) / 1000000 AS scale6,
       floor(list_max(list_transform(generate_series(1, len(v)), i -> abs(v[i] - dq[i]))) * 1000000) / 1000000 AS max_abs_err,
       floor(list_dot_product(v, dq)
             / (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(dq, dq)))
             * 1000000) / 1000000 AS cos_dq,
       list_max(list_transform(generate_series(1, len(v)), i -> abs(v[i] - dq[i])))
         <= scale * 0.500001 AS within_bound
FROM d
"""


def q_sim_topk_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same exact top-k through the Arrow/Pandas-UDF path
    (mapInPandas + numpy batch scoring) — shares the Catalyst path's
    oracle, so the gate proves the two implementations bit-agree."""
    emb = load_table(_spark(spark), sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    out = X_sim.cosine_topk_pandas(emb, queries, k=10)
    return out.select("query_id", "vec_id", "cos", F.col("rank").cast("int").alias("rank"))


def q_sim_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style ANN: zero-shuffle nearest-centroid assignment (cell
    id computed inline from literal centroid arrays), broadcast probe
    of the query's cell, exact re-scoring. Centroids are the 8
    lowest-id corpus vectors — deterministic, so fully
    oracle-checkable (unlike the hyperplane-LSH variant)."""
    emb = load_table(_spark(spark), sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    out = X_sim.ivf_topk(emb, queries, k=10, num_centroids=8)
    return out.select("query_id", "vec_id", "cos", F.col("rank").cast("int").alias("rank"))


_COS_SQL = "round(list_dot_product({a}, {b}) / (sqrt(list_dot_product({a}, {a})) * sqrt(list_dot_product({b}, {b}))), 6)"

_SIM_IVF_ORACLE = f"""
WITH cent AS (
  SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS cv
  FROM embeddings WHERE vec_id < 8
),
c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
ca AS (
  SELECT vec_id, v, cid,
         row_number() OVER (
           PARTITION BY vec_id
           ORDER BY {_COS_SQL.format(a="v", b="cv")} DESC, cid
         ) AS rn
  FROM c, cent
),
cassign AS (SELECT vec_id, v, cid AS cell FROM ca WHERE rn = 1),
qassign AS (SELECT vec_id AS query_id, v AS qv, cell AS qcell
            FROM cassign WHERE vec_id < 5),
s AS (
  SELECT q.query_id, c.vec_id, {_COS_SQL.format(a="qv", b="v")} AS cos
  FROM cassign c JOIN qassign q ON c.cell = q.qcell AND c.vec_id != q.query_id
),
r AS (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rank
      FROM s)
SELECT query_id, vec_id, cos, CAST(rank AS INT) AS rank FROM r WHERE rank <= 10
"""


def q_sim_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate NN via random-hyperplane LSH bucket probe — the
    100 TB path. Hash-verified since round 5: the md5-derived plane
    literals and sequential-fold dots replay bit-for-bit in SQL, so
    the oracle recomputes the exact buckets, candidates, and ranks;
    recall vs the exact path is additionally asserted in tests/ and
    floored by sim_recall_report."""
    emb = load_table(_spark(spark), sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    out = X_sim.ann_topk_lsh(emb, queries, k=10, num_planes=4, dim=64)
    return out.select("query_id", "vec_id", "cos", F.col("rank").cast("int").alias("rank"))


def q_sim_ann_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe LSH ANN (query bucket + all Hamming-distance-1
    buckets) — higher recall than sim_ann_lsh at the same corpus
    layout. Hash-verified: the oracle replays the bucket bits and
    probes via xor(bucket, qbucket) ∈ {0} ∪ {2^p}; recall dominance
    over the single-probe path is asserted in
    tests/test_similarity.py."""
    emb = load_table(_spark(spark), sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    out = X_sim.ann_topk_lsh_multiprobe(emb, queries, k=10, num_planes=4, dim=64)
    return out.select(
        "query_id", "vec_id", "cos", F.col("rank").cast("int").alias("rank")
    )


def q_sim_ivf_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF with spherical-k-means-refined centroids and nprobe=2 —
    the production ANN layout (train centroids once, probe several
    cells). Hash-verified since round 5: the whole pipeline is
    bit-replayable — deterministic lowest-id seeds, assignment by
    1e-6-rounded cosines with lowest-cell tiebreak, and mean updates
    via floor-quantized int64 sums closed by a fixed-order expression
    (kmeans_refine_centroids, the quantized_covariance contract) —
    so the oracle recomputes BOTH Lloyd iterations, the final cell
    layout, the nprobe=2 probe set, and the exact re-scoring as
    chained CTEs. nprobe recall monotonicity stays pinned in
    tests/test_similarity.py."""
    emb = load_table(_spark(spark), sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    cents = X_sim.kmeans_refine_centroids(
        emb, X_sim.seed_centroids(emb, 8), iters=2
    )
    out = X_sim.ivf_topk(emb, queries, k=10, centroids=cents, nprobe=2)
    return out.select(
        "query_id", "vec_id", "cos", F.col("rank").cast("int").alias("rank")
    )


def _sim_ivf_kmeans_oracle(
    n_cent: int = 8, iters: int = 2, nprobe: int = 2, k: int = 10
) -> str:
    """Replays q_sim_ivf_kmeans end to end: Lloyd iterations as
    chained CTEs. Bit-parity argument per stage: assignment cosines
    are round(dot/(|v||c|), 6) with sequential-fold dots (DuckDB's
    list_dot_product order), argmax = row_number(cos DESC, cid ASC);
    means close as (CAST(Σq AS DOUBLE)/2^20)/n — the exact expression
    the driver computes; empty cells coalesce to the previous
    centroid. The 1-based `pos` here vs Spark's 0-based posexplode is
    internal only."""
    sc = repr(float(1 << 20))
    # one assignment + one mean CTE pair per iteration
    stages = [
        f"""c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
n0 AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM c),
cent0 AS (SELECT vec_id AS cid, v AS carr,
                 sqrt(list_dot_product(v, v)) AS cnrm
          FROM c WHERE vec_id < {n_cent})"""
    ]
    for it in range(1, iters + 1):
        prev = f"cent{it - 1}"
        stages.append(
            f"""a{it} AS (
  SELECT vec_id, cid, v FROM (
    SELECT n0.vec_id, {prev}.cid, n0.v,
           row_number() OVER (
             PARTITION BY n0.vec_id
             ORDER BY round(list_dot_product(n0.v, {prev}.carr)
                            / (n0.nrm * {prev}.cnrm), 6) DESC,
                      {prev}.cid ASC) AS rn
    FROM n0 CROSS JOIN {prev}) WHERE rn = 1
),
m{it} AS (
  SELECT cid, pos,
         (CAST(sum(q) AS DOUBLE) / {sc}) / CAST(count(*) AS DOUBLE) AS m
  FROM (SELECT cid, g.i AS pos,
               CAST(floor(v[g.i] * {sc}) AS BIGINT) AS q
        FROM a{it}, (SELECT unnest(generate_series(1, 64)) AS i) g)
  GROUP BY cid, pos
),
cent{it} AS (
  SELECT s.cid, COALESCE(mm.carr, s.carr) AS carr,
         sqrt(list_dot_product(COALESCE(mm.carr, s.carr),
                               COALESCE(mm.carr, s.carr))) AS cnrm
  FROM {prev} s LEFT JOIN
       (SELECT cid, list(m ORDER BY pos) AS carr FROM m{it}
        GROUP BY cid) mm USING (cid)
)"""
        )
    final = f"cent{iters}"
    stages.append(
        f"""cb AS (
  SELECT vec_id, v, nrm, cid AS cell FROM (
    SELECT n0.vec_id, n0.v, n0.nrm, {final}.cid,
           row_number() OVER (
             PARTITION BY n0.vec_id
             ORDER BY round(list_dot_product(n0.v, {final}.carr)
                            / (n0.nrm * {final}.cnrm), 6) DESC,
                      {final}.cid ASC) AS rn
    FROM n0 CROSS JOIN {final}) WHERE rn = 1
),
qp AS (
  SELECT query_id, qv, qn, cid AS qcell FROM (
    SELECT n0.vec_id AS query_id, n0.v AS qv, n0.nrm AS qn, {final}.cid,
           row_number() OVER (
             PARTITION BY n0.vec_id
             ORDER BY round(list_dot_product(n0.v, {final}.carr)
                            / (n0.nrm * {final}.cnrm), 6) DESC,
                      {final}.cid ASC) AS rn
    FROM n0 CROSS JOIN {final}
    WHERE n0.vec_id < 5) WHERE rn <= {nprobe}
),
scored AS (
  SELECT qp.query_id, cb.vec_id,
         round(list_dot_product(qp.qv, cb.v) / (qp.qn * cb.nrm), 6) AS cos
  FROM cb JOIN qp ON cb.cell = qp.qcell AND cb.vec_id <> qp.query_id
),
r AS (SELECT query_id, vec_id, cos,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY cos DESC, vec_id ASC) AS rank
      FROM scored)"""
    )
    return (
        "WITH "
        + ",\n".join(stages)
        + f"""
SELECT query_id, vec_id, cos, CAST(rank AS INT) AS rank FROM r
WHERE rank <= {k}"""
    )


#: Recall@10 floors per ANN path, set at ~half the measured recall on
#: the embeddings fixture (lsh 0.13, multiprobe 0.48, ivf 0.33,
#: ivf_kmeans 0.52 at sf0.001/sf0.01) so the contract is robust to
#: fixture regeneration but still catches a broken ANN path outright.
_RECALL_FLOORS = {
    "ivf": 0.15,
    "ivf_kmeans": 0.30,
    "lsh": 0.05,
    "lsh_multiprobe": 0.25,
}


def q_sim_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MEASURABLE recall contract for the four approximate-NN paths:
    recall@10 of each ANN variant against the exact top-k, computed
    entirely in Spark, reported as a hash-verifiable row per method.
    The oracle can't recompute LSH/IVF internals, but it CAN assert
    the contract: ``meets_floor`` must be true (and the exact-side
    row counts must match), so a recall regression in any ANN path
    flips a boolean and fails the driver hash compare — this upgrades
    the four rows-only ANN queries to a driver-checked guarantee."""
    emb = load_table(_spark(spark), sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 50)
    # NOTE (r12): deliberately NOT persisted — every branch below runs
    # inside ONE action and fills the cores in parallel; a persist
    # serializes the first materialization ahead of every branch
    # (measured 4.7 s → 7.6 s with persist+cold-cache race at sf0.1).
    exact = X_sim.cosine_topk(emb, queries, k=10).select("query_id", "vec_id")
    # the IVF branch's default centroids ARE the k-means seeds — one
    # collect instead of two identical scan+collect jobs (r12).
    # r13 NOTE: folding the seed fetch into the first Lloyd job (a
    # data-derived broadcast centroid array + one tagged-union
    # collect) was built, proven bit-identical, and MEASURED WORSE —
    # 27 → 29 jobs and +0.7 s warm at sf0.1: the broadcast build and
    # the duplicated seed subtree cost two jobs where the fold saved
    # one collect. Reverted per the measure-first discipline.
    seeds = X_sim.seed_centroids(emb, 8)
    cents = X_sim.kmeans_refine_centroids(emb, seeds, iters=2)
    methods = {
        "ivf": X_sim.ivf_topk(emb, queries, k=10, centroids=seeds),
        "ivf_kmeans": X_sim.ivf_topk(emb, queries, k=10, centroids=cents, nprobe=2),
        "lsh": X_sim.ann_topk_lsh(emb, queries, k=10, num_planes=4, dim=64),
        "lsh_multiprobe": X_sim.ann_topk_lsh_multiprobe(
            emb, queries, k=10, num_planes=4, dim=64
        ),
    }
    # r12 restructure: the old shape joined EACH method against its
    # own copy of the exact relation — four evaluations of the most
    # expensive subtree (the 2000×50 interpreted-HOF scoring pass) in
    # one action. Tag-and-union the method candidate sets instead,
    # cross the single exact relation with a 4-row (method, floor)
    # spine, and left-join once: exact is scored exactly once and the
    # per-method aggregates are identical (per-method n_exact = |exact|
    # because the spine replicates every exact row per method; _hit
    # marks spine rows matched by that method's candidates).
    cand = None
    for m, df in methods.items():
        tagged = df.select(
            F.lit(m).alias("method"), "query_id", "vec_id", F.lit(1).alias("_hit")
        )
        cand = tagged if cand is None else cand.unionByName(tagged)
    spine = F.broadcast(
        _spark(spark).createDataFrame(
            [(m, float(f)) for m, f in _RECALL_FLOORS.items()],
            "method string, recall_floor double",
        )
    )
    stats = (
        exact.crossJoin(spine)
        .join(cand, ["method", "query_id", "vec_id"], "left")
        .groupBy("method", "recall_floor")
        .agg(
            F.countDistinct("query_id").alias("_nq"),
            F.count(F.lit(1)).alias("_nx"),
            F.sum(F.coalesce(F.col("_hit"), F.lit(0))).alias("_nh"),
        )
    )
    # preserve the registration order (ivf, ivf_kmeans, lsh,
    # lsh_multiprobe) the previous union emitted
    order = F.create_map(
        *[
            x
            for i, m in enumerate(methods)
            for x in (F.lit(m), F.lit(i))
        ]
    )
    return (
        stats.orderBy(order[F.col("method")])
        .select(
            "method",
            F.lit(10).alias("k"),
            F.col("_nq").cast("long").alias("n_queries"),
            F.col("_nx").cast("long").alias("n_exact"),
            "recall_floor",
            (
                F.col("_nh").cast("double") / F.col("_nx")
                >= F.col("recall_floor")
            ).alias("meets_floor"),
        )
    )


_SIM_RECALL_ORACLE = (
    "WITH q AS (SELECT CAST(COUNT(*) AS BIGINT) AS nq"
    " FROM embeddings WHERE vec_id < 50) "
    + "\nUNION ALL\n".join(
        f"SELECT '{m}' AS method, 10 AS k, nq AS n_queries,"
        f" nq * 10 AS n_exact, CAST({floor} AS DOUBLE) AS recall_floor,"
        f" TRUE AS meets_floor FROM q"
        for m, floor in _RECALL_FLOORS.items()
    )
)


def q_sim_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (exact baseline)."""
    emb = load_table(_spark(spark), sf_dir, "embeddings").filter(
        F.col("vec_id") < 300
    )
    return X_sim.neardup_pairs(emb, threshold=0.2)


def q_sim_neardup_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe LSH near-dup pairs: right side also probes the
    Hamming-1 bucket flips, recovering pairs split by a single
    hyperplane — candidates ×(planes+1), recall → 1. Hash-verified
    since round 5 (multi-probe pairing ⇔ Hamming(bucket_a, bucket_b)
    ≤ 1, which the oracle replays bit-for-bit);
    superset-of-single-probe and subset-of-exact are pinned in
    tests/test_similarity.py."""
    emb = load_table(_spark(spark), sf_dir, "embeddings")
    return X_sim.neardup_pairs_lsh(
        emb, threshold=0.3, num_planes=8, multi_probe=True
    )


def q_sim_neardup_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs through the LSH-bucketed self-join — the scale
    path (candidates ∝ n²/2^planes, not n²). Recall < 1 vs the exact
    all-pairs baseline by design, but the LSH computation ITSELF is
    deterministic and hash-verified: the oracle replays buckets and
    the same-bucket candidate join exactly. Subset-of-exact and
    recall floors are additionally asserted in
    tests/test_similarity.py and neardup_recall_report."""
    emb = load_table(_spark(spark), sf_dir, "embeddings")
    return X_sim.neardup_pairs_lsh(emb, threshold=0.2, num_planes=4)


_SIM_NEARDUP_ORACLE = """
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
           FROM embeddings WHERE vec_id < 300)
SELECT a.vec_id AS vec_id, b.vec_id AS vec_id2,
       round(list_dot_product(a.v, b.v)
             / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 6) AS cos
FROM e a JOIN e b ON a.vec_id < b.vec_id
WHERE round(list_dot_product(a.v, b.v)
            / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 6) >= 0.2
"""


# --- LSH bucket replay (round 5): the hyperplanes are md5-derived
# DOUBLE literals (ext/similarity._hyperplane_value) and the Spark
# bucket is sign(dot(v, plane)) packed into an int, where the dot is a
# sequential left fold — the same order DuckDB's list_dot_product
# evaluates. So the bucketing is NOT engine-specific after all: the
# oracle can replay every bucket bit-for-bit (verified 500/500 at
# planes=4 and 8 on the sf0.01 fixture), which upgrades the whole LSH
# family from rows-only to hash-verified.


def _lsh_pm_sql(planes: int, dim: int = 64) -> str:
    """The plane matrix as a DuckDB array literal — same repr-round-
    trip doubles the Spark plan constant-folds."""
    from lakehouse_tools_spark.ext.similarity import _hyperplane_value

    return (
        "["
        + ",".join(
            "["
            + ",".join(
                f"CAST('{_hyperplane_value(p, d)!r}' AS DOUBLE)"
                for d in range(dim)
            )
            + "]"
            for p in range(planes)
        )
        + "]"
    )


def _lsh_bucket_case_sql(planes: int, vec: str = "v") -> str:
    """sign-bit pack: Σ_p [dot(v, m[p]) >= 0]·2^p, replaying
    ext/similarity.lsh_bucket_column exactly."""
    return " + ".join(
        f"CASE WHEN list_dot_product({vec}, m[{p + 1}]) >= 0"
        f" THEN {1 << p} ELSE 0 END"
        for p in range(planes)
    )


def _lsh_cb_cte(planes: int) -> str:
    """Shared CTE prefix: plane matrix + per-vector norm and bucket."""
    return (
        f"WITH pm AS (SELECT {_lsh_pm_sql(planes)} AS m),\n"
        "c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v"
        " FROM embeddings),\n"
        "cb AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm,"
        f" CAST({_lsh_bucket_case_sql(planes)} AS BIGINT) AS bucket"
        " FROM c, pm)"
    )


def _sim_ann_lsh_oracle() -> str:
    return (
        _lsh_cb_cte(4)
        + """,
q AS (SELECT vec_id AS query_id, v AS qv, nrm AS qn, bucket AS qbucket
      FROM cb WHERE vec_id < 5),
scored AS (
  SELECT q.query_id, cb.vec_id,
         round(list_dot_product(q.qv, cb.v) / (q.qn * cb.nrm), 6) AS cos
  FROM cb JOIN q ON cb.bucket = q.qbucket AND cb.vec_id <> q.query_id),
r AS (SELECT query_id, vec_id, cos,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY cos DESC, vec_id ASC) AS rank
      FROM scored)
SELECT query_id, vec_id, cos, CAST(rank AS INT) AS rank FROM r
WHERE rank <= 10"""
    )


def _sim_ann_multiprobe_oracle() -> str:
    # probe set = own bucket + all Hamming-1 flips, i.e. join on
    # xor(bucket, qbucket) IN {0, 1, 2, ..., 2^(planes-1)}
    flips = ", ".join(str(1 << p) for p in range(4))
    return (
        _lsh_cb_cte(4)
        + f""",
q AS (SELECT vec_id AS query_id, v AS qv, nrm AS qn, bucket AS qbucket
      FROM cb WHERE vec_id < 5),
scored AS (
  SELECT q.query_id, cb.vec_id,
         round(list_dot_product(q.qv, cb.v) / (q.qn * cb.nrm), 6) AS cos
  FROM cb JOIN q
    ON (cb.bucket = q.qbucket OR xor(cb.bucket, q.qbucket) IN ({flips}))
   AND cb.vec_id <> q.query_id),
r AS (SELECT query_id, vec_id, cos,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY cos DESC, vec_id ASC) AS rank
      FROM scored)
SELECT query_id, vec_id, cos, CAST(rank AS INT) AS rank FROM r
WHERE rank <= 10"""
    )


def _sim_neardup_lsh_oracle() -> str:
    return (
        _lsh_cb_cte(4)
        + """
SELECT a.vec_id AS vec_id, b.vec_id AS vec_id2,
       round(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 6) AS cos
FROM cb a JOIN cb b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
WHERE round(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 6) >= 0.2"""
    )


def _sim_neardup_multiprobe_sql(planes: int = 8, threshold: float = 0.3) -> str:
    # multi-probe pairing = Hamming distance <= 1 between buckets
    flips = ", ".join(str(1 << p) for p in range(planes))
    return (
        _lsh_cb_cte(planes)
        + f"""
SELECT a.vec_id AS vec_id, b.vec_id AS vec_id2,
       round(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 6) AS cos
FROM cb a JOIN cb b
  ON (a.bucket = b.bucket OR xor(a.bucket, b.bucket) IN ({flips}))
 AND a.vec_id < b.vec_id
WHERE round(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 6) >= {threshold}"""
    )


def _dedup_clusters_lsh_oracle() -> str:
    # connected components over the multi-probe LSH pair graph: the
    # same recursive-CTE closure as _DEDUP_CLUSTERS_ORACLE, but the
    # edge set is the (bit-replayed) LSH candidate pairs and vertices
    # are the FULL corpus
    flips = ", ".join(str(1 << p) for p in range(8))
    return (
        "WITH RECURSIVE "
        + _lsh_cb_cte(8)[5:]  # strip the leading "WITH "
        + f""",
pairs AS (
  SELECT a.vec_id AS pa, b.vec_id AS pb
  FROM cb a JOIN cb b
    ON (a.bucket = b.bucket OR xor(a.bucket, b.bucket) IN ({flips}))
   AND a.vec_id < b.vec_id
  WHERE round(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 6) >= 0.3
),
sym AS (
  SELECT pa AS a, pb AS b FROM pairs UNION SELECT pb, pa FROM pairs
),
reach AS (
  SELECT vec_id AS v, vec_id AS u FROM c
  UNION
  SELECT r.v, s.b AS u FROM reach r JOIN sym s ON s.a = r.u
)
SELECT v AS vec_id, min(u) AS cluster_id FROM reach GROUP BY v"""
    )


#: Pair-recall floors for the LSH near-dup paths on the embeddings
#: fixture (vec_id < 300 window), set at ~half the measured recall
#: (single-probe p4/t0.2 ≈ 0.107, multi-probe p8/t0.3 ≈ 0.105 at
#: sf0.001 and sf0.01 — the fixture's near-threshold pairs sit at
#: wide angles, where even Hamming-1 probing recovers only part of
#: the 3+-bit splits) — robust to fixture regeneration, fatal to a
#: broken bucketing or probe path (recall 0 or precision < 1).
_NEARDUP_FLOORS = {
    "lsh_p4": (0.2, 0.05),
    "lsh_p8_multiprobe": (0.3, 0.05),
}


def q_neardup_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-verifiable recall/precision contract for the LSH near-dup
    pair paths (same pattern as sim_recall_report): on the vec_id<300
    window where the exact O(n²) pair set is oracle-computable, each
    LSH variant must (a) emit ONLY true pairs — precision exactly 1,
    since same-bucket candidates are re-scored with the exact cosine
    before thresholding — and (b) recover at least the floor fraction
    of the exact pairs. The oracle computes n_exact_pairs exactly and
    asserts both booleans, so a bucketing/probe regression in
    ``sim_neardup_lsh`` / ``sim_neardup_multiprobe`` (or the pair
    feed of ``dedup_clusters_lsh``) fails the driver compare."""
    emb = load_table(_spark(spark), sf_dir, "embeddings").filter(
        F.col("vec_id") < 300
    )
    parts = []
    for m, (thr, floor) in sorted(_NEARDUP_FLOORS.items()):
        exact = X_sim.neardup_pairs(emb, threshold=thr).select(
            "vec_id", "vec_id2"
        )
        approx = X_sim.neardup_pairs_lsh(
            emb,
            threshold=thr,
            num_planes=4 if m == "lsh_p4" else 8,
            multi_probe=(m == "lsh_p8_multiprobe"),
        ).select("vec_id", "vec_id2", F.lit(1).alias("_hit"))
        stats = exact.join(approx, ["vec_id", "vec_id2"], "full").agg(
            F.count(F.lit(1)).alias("_nu"),
            F.sum(F.coalesce(F.col("_hit"), F.lit(0))).alias("_na"),
        )
        n_exact = exact.agg(F.count(F.lit(1)).alias("_nx"))
        parts.append(
            stats.crossJoin(n_exact).select(
                F.lit(m).alias("method"),
                F.lit(float(thr)).alias("threshold"),
                F.col("_nx").cast("long").alias("n_exact_pairs"),
                # full-outer row count == exact row count ⇔ no
                # LSH-only pairs ⇔ precision is exactly 1
                (F.col("_nu") == F.col("_nx")).alias("precision_is_one"),
                F.lit(float(floor)).alias("recall_floor"),
                (
                    F.col("_na").cast("double") / F.col("_nx")
                    >= F.lit(float(floor))
                ).alias("meets_recall_floor"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


_NEARDUP_RECALL_ORACLE = "\nUNION ALL\n".join(
    f"""SELECT '{m}' AS method, CAST({thr} AS DOUBLE) AS threshold,
       CAST((SELECT count(*) FROM (
         SELECT 1
         FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
               FROM embeddings WHERE vec_id < 300) a
         JOIN (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
               FROM embeddings WHERE vec_id < 300) b
           ON a.vec_id < b.vec_id
         WHERE round(list_dot_product(a.v, b.v)
               / (sqrt(list_dot_product(a.v, a.v))
                  * sqrt(list_dot_product(b.v, b.v))), 6) >= {thr}
       )) AS BIGINT) AS n_exact_pairs,
       TRUE AS precision_is_one,
       CAST({floor} AS DOUBLE) AS recall_floor,
       TRUE AS meets_recall_floor"""
    for m, (thr, floor) in sorted(_NEARDUP_FLOORS.items())
)


def q_corpus_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination (ext/dedup.decontaminate): drop
    corpus docs that match the eval set exactly (md5 fingerprint
    anti-join) or share ANY word 5-gram with it (broadcast semi-join
    of corpus shingles against the small eval shingle set — the
    GPT-3-style n-gram rule). Eval set = 10% of docs by key hash, so
    both engines build it identically."""
    docs = load_table(_spark(spark), sf_dir, "documents")
    eval_set = docs.filter(
        X_sample.hash_fraction(F.col("doc_id"), "eval") < 0.1
    )
    return X_dedup.decontaminate(docs, eval_set, ngram=5)


def _corpus_decontaminate_oracle() -> str:
    h = _HASH_U32_SQL.format(key="doc_id", salt="eval")
    norm = _NORM_SQL.format(c="text")
    shingles = f"""
  SELECT DISTINCT doc_id,
         CASE WHEN len(words) >= 5
              THEN array_to_string(list_slice(words, g + 1, g + 5), ' ')
              ELSE array_to_string(words, ' ') END AS shingle
  FROM (
    SELECT doc_id, words,
           unnest(generate_series(0, CAST(greatest(len(words) - 5, 0) AS BIGINT))) AS g
    FROM (SELECT doc_id, string_split({norm}, ' ') AS words FROM {{src}})
  )
"""
    return f"""
WITH eval_docs AS (
  SELECT doc_id, text FROM documents WHERE {h} / 4294967296.0 < 0.1
),
eval_fps AS (SELECT DISTINCT md5({norm}) AS fp FROM eval_docs),
eval_sh AS (SELECT DISTINCT shingle FROM ({shingles.format(src="eval_docs")})),
corpus_sh AS ({shingles.format(src="documents")}),
contaminated AS (
  SELECT DISTINCT doc_id FROM corpus_sh
  WHERE shingle IN (SELECT shingle FROM eval_sh)
)
SELECT doc_id, text, lang, source, n_chars FROM documents
WHERE md5({norm}) NOT IN (SELECT fp FROM eval_fps)
  AND doc_id NOT IN (SELECT doc_id FROM contaminated)
"""


def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-cluster assignment: connected components (iterative
    min-label propagation, ext/graph.py) over the exact near-dup pair
    graph — the transitive-closure step that turns pairwise "is-dup"
    verdicts into one canonical representative per group. The oracle
    computes the same closure with a recursive CTE. Runs the
    tree-contraction union-find (log P mapInPandas levels over forest
    edges, no |E| shuffle rounds); tests pin its row-for-row equality
    with the label-propagation fallback."""
    from lakehouse_tools_spark.ext.graph import connected_components_contract

    emb = load_table(_spark(spark), sf_dir, "embeddings").filter(
        F.col("vec_id") < 300
    )
    pairs = X_sim.neardup_pairs(emb, threshold=0.2).select("vec_id", "vec_id2")
    return connected_components_contract(
        pairs, emb, src_col="vec_id", dst_col="vec_id2", id_col="vec_id"
    )


def q_dedup_clusters_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full-corpus dup clustering — the composed scale path: candidate
    pairs from the multi-probe LSH self-join (never all-pairs), then
    connected components over them. Hash-verified end to end since
    round 5: the oracle replays the LSH pair graph bit-for-bit and
    closes it with the same recursive-CTE transitive closure as the
    exact `dedup_clusters` variant — so the composed tree-contraction
    union-find over LSH candidates is driver-checked, not just
    invariant-tested."""
    from lakehouse_tools_spark.ext.graph import connected_components_contract

    emb = load_table(_spark(spark), sf_dir, "embeddings")
    pairs = X_sim.neardup_pairs_lsh(
        emb, threshold=0.3, num_planes=8, multi_probe=True
    ).select("vec_id", "vec_id2")
    return connected_components_contract(
        pairs, emb, src_col="vec_id", dst_col="vec_id2", id_col="vec_id"
    )


_DEDUP_CLUSTERS_ORACLE = """
WITH RECURSIVE e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
  FROM embeddings WHERE vec_id < 300
),
pairs AS (
  SELECT a.vec_id AS pa, b.vec_id AS pb
  FROM e a JOIN e b ON a.vec_id < b.vec_id
  WHERE round(list_dot_product(a.v, b.v)
              / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 6) >= 0.2
),
sym AS (
  SELECT pa AS a, pb AS b FROM pairs UNION SELECT pb, pa FROM pairs
),
reach AS (
  SELECT vec_id AS v, vec_id AS u FROM e
  UNION
  SELECT r.v, s.b AS u FROM reach r JOIN sym s ON s.a = r.u
)
SELECT v AS vec_id, min(u) AS cluster_id FROM reach GROUP BY v
"""


# ---------------------------------------------------------------- multimodal


def q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-shaped semantic deduplication, end to end: exact
    cosine near-dup pairs → connected components (tree-contraction) →
    keep the min-id representative per cluster, reporting how many
    members it absorbed. The representative IS the cluster id (the
    min member, or the vertex itself for a singleton), so one groupBy
    on it gives both columns and the contraction runs once. The
    oracle rebuilds the identical closure with a recursive CTE and
    keeps v = min(component)."""
    from lakehouse_tools_spark.ext.graph import connected_components_contract

    emb = load_table(_spark(spark), sf_dir, "embeddings").filter(
        F.col("vec_id") < 300
    )
    pairs = X_sim.neardup_pairs(emb, threshold=0.3).select("vec_id", "vec_id2")
    assign = connected_components_contract(
        pairs, emb, src_col="vec_id", dst_col="vec_id2", id_col="vec_id"
    )
    return assign.groupBy(F.col("cluster_id").alias("vec_id")).agg(
        F.count(F.lit(1)).alias("n_members")
    )


_SEMANTIC_DEDUP_ORACLE = """
WITH RECURSIVE e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
  FROM embeddings WHERE vec_id < 300
),
pairs AS (
  SELECT a.vec_id AS pa, b.vec_id AS pb
  FROM e a JOIN e b ON a.vec_id < b.vec_id
  WHERE round(list_dot_product(a.v, b.v)
              / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 6) >= 0.3
),
sym AS (
  SELECT pa AS a, pb AS b FROM pairs UNION SELECT pb, pa FROM pairs
),
reach AS (
  SELECT vec_id AS v, vec_id AS u FROM e
  UNION
  SELECT r.v, s.b AS u FROM reach r JOIN sym s ON s.a = r.u
),
assign AS (
  SELECT v AS vec_id, min(u) AS cluster_id FROM reach GROUP BY v
)
SELECT a.vec_id AS vec_id, CAST(n.n AS BIGINT) AS n_members
FROM assign a
JOIN (SELECT cluster_id, count(*) AS n FROM assign GROUP BY cluster_id) n
  ON a.cluster_id = n.cluster_id
WHERE a.vec_id = a.cluster_id
"""


def q_dedup_collapse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TEXT near-dup dedup, end to end — the canonical LLM-corpus
    collapse, composed entirely from the hash-verified scale paths:
    banded-MinHash LSH candidates (never all-pairs) → exact shingle
    Jaccard ≥ 0.3 verification (candidate-pruned) → connected
    components (tree-contraction union-find) → keep the min-id
    representative per cluster with its absorbed-member count. The
    embedding-side sibling is `semantic_dedup`; this one's pair graph
    is the md5-replayable LSH+Jaccard screen, so the oracle rebuilds
    the ENTIRE flow — signatures, candidates, verification, and the
    recursive-CTE closure — hash-exactly. Survivor count == corpus
    minus absorbed duplicates by construction. The representative IS
    the cluster id (the min member, or the document itself for a
    singleton), so one groupBy on it gives both columns and the
    contraction runs once."""
    from lakehouse_tools_spark.ext.graph import connected_components_contract

    docs = load_table(_spark(spark), sf_dir, "documents")
    sh = X_dedup.word_shingles(docs, "text", "doc_id", k=3)
    wide = X_dedup.minhash_wide_from_shingles(sh, num_hashes=8)
    cand = X_dedup.lsh_candidate_pairs_wide(wide, bands=4, rows_per_band=2)
    pairs = X_dedup.jaccard_pairs(sh, candidates=cand, threshold=0.3).select(
        "doc_id", "doc_id2"
    )
    assign = connected_components_contract(
        pairs, docs, src_col="doc_id", dst_col="doc_id2", id_col="doc_id"
    )
    return assign.groupBy(F.col("cluster_id").alias("doc_id")).agg(
        F.count(F.lit(1)).alias("n_members")
    )


#: The LSH → Jaccard-verify → transitive-closure CTE chain shared by
#: the collapse oracle and the corpus_dedup_e2e composition: ends at
#: ``assign`` (doc_id → min-id cluster label for every document).
_COLLAPSE_GRAPH_CTES = """,
bnd AS (
  SELECT doc_id, CAST(hash_id // 2 AS INT) AS band,
         md5(array_to_string(list_sort(list(minhash)), '|')) AS bucket
  FROM m GROUP BY doc_id, CAST(hash_id // 2 AS INT)
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_id, b2.doc_id AS doc_id2
  FROM bnd a JOIN bnd b2 ON a.band = b2.band AND a.bucket = b2.bucket
                        AND a.doc_id < b2.doc_id
),
sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
inter AS (
  SELECT c.doc_id AS doc_id, c.doc_id2 AS doc_id2, count(*) AS n_inter
  FROM cand c
  JOIN sh s1 ON s1.doc_id = c.doc_id
  JOIN sh s2 ON s2.doc_id = c.doc_id2 AND s2.shingle = s1.shingle
  GROUP BY 1, 2
),
pairs AS (
  SELECT i.doc_id AS pa, i.doc_id2 AS pb
  FROM inter i
  JOIN sizes a ON i.doc_id = a.doc_id
  JOIN sizes b ON i.doc_id2 = b.doc_id
  WHERE floor(i.n_inter / (a.sz + b.sz - i.n_inter) * 1000000) / 1000000 >= 0.3
),
sym AS (
  SELECT pa AS a, pb AS b FROM pairs UNION SELECT pb, pa FROM pairs
),
reach AS (
  SELECT doc_id AS v, doc_id AS u FROM documents
  UNION
  SELECT r.v, s.b AS u FROM reach r JOIN sym s ON s.a = r.u
),
assign AS (
  SELECT v AS doc_id, min(u) AS cluster_id FROM reach GROUP BY v
)
"""

_DEDUP_COLLAPSE_ORACLE = (
    "WITH RECURSIVE "
    + _MINHASH_CTE.lstrip()
    + _COLLAPSE_GRAPH_CTES
    + """
SELECT a.doc_id AS doc_id, CAST(n.n AS BIGINT) AS n_members
FROM assign a
JOIN (SELECT cluster_id, count(*) AS n FROM assign GROUP BY cluster_id) n
  ON a.cluster_id = n.cluster_id
WHERE a.doc_id = a.cluster_id
"""
)


def q_multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-column decode via mapInPandas (stub codec, real Arrow
    plumbing). The fake decoder is md5-derived, so DuckDB can verify
    it from the same bytes."""
    from lakehouse_tools_spark.ext.multimodal import decode_media, media_from_documents

    docs = load_table(_spark(spark), sf_dir, "documents")
    return decode_media(media_from_documents(docs, kind="image"))


_MULTIMODAL_DECODE_ORACLE = """
SELECT doc_id AS media_id, 'image' AS kind,
       CAST(CAST(concat('0x', substr(md5(text), 1, 4)) AS INT) % 4096 + 1 AS INT) AS width,
       CAST(CAST(concat('0x', substr(md5(text), 5, 4)) AS INT) % 4096 + 1 AS INT) AS height,
       CAST(octet_length(CAST(text AS BLOB)) AS INT) AS n_bytes,
       md5(text) AS checksum
FROM documents
"""


def q_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Byte-histogram featurizer over binary content, exploded to
    ``(media_id, bin, weight)`` rows so the driver can hash it and
    DuckDB can reproduce it (hex-pair byte extraction over the same
    UTF-8 blob). Each weight is one exact IEEE division count/n, so
    the hash matches bit-for-bit across engines."""
    from lakehouse_tools_spark.ext.multimodal import (
        byte_histogram_features,
        media_from_documents,
    )

    docs = load_table(_spark(spark), sf_dir, "documents")
    feats = byte_histogram_features(media_from_documents(docs), bins=16)
    return feats.select("media_id", F.posexplode("features").alias("bin", "weight"))


_MULTIMODAL_FEATURES_ORACLE = """
WITH b AS (
  SELECT doc_id, hex(CAST(text AS BLOB)) AS hx,
         octet_length(CAST(text AS BLOB)) AS n
  FROM documents
), ex AS (
  SELECT doc_id,
         CAST(concat('0x', substr(hx, 2 * i - 1, 2)) AS INT) // 16 AS bin
  FROM b, LATERAL (SELECT unnest(range(1, n + 1)) AS i) t
), cnt AS (
  SELECT doc_id, bin, count(*) AS c FROM ex GROUP BY doc_id, bin
), grid AS (
  SELECT doc_id, n, CAST(g.bin AS INT) AS bin
  FROM b, LATERAL (SELECT unnest(range(0, 16)) AS bin) g
)
SELECT grid.doc_id AS media_id, grid.bin AS bin,
       CASE WHEN grid.n = 0 THEN 0.0
            ELSE CAST(coalesce(cnt.c, 0) AS DOUBLE) / grid.n END AS weight
FROM grid LEFT JOIN cnt ON grid.doc_id = cnt.doc_id AND grid.bin = cnt.bin
"""


# ---------------------------------------------------------------- text


def q_corpus_prepare(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite training-corpus pipeline (quality filter → language
    filter → exact-dedup keep-first) fused into one scan + one
    shuffle; see ext/corpus.py. Thresholds picked so each stage is
    non-degenerate on the fixture (the quality cut drops ~40%, the
    language cut drops the de-classified tail)."""
    from lakehouse_tools_spark.ext.corpus import prepare_corpus

    docs = load_table(_spark(spark), sf_dir, "documents")
    return prepare_corpus(docs, min_quality=0.725, langs=("en",))


def _corpus_oracle(
    min_quality: float = 0.725, lang: str = "en", src: str = "documents"
) -> str:
    """``src`` is the relation prepared: the plain table for
    corpus_prepare, a survivor subquery for the corpus_dedup_e2e
    composition (must expose doc_id + text)."""
    norm = _NORM_SQL.format(c="text")
    stop = ", ".join(f"'{w}'" for w in _STOPWORDS)
    langs = sorted(X_text.LANG_MARKERS)
    scores = ", ".join(
        "floor(len(list_filter(words, x -> x IN ({m}))) / len(words) * 1000000) / 1000000 AS score_{l}".format(
            m=", ".join(f"'{w}'" for w in X_text.LANG_MARKERS[lg]), l=lg
        )
        for lg in langs
    )
    best = "greatest(" + ", ".join(f"score_{l}" for l in langs) + ")"
    pred = " ".join(f"WHEN score_{l} = best THEN '{l}'" for l in langs)
    return f"""
WITH base AS (
  SELECT doc_id, text, string_split({norm}, ' ') AS words, md5({norm}) AS fingerprint
  FROM {src}
),
feat AS (
  SELECT doc_id, fingerprint,
         CAST(length(text) AS INT) AS n_chars,
         CAST(len(words) AS INT) AS n_tokens,
         floor(len(list_filter(words, x -> x IN ({stop}))) / len(words) * 1000000) / 1000000 AS stopword_ratio,
         floor(len(regexp_extract_all(text, '[^A-Za-z0-9\\s]')) / length(text) * 1000000) / 1000000 AS punct_ratio,
         {scores}
  FROM base
),
scored AS (
  SELECT doc_id, fingerprint, n_chars, n_tokens,
         floor(least(1.0, greatest(0.0,
               0.5 + 0.5 * stopword_ratio - 2.0 * punct_ratio
               + CASE WHEN n_tokens >= 10 AND n_tokens <= 5000 THEN 0.2 ELSE -0.2 END)) * 1000000) / 1000000
           AS quality_score,
         {best} AS best,
         CASE {pred} END AS lang_pred
  FROM feat
),
filt AS (
  SELECT * FROM scored
  WHERE quality_score >= {min_quality} AND lang_pred = '{lang}'
),
d AS (
  SELECT *, row_number() OVER (PARTITION BY fingerprint ORDER BY doc_id) AS rn,
         count(*) OVER (PARTITION BY fingerprint) AS n_dups
  FROM filt
)
SELECT doc_id, fingerprint, lang_pred, quality_score, n_chars, n_tokens, n_dups
FROM d WHERE rn = 1
"""


def q_corpus_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end training-data flagship — the documents analog of
    profiler_e2e, FULLY hash-verified: prepare (one-pass quality →
    language → exact-dedup keep-first) → token-window chunking of the
    survivors (128/96) → concat-and-chunk packing of the chunks into
    256-token sequences across 4 hash streams. Every stage is the
    already-oracled operator, composed; the oracle composes the three
    SQL forms, so the driver hash covers the whole chain — survivors
    feed chunking via a semi-join on the prepared ids (the kept set
    is corpus-sized, the join key is just doc_id). Chunk identity
    rides a doc_id·100000+chunk_id surrogate through the packer and
    is decomposed back for the output."""
    from lakehouse_tools_spark.ext.chunking import chunk_tokens
    from lakehouse_tools_spark.ext.corpus import prepare_corpus
    from lakehouse_tools_spark.ext.packing import pack_chunks

    docs = load_table(_spark(spark), sf_dir, "documents")
    kept = prepare_corpus(docs, min_quality=0.725, langs=("en",)).select(
        "doc_id"
    )
    surv = docs.join(kept, "doc_id", "left_semi")
    chunks = chunk_tokens(surv, size=128, stride=96).filter(
        F.col("n_tokens") > 0
    )
    with_cid = chunks.select(
        (F.col("doc_id") * 100000 + F.col("chunk_id")).alias("cid"),
        F.col("n_tokens"),
    )
    packed = pack_chunks(with_cid, "cid", "n_tokens", budget=256, num_buckets=4)
    return packed.select(
        "bucket",
        "seq_id",
        F.floor(F.col("cid") / 100000).cast("long").alias("doc_id"),
        F.pmod(F.col("cid"), F.lit(100000)).cast("long").alias("chunk_id"),
        "frag_start",
        "frag_len",
    )


def _corpus_e2e_oracle() -> str:
    return f"""
WITH kept AS (
  SELECT doc_id FROM ({_corpus_oracle()})
),
surv AS (
  SELECT d.doc_id, d.text FROM documents d
  WHERE d.doc_id IN (SELECT doc_id FROM kept) AND length(d.text) > 0
),
w AS (
  SELECT doc_id, string_split({_NORM_SQL.format(c="text")}, ' ') AS words
  FROM surv
),
chunks AS (
  SELECT doc_id, g AS chunk_id,
         CAST(len(list_slice(words, g * 96 + 1, g * 96 + 128)) AS INT)
           AS n_tokens
  FROM (
    SELECT doc_id, words,
           unnest(generate_series(0,
             CAST(floor((len(words) - 1) / 96) AS BIGINT))) AS g
    FROM w
  )
),
c2 AS (
  SELECT doc_id * 100000 + chunk_id AS cid, n_tokens
  FROM chunks WHERE n_tokens > 0
),
b AS (
  SELECT cid, n_tokens,
         CAST(concat('0x', substr(md5(CAST(cid AS VARCHAR)), 1, 8)) AS BIGINT)
           % 4 AS bucket
  FROM c2
),
s AS (
  SELECT bucket, cid, n_tokens,
         CAST(SUM(n_tokens) OVER (PARTITION BY bucket ORDER BY cid)
              - n_tokens AS BIGINT) AS st,
         CAST(SUM(n_tokens) OVER (PARTITION BY bucket ORDER BY cid)
              AS BIGINT) AS en
  FROM b
),
e AS (
  SELECT bucket, cid, st, en,
         unnest(generate_series(CAST(floor(st / 256.0) AS BIGINT),
                                CAST(floor((en - 1) / 256.0) AS BIGINT)))
           AS seq_id
  FROM s
)
SELECT bucket, seq_id,
       CAST(floor(cid / 100000.0) AS BIGINT) AS doc_id,
       cid % 100000 AS chunk_id,
       greatest(0, seq_id * 256 - st) AS frag_start,
       least(en, (seq_id + 1) * 256) - greatest(st, seq_id * 256) AS frag_len
FROM e
"""


def q_corpus_span_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sub-document span dedup (ext/dedup.span_dedup) — the C4 /
    RefinedWeb boilerplate pass document-level dedup can't do: every
    exact 10-word span occurring in ≥2 distinct documents (template
    boilerplate, repeated headers) is dropped from EVERY document,
    the surrounding unique text kept in order. One md5(span) groupBy
    with two-phase count(distinct doc) — the shuffle carries one row
    per distinct span, not per occurrence — then one groupBy(doc) to
    reassemble. The result row carries the md5 of the reassembled
    text, so the driver hash pins the exact post-removal byte
    sequence of every document, not just the counts."""
    from lakehouse_tools_spark.ext.dedup import span_dedup

    docs = load_table(_spark(spark), sf_dir, "documents")
    out = span_dedup(
        docs, "doc_id", "text", span_words=10, min_doc_freq=2
    )
    return out.select(
        "doc_id",
        "n_spans",
        "n_kept",
        "n_dropped",
        F.md5(F.col("clean_text")).alias("clean_md5"),
    )


_CORPUS_SPAN_DEDUP_ORACLE = """
WITH w AS (
  SELECT doc_id, string_split(text, ' ') AS ws FROM documents
), spans AS (
  SELECT doc_id, i AS pos,
         array_to_string(ws[i * 10 + 1 : i * 10 + 10], ' ') AS seg
  FROM w, LATERAL (
    SELECT unnest(range(0, CAST(ceil(len(ws) / 10.0) AS BIGINT))) AS i
  ) t
), hot AS (
  SELECT md5(seg) AS h FROM spans
  GROUP BY 1 HAVING count(DISTINCT doc_id) >= 2
), marked AS (
  SELECT s.doc_id, s.pos, s.seg, (h.h IS NOT NULL) AS hot
  FROM spans s LEFT JOIN hot h ON md5(s.seg) = h.h
)
SELECT doc_id,
       count(*) AS n_spans,
       CAST(count(*) - sum(CASE WHEN hot THEN 1 ELSE 0 END) AS BIGINT)
         AS n_kept,
       CAST(sum(CASE WHEN hot THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
       md5(coalesce(
         string_agg(seg, ' ' ORDER BY pos) FILTER (WHERE NOT hot), ''
       )) AS clean_md5
FROM marked GROUP BY doc_id
"""


def q_corpus_split_leakage_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe train/val/test split: the md5-interval deal
    (`corpus_split`'s append-stable assignment) keyed on the NEAR-DUP
    CLUSTER id instead of the document id, so every member of a
    near-dup cluster lands in the same split — the guarantee a
    per-document random split structurally cannot give (a near-copy
    of a training document in the eval split is the canonical
    benchmark-leakage failure). Clusters come from the same
    LSH → exact-Jaccard ≥ 0.3 → connected-components stages as
    `dedup_collapse`; `n_members` makes the guarantee auditable in
    the result (group by cluster_id ⇒ exactly one split per
    cluster). Scale: the collapse stages keep their bucketed shapes;
    the split itself is a pure projection and the size count is one
    cluster-keyed window — no new scale cost over the parts."""
    from lakehouse_tools_spark.ext.graph import connected_components_contract

    docs = load_table(_spark(spark), sf_dir, "documents")
    sh = X_dedup.word_shingles(docs, "text", "doc_id", k=3)
    wide = X_dedup.minhash_wide_from_shingles(sh, num_hashes=8)
    cand = X_dedup.lsh_candidate_pairs_wide(wide, bands=4, rows_per_band=2)
    pairs = X_dedup.jaccard_pairs(sh, candidates=cand, threshold=0.3).select(
        "doc_id", "doc_id2"
    )
    assign = connected_components_contract(
        pairs, docs, src_col="doc_id", dst_col="doc_id2", id_col="doc_id"
    )
    sized = assign.select(
        "doc_id",
        "cluster_id",
        F.count(F.lit(1))
        .over(Window.partitionBy("cluster_id"))
        .cast("long")
        .alias("n_members"),
    )
    return X_sample.split_corpus(
        sized, {"train": 0.8, "val": 0.1, "test": 0.1}, "cluster_id"
    ).select("doc_id", "cluster_id", "n_members", "split")


def _corpus_split_leakage_safe_oracle() -> str:
    h = _HASH_U32_SQL.format(key="a.cluster_id", salt="")
    # sorted split names: test (0.1), train (0.9), val (1.0) — the
    # same cumulative intervals as split_corpus's sorted-weights deal
    return (
        "WITH RECURSIVE "
        + _MINHASH_CTE.lstrip()
        + _COLLAPSE_GRAPH_CTES
        + f""",
members AS (
  SELECT cluster_id, count(*) AS n_members FROM assign GROUP BY cluster_id
)
SELECT a.doc_id, a.cluster_id, CAST(m.n_members AS BIGINT) AS n_members,
       CASE WHEN {h} / 4294967296.0 < 0.1 THEN 'test'
            WHEN {h} / 4294967296.0 < 0.9 THEN 'train'
            ELSE 'val' END AS split
FROM assign a JOIN members m ON a.cluster_id = m.cluster_id
"""
    )


def q_corpus_dedup_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The end-to-end an LLM-data user actually runs, composed from
    THREE already-oracled families and hash-verified as one flow:
    (1) near-dup collapse — banded-MinHash LSH candidates → exact
    shingle-Jaccard ≥ 0.3 verify (candidate-pruned) → connected
    components → min-id survivors (the `dedup_collapse` stages);
    (2) corpus preparation over the survivors — one-pass quality →
    language → exact-dedup keep-first (`corpus_prepare`); (3)
    deterministic 80/10/10 train/val/test assignment of the prepared
    set (`corpus_split`'s md5-interval deal — append-stable, engine
    portable). Output: one row per training-ready document with its
    provenance stats and split.

    Scale: stage boundaries are key-only semi-joins (survivor ids),
    every stage keeps its own bucketed/one-scan shape, and the only
    new cost over the parts is the doc_id semi-join gluing them — so
    the composition inherits each family's 100 TB argument intact.
    The oracle chains the collapse CTEs, the prepare SQL over the
    survivor subquery, and the split intervals into ONE recursive-CTE
    query — the driver hash covers the entire pipeline."""
    from lakehouse_tools_spark.ext.corpus import prepare_corpus
    from lakehouse_tools_spark.ext.graph import (
        cluster_representatives,
        connected_components_contract,
    )

    docs = load_table(_spark(spark), sf_dir, "documents")
    sh = X_dedup.word_shingles(docs, "text", "doc_id", k=3)
    wide = X_dedup.minhash_wide_from_shingles(sh, num_hashes=8)
    cand = X_dedup.lsh_candidate_pairs_wide(wide, bands=4, rows_per_band=2)
    pairs = X_dedup.jaccard_pairs(sh, candidates=cand, threshold=0.3).select(
        "doc_id", "doc_id2"
    )
    assign = connected_components_contract(
        pairs, docs, src_col="doc_id", dst_col="doc_id2", id_col="doc_id"
    )
    reps = cluster_representatives(assign, "doc_id").select("doc_id")
    surv = docs.join(reps, "doc_id", "left_semi")
    prepared = prepare_corpus(surv, min_quality=0.725, langs=("en",))
    return X_sample.split_corpus(
        prepared, {"train": 0.8, "val": 0.1, "test": 0.1}, "doc_id"
    ).select(
        "doc_id", "lang_pred", "quality_score", "n_tokens", "n_dups", "split"
    )


def _corpus_dedup_e2e_oracle() -> str:
    h = _HASH_U32_SQL.format(key="doc_id", salt="")
    prep = _corpus_oracle(
        src="(SELECT d.doc_id, d.text FROM documents d "
        "WHERE d.doc_id IN (SELECT doc_id FROM reps))"
    )
    # sorted split names: test (0.1), train (0.9), val (1.0) — same
    # cumulative intervals as split_corpus's sorted-weights deal
    return (
        "WITH RECURSIVE "
        + _MINHASH_CTE.lstrip()
        + _COLLAPSE_GRAPH_CTES
        + f""",
reps AS (SELECT doc_id FROM assign WHERE doc_id = cluster_id),
prep AS (SELECT * FROM ({prep}))
SELECT doc_id, lang_pred, quality_score, n_tokens, n_dups,
       CASE WHEN {h} / 4294967296.0 < 0.1 THEN 'test'
            WHEN {h} / 4294967296.0 < 0.9 THEN 'train'
            ELSE 'val' END AS split
FROM prep
"""
    )


def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(_spark(spark), sf_dir, "documents")
    return X_text.quality_features(docs, "text", "doc_id")


def _quality_oracle() -> str:
    norm = _NORM_SQL.format(c="text")
    stop = ", ".join(f"'{w}'" for w in _STOPWORDS)
    return f"""
WITH base AS (
  SELECT doc_id, text, string_split({norm}, ' ') AS words FROM documents
),
feat AS (
  SELECT doc_id,
         CAST(length(text) AS INT) AS n_chars,
         CAST(len(words) AS INT) AS n_words,
         CAST(len(list_filter(words, x -> x IN ({stop}))) AS INT) AS n_stop,
         CAST(len(regexp_extract_all(text, '[^A-Za-z0-9\\s]')) AS INT) AS n_punct
  FROM base
),
ratio AS (
  SELECT doc_id, n_chars, n_words,
         floor((n_chars - (n_words - 1)) / n_words * 1000000) / 1000000 AS mean_word_len,
         floor(n_stop / n_words * 1000000) / 1000000 AS stopword_ratio,
         floor(n_punct / n_chars * 1000000) / 1000000 AS punct_ratio
  FROM feat
)
SELECT doc_id, n_chars, n_words, mean_word_len, stopword_ratio, punct_ratio,
       floor(least(1.0, greatest(0.0,
             0.5 + 0.5 * stopword_ratio - 2.0 * punct_ratio
             + CASE WHEN n_words >= 10 AND n_words <= 5000 THEN 0.2 ELSE -0.2 END)) * 1000000) / 1000000
         AS quality_score
FROM ratio
"""


def q_text_language(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(_spark(spark), sf_dir, "documents")
    return X_text.language_scores(docs, "text", "doc_id")


def _language_oracle() -> str:
    norm = _NORM_SQL.format(c="text")
    langs = sorted(X_text.LANG_MARKERS)
    scores = ", ".join(
        "floor(len(list_filter(words, x -> x IN ({m}))) / len(words) * 1000000) / 1000000 AS score_{l}".format(
            m=", ".join(f"'{w}'" for w in X_text.LANG_MARKERS[lang]), l=lang
        )
        for lang in langs
    )
    best = "greatest(" + ", ".join(f"score_{l}" for l in langs) + ")"
    pred = " ".join(f"WHEN score_{l} = best THEN '{l}'" for l in langs)
    return f"""
WITH base AS (SELECT doc_id, string_split({norm}, ' ') AS words FROM documents),
s AS (SELECT doc_id, {scores} FROM base),
b AS (SELECT *, {best} AS best FROM s)
SELECT doc_id, CASE {pred} END AS lang_pred, best AS score FROM b
"""


def q_text_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(_spark(spark), sf_dir, "documents")
    return docs.select(
        "doc_id",
        X_text.token_count(F.col("text")).cast("int").alias("n_tokens_ws"),
        X_text.regex_token_count(F.col("text")).cast("int").alias("n_tokens_re"),
    )


_TEXT_TOKENS_ORACLE = f"""
SELECT doc_id,
       CAST(len(string_split({_NORM_SQL.format(c="text")}, ' ')) AS INT) AS n_tokens_ws,
       CAST(len(regexp_extract_all(text, '{X_text.TOKEN_PATTERN}')) AS INT) AS n_tokens_re
FROM documents
"""


def q_text_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(_spark(spark), sf_dir, "documents")
    return X_text.fingerprints(docs, "text", "doc_id").select(
        "doc_id", "fingerprint", F.col("n_chars").cast("int").alias("n_chars")
    )


_TEXT_FP_ORACLE = f"""
SELECT doc_id, md5({_NORM_SQL.format(c="text")}) AS fingerprint,
       CAST(length(text) AS INT) AS n_chars
FROM documents
"""


# ----------------------------------------------------- sampling / chunking

_STRATA_FRACTIONS = {"en": 0.5, "de": 0.25}


def q_sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified mixture sampling: keep 50% of en docs,
    25% of de, drop the rest — as ONE shuffle-free filter (the md5
    keep/drop decision pushes down next to the scan; see
    ext/sampling.py for the 100 TB rationale vs df.sample)."""
    docs = load_table(_spark(spark), sf_dir, "documents")
    return X_sample.stratified_sample(
        docs, "lang", _STRATA_FRACTIONS, "doc_id"
    ).select("doc_id", "lang", "source", F.col("n_chars").cast("long").alias("n_chars"))


def _sample_stratified_oracle() -> str:
    h = _HASH_U32_SQL.format(key="doc_id", salt="")
    cases = " ".join(
        f"WHEN '{k}' THEN {v!r}" for k, v in sorted(_STRATA_FRACTIONS.items())
    )
    return f"""
SELECT doc_id, lang, source, n_chars FROM documents
WHERE {h} / 4294967296.0 < CASE lang {cases} ELSE 0.0 END
"""


def q_sample_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic importance sampling (ext/sampling.weighted_sample):
    keep-probability ∝ n_chars targeting 30% overall — long documents
    over-sampled, tail kept probabilistically. One broadcast mean +
    a pure hash filter; no data shuffle."""
    docs = load_table(_spark(spark), sf_dir, "documents")
    return X_sample.weighted_sample(docs, "n_chars", 0.3, "doc_id").select(
        "doc_id", "lang", "n_chars"
    )


def _sample_weighted_oracle() -> str:
    h = _HASH_U32_SQL.format(key="doc_id", salt="")
    return f"""
SELECT doc_id, lang, n_chars FROM documents,
     (SELECT avg(n_chars) AS mw FROM documents)
WHERE {h} / 4294967296.0 < least(1.0, 0.3 * n_chars / mw)
"""


def q_corpus_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test assignment
    (ext/sampling.split_corpus): each document's uniform md5 hash
    picks its split from cumulative-weight intervals — a pure
    projection, so the deal is reproducible across engines and
    partitionings and STABLE UNDER APPENDS (new docs never flip old
    ones), unlike randomSplit whose assignment depends on partition
    layout. Exactly one split per row; 80/10/10."""
    docs = load_table(_spark(spark), sf_dir, "documents")
    return X_sample.split_corpus(
        docs, {"train": 0.8, "val": 0.1, "test": 0.1}, "doc_id"
    ).select("doc_id", "lang", "split")


def _corpus_split_oracle() -> str:
    h = _HASH_U32_SQL.format(key="doc_id", salt="")
    # sorted split names: test (0.1), train (0.9), val (1.0)
    return f"""
SELECT doc_id, lang,
       CASE WHEN {h} / 4294967296.0 < 0.1 THEN 'test'
            WHEN {h} / 4294967296.0 < 0.9 THEN 'train'
            ELSE 'val' END AS split
FROM documents
"""


def q_corpus_budget_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-first selection under a token budget
    (ext/corpus.budget_select): keep the longest documents (score =
    cost = n_chars here) until the cumulative size reaches 50k chars
    — how a fixed-size training mix is filled from a curated pool.
    The global cumsum is a TWO-PHASE quantile-bucket sum (r08
    rewrite): driver-computed score quantiles frozen as literals
    assign each row a bucket, a window partitioned BY BUCKET cumsums
    locally, and the per-bucket totals come back as a broadcast
    offset map — never an unpartitioned global window (single-task
    funnel), and nothing persisted (deterministic input; see the
    operator docstring's contract)."""
    from lakehouse_tools_spark.ext.corpus import budget_select

    docs = load_table(_spark(spark), sf_dir, "documents")
    return budget_select(docs, "n_chars", "n_chars", 50000, "doc_id").select(
        "doc_id", "n_chars"
    )


_BUDGET_SELECT_ORACLE = """
SELECT doc_id, n_chars FROM (
  SELECT doc_id, n_chars,
         SUM(n_chars) OVER (ORDER BY n_chars DESC, doc_id ASC
                            ROWS UNBOUNDED PRECEDING) AS cum
  FROM documents
) WHERE cum <= 50000
"""


def q_sample_balanced(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Class-balanced cap: at most 40 docs per language, winners
    picked by (uniform hash, id) so the kept set is stable across
    runs, engines, and physical row order."""
    docs = load_table(_spark(spark), sf_dir, "documents")
    return X_sample.balanced_sample(docs, "lang", 40, "doc_id").select(
        "doc_id", "lang"
    )


def _sample_balanced_oracle() -> str:
    h = _HASH_U32_SQL.format(key="doc_id", salt="")
    return f"""
SELECT doc_id, lang FROM (
  SELECT doc_id, lang,
         row_number() OVER (PARTITION BY lang ORDER BY {h} ASC, doc_id ASC) AS rn
  FROM documents
) WHERE rn <= 40
"""


def q_chunk_chars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding character-window chunking (512/384 ⇒ 128-char overlap)
    — the pre-tokenization step of an LLM pipeline. Shuffle-free
    posexplode projection (tests pin the no-Exchange plan)."""
    docs = load_table(_spark(spark), sf_dir, "documents")
    return X_chunk.chunk_chars(docs, size=512, stride=384)


_CHUNK_CHARS_ORACLE = """
SELECT doc_id, g AS chunk_id, substr(text, g * 384 + 1, 512) AS chunk,
       CAST(length(substr(text, g * 384 + 1, 512)) AS INT) AS n_chars
FROM (
  SELECT doc_id, text,
         unnest(generate_series(0, CAST(floor((length(text) - 1) / 384) AS BIGINT))) AS g
  FROM documents WHERE length(text) > 0
)
"""


def q_chunk_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-window chunking (128-token windows, stride 96) over
    whitespace-normalized text."""
    docs = load_table(_spark(spark), sf_dir, "documents")
    return X_chunk.chunk_tokens(docs, size=128, stride=96)


_CHUNK_TOKENS_ORACLE = f"""
SELECT doc_id, g AS chunk_id,
       array_to_string(list_slice(words, g * 96 + 1, g * 96 + 128), ' ') AS chunk,
       CAST(len(list_slice(words, g * 96 + 1, g * 96 + 128)) AS INT) AS n_tokens
FROM (
  SELECT doc_id, words,
         unnest(generate_series(0, CAST(floor((len(words) - 1) / 96) AS BIGINT))) AS g
  FROM (
    SELECT doc_id, string_split({_NORM_SQL.format(c="text")}, ' ') AS words
    FROM documents WHERE length(text) > 0
  )
)
"""


def q_pack_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-chunk training-sequence packing (ext/packing.py):
    documents stream into 8 hash buckets, cumulative spans slice into
    1024-unit sequences, documents straddle boundaries as fragments.
    One window cumsum + explode, no join (plan pinned in tests). The
    md5 bucket hash is engine-portable, so DuckDB recomputes the full
    assignment."""
    from lakehouse_tools_spark.ext.packing import pack_chunks

    docs = load_table(_spark(spark), sf_dir, "documents")
    return pack_chunks(docs, "doc_id", "n_chars", budget=1024, num_buckets=8)


_PACK_CHUNKS_ORACLE = """
WITH b AS (
  SELECT doc_id, n_chars,
         CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 8 AS bucket
  FROM documents WHERE n_chars > 0
), s AS (
  -- CAST: DuckDB SUM(BIGINT) is HUGEINT, which pandas reads as float
  SELECT bucket, doc_id, n_chars,
         CAST(SUM(n_chars) OVER (PARTITION BY bucket ORDER BY doc_id) - n_chars AS BIGINT) AS st,
         CAST(SUM(n_chars) OVER (PARTITION BY bucket ORDER BY doc_id) AS BIGINT) AS en
  FROM b
), e AS (
  SELECT bucket, doc_id, st, en,
         unnest(generate_series(CAST(floor(st / 1024.0) AS BIGINT),
                                CAST(floor((en - 1) / 1024.0) AS BIGINT))) AS seq_id
  FROM s
)
SELECT bucket, seq_id, doc_id,
       greatest(0, seq_id * 1024 - st) AS frag_start,
       least(en, (seq_id + 1) * 1024) - greatest(st, seq_id * 1024) AS frag_len
FROM e
"""


def q_pack_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whole-document first-fit-decreasing packing: documents never
    split; per-bucket sequential fitting runs as applyInPandas (the
    honest escape hatch — first-fit is inherently stateful PER ROW,
    so no relational pass expresses it). Hash-verified since round 5
    regardless: sequential state is still a linear RECURSION, and the
    oracle simulates the exact first-fit loop as a recursive CTE —
    one step per item per bucket, carrying the open-bin fill levels
    as a list column and picking the first fitting bin with the same
    (len desc, id asc) order. Capacity, coverage, determinism, and
    oversize-isolation stay pinned in tests/test_packing.py."""
    from lakehouse_tools_spark.ext.packing import pack_bins

    docs = load_table(_spark(spark), sf_dir, "documents")
    return pack_bins(docs, "doc_id", "n_chars", budget=1024, num_buckets=8)


_PACK_BINS_ORACLE = """
WITH RECURSIVE seq AS (
  SELECT doc_id, CAST(n_chars AS BIGINT) AS len,
         CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 8 AS bucket,
         row_number() OVER (
           PARTITION BY CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 8
           ORDER BY CAST(n_chars AS BIGINT) DESC, doc_id ASC) AS rn
  FROM documents
),
rec AS (
  -- anchor: each bucket's largest item opens bin 0
  SELECT bucket, rn, doc_id, len, CAST(0 AS BIGINT) AS bin_id, [len] AS fills
  FROM seq WHERE rn = 1
  UNION ALL
  -- step: first open bin the item fits (list_position = 0 means
  -- none -> open a new bin), then update that bin's fill level
  SELECT s.bucket, s.rn, s.doc_id, s.len,
         CAST(CASE WHEN list_position(list_transform(r.fills, f -> f + s.len <= 1024), true) = 0
                   THEN len(r.fills)
                   ELSE list_position(list_transform(r.fills, f -> f + s.len <= 1024), true) - 1
              END AS BIGINT) AS bin_id,
         CASE WHEN list_position(list_transform(r.fills, f -> f + s.len <= 1024), true) = 0
              THEN list_append(r.fills, s.len)
              ELSE list_transform(generate_series(1, len(r.fills)),
                     j -> CASE WHEN j = list_position(list_transform(r.fills, f -> f + s.len <= 1024), true)
                               THEN r.fills[j] + s.len ELSE r.fills[j] END)
         END AS fills
  FROM rec r JOIN seq s ON s.bucket = r.bucket AND s.rn = r.rn + 1
)
SELECT bucket, bin_id, doc_id, len AS n_chars FROM rec
"""


_PACK_BUDGET = 1024


def q_pack_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-verifiable invariant contract for the first-fit packer
    (same pattern as sketch_error_report — FFD itself isn't
    SQL-expressible, but its guarantees are): over the pack_bins
    output,

    - ``n_docs`` / ``total_len`` — conservation: every document
      packed exactly once, lengths unchanged (oracle computes both
      exactly from the documents table);
    - ``each_doc_once`` — no duplicate assignment;
    - ``no_overfull`` — no bin holding ≥2 docs exceeds the budget
      (a single oversize doc legitimately gets its own over-budget
      bin);
    - ``bins_within_bound`` — first-fit's packing-quality theorem: at
      most one bin per bucket ends < half full (if two did, the
      later bin's first item would have fit in the earlier), so
      n_bins ≤ 2·total/budget + n_buckets.

    A packer regression (lost doc, split doc, overfull bin, or
    degenerate one-doc-per-bin packing) flips a boolean and fails
    the driver compare — upgrading the rows-only ``pack_bins`` to a
    driver-checked guarantee."""
    from lakehouse_tools_spark.ext.packing import pack_bins

    docs = load_table(_spark(spark), sf_dir, "documents")
    packed = pack_bins(
        docs, "doc_id", "n_chars", budget=_PACK_BUDGET, num_buckets=8
    )
    bins = packed.groupBy("bucket", "bin_id").agg(
        F.sum("n_chars").alias("_fill"), F.count(F.lit(1)).alias("_ndocs")
    )
    bin_stats = bins.agg(
        F.count(F.lit(1)).alias("_nbins"),
        F.sum(
            (
                (F.col("_fill") > _PACK_BUDGET) & (F.col("_ndocs") >= 2)
            ).cast("long")
        ).alias("_overfull_multi"),
        F.countDistinct("bucket").alias("_nbuckets"),
    )
    doc_stats = packed.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_len"),
        F.countDistinct("doc_id").alias("_ndistinct"),
    )
    return doc_stats.crossJoin(bin_stats).select(
        F.col("n_docs").cast("long").alias("n_docs"),
        F.col("total_len").cast("long").alias("total_len"),
        (F.col("_ndistinct") == F.col("n_docs")).alias("each_doc_once"),
        (F.col("_overfull_multi") == 0).alias("no_overfull"),
        (
            F.col("_nbins")
            <= 2.0 * F.col("total_len") / _PACK_BUDGET + F.col("_nbuckets")
        ).alias("bins_within_bound"),
    )


_PACK_REPORT_ORACLE = """
SELECT CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS total_len,
       TRUE AS each_doc_once, TRUE AS no_overfull,
       TRUE AS bins_within_bound
FROM documents
"""


_MIX_WEIGHTS = {"en": 3.0, "de": 1.0}
_MIX_TOTAL = 120


def q_corpus_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-mixture assembly: sample the en and de sub-corpora to
    a 3:1 ratio targeting 120 docs, with provenance
    (ext/sampling.build_mixture — per-source fraction from one count
    job, then pure pushdown filters; deterministic md5 keep set)."""
    docs = load_table(_spark(spark), sf_dir, "documents")
    sources = {
        lang: docs.filter(F.col("lang") == lang) for lang in _MIX_WEIGHTS
    }
    return X_sample.build_mixture(sources, _MIX_WEIGHTS, _MIX_TOTAL, "doc_id")


def _corpus_mixture_oracle() -> str:
    h = _HASH_U32_SQL.format(key="doc_id", salt="")
    wsum = sum(_MIX_WEIGHTS.values())
    parts = []
    for lang in sorted(_MIX_WEIGHTS):
        wn = _MIX_WEIGHTS[lang] / wsum
        parts.append(
            f"SELECT doc_id, text, lang, source, n_chars, '{lang}' AS mix_source "
            f"FROM documents WHERE lang = '{lang}' AND {h} / 4294967296.0 < "
            f"least(1.0, {wn!r} * {_MIX_TOTAL} / "
            f"(SELECT count(*) FROM documents WHERE lang = '{lang}'))"
        )
    return " UNION ALL ".join(parts)


def q_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change-data-feed between two deterministic snapshots of orders
    (Delta CDF semantics: insert / update_preimage / update_postimage
    / delete from ONE full-outer join — operators/diff.py). Snapshots
    are hash-sampled subsets with a hash-selected price bump, so both
    engines construct identical versions."""
    from lakehouse_tools_spark.operators.diff import snapshot_diff

    orders = load_table(_spark(spark), sf_dir, "orders")
    key = F.col("o_orderkey")
    old = orders.filter(X_sample.hash_fraction(key, "old") < 0.95)
    bumped = X_sample.hash_fraction(key, "upd") < 0.10
    new = orders.filter(X_sample.hash_fraction(key, "new") < 0.95).withColumn(
        "o_totalprice",
        F.when(bumped, F.col("o_totalprice") + F.lit(1.0)).otherwise(
            F.col("o_totalprice")
        ),
    )
    return snapshot_diff(old, new, ["o_orderkey"])


def _snapshot_diff_oracle() -> str:
    def h(salt: str) -> str:
        return _HASH_U32_SQL.format(key="o_orderkey", salt=salt) + " / 4294967296.0"

    cols = "o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate, o_orderpriority"
    return f"""
WITH old_s AS (
  SELECT {cols} FROM orders WHERE {h("old")} < 0.95
),
new_s AS (
  SELECT o_orderkey, o_custkey, o_orderstatus,
         CASE WHEN {h("upd")} < 0.10 THEN o_totalprice + 1.0 ELSE o_totalprice END
           AS o_totalprice,
         o_orderdate, o_orderpriority
  FROM orders WHERE {h("new")} < 0.95
)
SELECT 'insert' AS _change_type, {cols} FROM new_s
WHERE o_orderkey NOT IN (SELECT o_orderkey FROM old_s)
UNION ALL
SELECT 'delete' AS _change_type, {cols} FROM old_s
WHERE o_orderkey NOT IN (SELECT o_orderkey FROM new_s)
UNION ALL
SELECT 'update_preimage' AS _change_type,
       o.o_orderkey, o.o_custkey, o.o_orderstatus, o.o_totalprice,
       o.o_orderdate, o.o_orderpriority
FROM old_s o JOIN new_s n USING (o_orderkey)
WHERE o.o_totalprice IS DISTINCT FROM n.o_totalprice
UNION ALL
SELECT 'update_postimage' AS _change_type,
       n.o_orderkey, n.o_custkey, n.o_orderstatus, n.o_totalprice,
       n.o_orderdate, n.o_orderpriority
FROM old_s o JOIN new_s n USING (o_orderkey)
WHERE o.o_totalprice IS DISTINCT FROM n.o_totalprice
"""


def q_compaction_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction e2e (maintenance.compact_small_files):
    documents is deliberately fragmented into 40 tiny parquet files,
    then compacted to the size target through the staged-rewrite +
    directory-swap path. The report row carries the file counts AND a
    content fingerprint (sum of per-row md5 hashes) of the compacted
    table — the oracle recomputes the fingerprint from the source
    table, so the driver verifies both that files shrank 40 → 1 and
    that compaction changed NOTHING about the data."""
    import os
    import shutil
    import tempfile

    from lakehouse_tools_spark.operators.maintenance import (
        compact_small_files,
    )

    s = _spark(spark)
    work = os.path.join(
        tempfile.gettempdir(), "lts_compaction", os.path.basename(sf_dir)
    )
    shutil.rmtree(work, ignore_errors=True)
    docs = load_table(s, sf_dir, "documents")
    docs.repartition(40).write.mode("overwrite").parquet(work)
    report = compact_small_files(s, work, target_file_bytes=128 * 1024 * 1024)
    compacted = s.read.parquet(work)
    rowhash = F.conv(
        F.substring(
            F.md5(
                F.concat_ws(
                    ":", F.col("doc_id").cast("string"), F.md5(F.col("text"))
                )
            ),
            1,
            8,
        ),
        16,
        10,
    ).cast("long")
    return compacted.agg(
        F.lit(report["files_before"]).cast("long").alias("files_before"),
        F.lit(report["files_after"]).cast("long").alias("files_after"),
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(rowhash).alias("rowset_sum"),
    )


_COMPACTION_ORACLE = """
SELECT CAST(40 AS BIGINT) AS files_before, CAST(1 AS BIGINT) AS files_after,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(SUM(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':' || md5(text)), 1, 8)) AS BIGINT)) AS BIGINT) AS rowset_sum
FROM documents
"""


def q_profile_histogram_eqdepth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equal-count histograms (profile.equi_depth_histogram) over the
    lineitem measure columns: every bucket holds n/8 rows (±1) with
    its observed value range — informative on skew where equi-width
    collapses. ntile audit mode (per-column single-partition sort,
    exact and ANSI-reproducible); the 100 TB path is GK-sketch
    boundaries + a bounded groupBy."""
    from lakehouse_tools_spark.operators.profile import equi_depth_histogram

    li = load_table(_spark(spark), sf_dir, "lineitem")
    cols = [c for c, _ in _QUANT_COLS["lineitem"]]
    return equi_depth_histogram(li, DB, "lineitem", cols, bins=8)


_EQDEPTH_ORACLE = "\nUNION ALL\n".join(
    f"""
SELECT '{DB}' AS databaseName, 'lineitem' AS tableName,
       '{c}' AS columnName, bucket, CAST(count(*) AS BIGINT) AS n_rows,
       min(x) AS lo, max(x) AS hi
FROM (
  SELECT CAST({c} AS DOUBLE) AS x,
         ntile(8) OVER (ORDER BY CAST({c} AS DOUBLE) ASC) AS bucket
  FROM lineitem WHERE {c} IS NOT NULL
) GROUP BY bucket
"""
    for c, _ in _QUANT_COLS["lineitem"]
)


def q_golden_records(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Golden-record survivorship (operators/golden.py): customers
    folded into synthetic entity clusters (custkey % 300 — the stand-
    in for a dedup/matching verdict) and reduced to one master row
    per cluster with per-column rules: latest non-null name (recency
    = custkey, ties to the larger value), max balance, modal market
    segment (ties to the smallest value). ONE groupBy carries every
    rule — no self-joins; all tie-breaks total, so both engines elect
    identical survivors."""
    from lakehouse_tools_spark.operators.golden import golden_records

    cust = load_table(_spark(spark), sf_dir, "customer").withColumn(
        "cluster_id", F.col("c_custkey") % 300
    )
    return golden_records(
        cust,
        "cluster_id",
        {
            "c_name": "latest",
            "c_acctbal": "max",
            "c_mktsegment": "most_common",
        },
        recency_col="c_custkey",
    )


_GOLDEN_RECORDS_ORACLE = """
WITH c AS (
  SELECT c_custkey % 300 AS cluster_id, c_custkey, c_name, c_acctbal,
         c_mktsegment
  FROM customer
),
latest AS (
  SELECT cluster_id, c_name AS c_name_latest FROM (
    SELECT cluster_id, c_name,
           row_number() OVER (
             PARTITION BY cluster_id
             ORDER BY c_custkey DESC, c_name DESC
           ) AS rn
    FROM c WHERE c_name IS NOT NULL
  ) WHERE rn = 1
),
md AS (
  SELECT cluster_id, c_mktsegment AS c_mktsegment_most_common FROM (
    SELECT cluster_id, c_mktsegment,
           row_number() OVER (
             PARTITION BY cluster_id ORDER BY cnt DESC, c_mktsegment ASC
           ) AS rn
    FROM (
      SELECT cluster_id, c_mktsegment, count(*) AS cnt
      FROM c WHERE c_mktsegment IS NOT NULL GROUP BY 1, 2
    )
  ) WHERE rn = 1
),
mx AS (SELECT cluster_id, max(c_acctbal) AS c_acctbal_max FROM c GROUP BY 1)
SELECT mx.cluster_id, latest.c_name_latest, mx.c_acctbal_max,
       md.c_mktsegment_most_common
FROM mx
LEFT JOIN latest USING (cluster_id)
LEFT JOIN md USING (cluster_id)
"""


def q_rollup_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental materialized rollup (operators/rollup.py): orders
    arrive as three hash-split batches; each batch reduces to per-key
    algebraic partials (count/sum/min/max, sums in decimal so merge
    order can't perturb them), the partials merge, and finals (incl.
    avg = sum/count at read time) are derived from the merged state.
    The oracle aggregates the WHOLE table in one pass — merged
    partials must equal it exactly, the law that lets a 100 TB
    summary stay current for the cost of each day's batch."""
    from lakehouse_tools_spark.operators.rollup import (
        merge_rollups,
        rollup_partials,
        rollup_result,
    )

    orders = load_table(_spark(spark), sf_dir, "orders")
    parts = [
        rollup_partials(
            orders.filter(F.col("o_orderkey") % 3 == i),
            ["o_orderpriority"],
            ["o_totalprice"],
        )
        for i in (0, 1, 2)
    ]
    merged = merge_rollups(parts, ["o_orderpriority"])
    return rollup_result(merged, ["o_orderpriority"])


_ROLLUP_MAINTENANCE_ORACLE = """
SELECT o_orderpriority,
       CAST(count(o_totalprice) AS BIGINT) AS o_totalprice_n,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE) AS o_totalprice_sum,
       min(o_totalprice) AS o_totalprice_min,
       max(o_totalprice) AS o_totalprice_max,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE)
         / count(o_totalprice) AS o_totalprice_avg
FROM orders GROUP BY o_orderpriority
"""


def q_cdc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CDC loop closed end-to-end: diff two snapshots
    (operators/diff.snapshot_diff), convert the diff to a net
    op-coded feed (diff.to_change_feed), and apply that feed back
    onto the OLD snapshot (cdc.apply_changes_into) — the result must
    be exactly the NEW snapshot, which is what the oracle asserts.
    This is the ship-diffs-not-snapshots contract: a downstream
    replica pays one churn-sized batch per sync instead of a full
    copy. Same deterministic snapshot construction as snapshot_diff."""
    from lakehouse_tools_spark.operators.cdc import apply_changes_into
    from lakehouse_tools_spark.operators.diff import (
        snapshot_diff,
        to_change_feed,
    )

    orders = load_table(_spark(spark), sf_dir, "orders")
    key = F.col("o_orderkey")
    old = orders.filter(X_sample.hash_fraction(key, "old") < 0.95)
    bumped = X_sample.hash_fraction(key, "upd") < 0.10
    new = orders.filter(X_sample.hash_fraction(key, "new") < 0.95).withColumn(
        "o_totalprice",
        F.when(bumped, F.col("o_totalprice") + F.lit(1.0)).otherwise(
            F.col("o_totalprice")
        ),
    )
    feed = to_change_feed(snapshot_diff(old, new, ["o_orderkey"]), sequence=1)
    return apply_changes_into(old, feed, ["o_orderkey"], "_seq")


def _cdc_roundtrip_oracle() -> str:
    def h(salt: str) -> str:
        return _HASH_U32_SQL.format(key="o_orderkey", salt=salt) + " / 4294967296.0"

    return f"""
SELECT o_orderkey, o_custkey, o_orderstatus,
       CASE WHEN {h("upd")} < 0.10 THEN o_totalprice + 1.0 ELSE o_totalprice END
         AS o_totalprice,
       o_orderdate, o_orderpriority
FROM orders WHERE {h("new")} < 0.95
"""


_SCD_T0 = "2024-01-01 00:00:00"
_SCD_T1 = "2024-02-01 00:00:00"


def q_scd2_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD Type-2 dimension maintenance (operators/scd.py): bootstrap
    the customer dimension from snapshot A, apply snapshot B at T1
    with full-snapshot semantics (close_missing). Hash-sampled
    membership and a hash-selected segment change give inserts,
    updates (closed old + open new version), closes, and untouched
    rows — all from one full-outer join."""
    import datetime as dt

    from lakehouse_tools_spark.operators.scd import scd2_apply, scd2_init

    t0 = dt.datetime(2024, 1, 1)
    t1 = dt.datetime(2024, 2, 1)
    cust = load_table(_spark(spark), sf_dir, "customer")
    key = F.col("c_custkey")
    snap_a = cust.filter(X_sample.hash_fraction(key, "a") < 0.9)
    seg_changed = X_sample.hash_fraction(key, "seg") < 0.15
    snap_b = cust.filter(X_sample.hash_fraction(key, "b") < 0.9).withColumn(
        "c_mktsegment",
        F.when(seg_changed, F.concat(F.col("c_mktsegment"), F.lit("_X"))).otherwise(
            F.col("c_mktsegment")
        ),
    )
    dim = scd2_init(snap_a, t0)
    return scd2_apply(dim, snap_b, ["c_custkey"], t1, close_missing=True)


def _scd2_oracle() -> str:
    def h(salt: str) -> str:
        return _HASH_U32_SQL.format(key="c_custkey", salt=salt) + " / 4294967296.0"

    cols = "c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment"
    t0, t1 = f"TIMESTAMP '{_SCD_T0}'", f"TIMESTAMP '{_SCD_T1}'"
    return f"""
WITH snap_a AS (
  SELECT {cols} FROM customer WHERE {h("a")} < 0.9
),
snap_b AS (
  SELECT c_custkey, c_name, c_nationkey, c_acctbal,
         CASE WHEN {h("seg")} < 0.15 THEN c_mktsegment || '_X' ELSE c_mktsegment END
           AS c_mktsegment
  FROM customer WHERE {h("b")} < 0.9
),
matched AS (
  SELECT a.c_custkey AS k, a.c_mktsegment AS seg_a, b.c_mktsegment AS seg_b
  FROM snap_a a JOIN snap_b b ON a.c_custkey = b.c_custkey
)
-- B-only keys: first version at T1
SELECT {cols}, {t1} AS valid_from, CAST(NULL AS TIMESTAMP) AS valid_to,
       TRUE AS is_current
FROM snap_b WHERE c_custkey NOT IN (SELECT c_custkey FROM snap_a)
UNION ALL
-- A-only keys: closed at T1 (close_missing)
SELECT {cols}, {t0}, {t1}, FALSE
FROM snap_a WHERE c_custkey NOT IN (SELECT c_custkey FROM snap_b)
UNION ALL
-- changed keys: closed old version ...
SELECT a.c_custkey, a.c_name, a.c_nationkey, a.c_acctbal, a.c_mktsegment,
       {t0}, {t1}, FALSE
FROM snap_a a JOIN matched m ON a.c_custkey = m.k AND m.seg_a <> m.seg_b
UNION ALL
-- ... plus the open new version
SELECT b.c_custkey, b.c_name, b.c_nationkey, b.c_acctbal, b.c_mktsegment,
       {t1}, CAST(NULL AS TIMESTAMP), TRUE
FROM snap_b b JOIN matched m ON b.c_custkey = m.k AND m.seg_a <> m.seg_b
UNION ALL
-- unchanged keys: untouched
SELECT a.c_custkey, a.c_name, a.c_nationkey, a.c_acctbal, a.c_mktsegment,
       {t0}, CAST(NULL AS TIMESTAMP), TRUE
FROM snap_a a JOIN matched m ON a.c_custkey = m.k AND m.seg_a = m.seg_b
"""


def q_text_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 TF-IDF keywords per document (ext/text.tfidf_keywords) —
    unsupervised keyword tagging for cluster labeling / domain
    routing. One explode + (doc, word) groupBy for TF; the
    vocabulary-sized DF relation broadcasts back onto TF; corpus size
    N is a broadcast 1-row aggregate (never a window over an empty
    partition). Deterministic floor6 scores + (score desc, word asc)
    tiebreak make the full ranking oracle-checkable."""
    from lakehouse_tools_spark.ext.text import tfidf_keywords

    docs = load_table(_spark(spark), sf_dir, "documents")
    return tfidf_keywords(docs, "text", "doc_id", k=3)


_TEXT_KEYWORDS_ORACLE = f"""
WITH words AS (
  SELECT doc_id, w FROM (
    SELECT doc_id, unnest(string_split({_NORM_SQL.format(c="text")}, ' ')) AS w
    FROM documents
  ) WHERE length(w) >= 3
),
tf AS (
  SELECT doc_id, w, CAST(count(*) AS BIGINT) AS tf
  FROM words GROUP BY doc_id, w
),
dfq AS (SELECT w, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY w),
n AS (SELECT count(DISTINCT doc_id) AS nd FROM documents),
scored AS (
  SELECT tf.doc_id, tf.w, tf.tf, dfq.df,
         floor(tf.tf * (ln((n.nd + 1) / CAST(dfq.df + 1 AS DOUBLE)) + 1.0)
               * 1000000) / 1000000 AS score
  FROM tf JOIN dfq USING (w) CROSS JOIN n
)
SELECT doc_id, w AS word, tf, df, score, CAST(rank AS INT) AS rank FROM (
  SELECT *, row_number() OVER (
    PARTITION BY doc_id ORDER BY score DESC, w ASC) AS rank
  FROM scored
) WHERE rank <= 3
"""


def q_text_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-200 adjacent word pairs (ext/text.bigram_counts) — the
    counting step of BPE-style merge-rule mining / word2phrase
    collocation detection. JVM-side transform over token index ranges
    (no UDF), one explode + one groupBy; shuffle carries (bigram,
    partial counts) after map-side combine. Deterministic (count
    desc, bigram asc) top-200 — fully oracle-checkable."""
    from lakehouse_tools_spark.ext.text import bigram_counts

    docs = load_table(_spark(spark), sf_dir, "documents")
    return bigram_counts(docs, "text", "doc_id", top=200)


_TEXT_BIGRAMS_ORACLE = f"""
WITH d AS (
  SELECT doc_id, string_split({_NORM_SQL.format(c="text")}, ' ') AS toks
  FROM documents
),
bg AS (
  SELECT doc_id,
         array_to_string(toks[u.i + 1 : u.i + 2], ' ') AS bigram
  FROM d, UNNEST(CASE WHEN len(toks) >= 2
                      THEN generate_series(0, len(toks) - 2)
                      ELSE [] END) AS u(i)
)
SELECT bigram, CAST(count(*) AS BIGINT) AS n_total,
       CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
FROM bg GROUP BY bigram
ORDER BY n_total DESC, bigram ASC LIMIT 200
"""


def q_text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition screen (ext/text.repetition_signals):
    per document, the fraction of 1/2/3-gram occurrences taken by the
    most frequent gram plus vocabulary richness, and a `repetitive`
    verdict at fixed thresholds — the repetition block of web-corpus
    quality filtering (boilerplate and keyword stuffing light up
    these signals before any LM score). All gram sizes build from the
    token array JVM-side and explode ONCE; the counting shuffle
    carries distinct (doc, size, gram) partials, never text."""
    from lakehouse_tools_spark.ext.text import repetition_signals

    docs = load_table(_spark(spark), sf_dir, "documents")
    sig = repetition_signals(docs, "text", "doc_id")
    return sig.select(
        "doc_id",
        "n_words",
        "distinct_word_ratio",
        "top_word_frac",
        "top_bigram_frac",
        "top_trigram_frac",
        (
            (F.col("top_word_frac") > 0.09)
            | (F.col("top_bigram_frac") > 0.035)
            | (F.col("distinct_word_ratio") < 0.24)
        ).alias("repetitive"),
    )


_TEXT_REPETITION_ORACLE = f"""
WITH d AS (
  SELECT doc_id, string_split({_NORM_SQL.format(c="text")}, ' ') AS toks
  FROM documents
),
g AS (
  SELECT doc_id, 1 AS n, unnest(toks) AS gram FROM d
  UNION ALL
  SELECT doc_id, 2 AS n, array_to_string(toks[u.i + 1 : u.i + 2], ' ') AS gram
  FROM d, UNNEST(CASE WHEN len(toks) >= 2
                      THEN generate_series(0, len(toks) - 2)
                      ELSE [] END) AS u(i)
  UNION ALL
  SELECT doc_id, 3 AS n, array_to_string(toks[u.i + 1 : u.i + 3], ' ') AS gram
  FROM d, UNNEST(CASE WHEN len(toks) >= 3
                      THEN generate_series(0, len(toks) - 3)
                      ELSE [] END) AS u(i)
),
c AS (SELECT doc_id, n, gram, count(*) AS c FROM g GROUP BY 1, 2, 3),
ps AS (
  SELECT doc_id, n, max(c) AS top_c, sum(c) AS total,
         count(*) AS n_distinct
  FROM c GROUP BY 1, 2
),
agg AS (
  SELECT doc_id,
         CAST(max(CASE WHEN n = 1 THEN total END) AS BIGINT) AS n_words,
         floor(max(CASE WHEN n = 1 THEN n_distinct / CAST(total AS DOUBLE) END) * 1000000) / 1000000 AS distinct_word_ratio,
         floor(max(CASE WHEN n = 1 THEN top_c / CAST(total AS DOUBLE) END) * 1000000) / 1000000 AS top_word_frac,
         floor(max(CASE WHEN n = 2 THEN top_c / CAST(total AS DOUBLE) END) * 1000000) / 1000000 AS top_bigram_frac,
         floor(max(CASE WHEN n = 3 THEN top_c / CAST(total AS DOUBLE) END) * 1000000) / 1000000 AS top_trigram_frac
  FROM ps GROUP BY doc_id
)
SELECT *,
       (top_word_frac > 0.09 OR top_bigram_frac > 0.035
        OR distinct_word_ratio < 0.24) AS repetitive
FROM agg
"""


def q_text_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document mean negative log-probability under the corpus's
    own Laplace-smoothed unigram LM (ext/text.unigram_logprob) — the
    perplexity-proxy quality signal for ranking docs when a real LM
    is too expensive. Vocabulary broadcast onto the exploded tokens;
    (T, V) scalars broadcast via a 1-row aggregate; one final
    per-doc groupBy. floor6 scores — fully oracle-checkable."""
    from lakehouse_tools_spark.ext.text import unigram_logprob

    docs = load_table(_spark(spark), sf_dir, "documents")
    return unigram_logprob(docs, "text", "doc_id")


_TEXT_LOGPROB_ORACLE = f"""
WITH words AS (
  SELECT doc_id, w FROM (
    SELECT doc_id, unnest(string_split({_NORM_SQL.format(c="text")}, ' ')) AS w
    FROM documents
  ) WHERE length(w) >= 1
),
vocab AS (SELECT w, CAST(count(*) AS BIGINT) AS cnt FROM words GROUP BY w),
tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS t,
               CAST(count(*) AS BIGINT) AS v FROM vocab)
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
       floor(avg(-ln((vocab.cnt + 1) / CAST(tot.t + tot.v AS DOUBLE)))
             * 1000000) / 1000000 AS mean_nll
FROM words JOIN vocab USING (w) CROSS JOIN tot
GROUP BY doc_id
"""


def q_text_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-100 collocations by pointwise mutual information
    (ext/text.pmi_bigrams) — word2phrase-style phrase mining. One
    unigram + one bigram aggregate (map-side combine), then broadcast
    joins of the vocabulary-sized counts onto the pair relation;
    min_count=3 suppresses the unstable hapax tail. floor6 + (pmi
    desc, bigram asc) tiebreak — fully oracle-checkable."""
    from lakehouse_tools_spark.ext.text import pmi_bigrams

    docs = load_table(_spark(spark), sf_dir, "documents")
    return pmi_bigrams(docs, "text", "doc_id", min_count=3, top=100)


_TEXT_PMI_ORACLE = f"""
WITH words AS (
  SELECT doc_id, unnest(string_split({_NORM_SQL.format(c="text")}, ' ')) AS w
  FROM documents
),
uni AS (SELECT w, CAST(count(*) AS BIGINT) AS cw FROM words GROUP BY w),
t1 AS (SELECT CAST(sum(cw) AS BIGINT) AS t FROM uni),
d AS (
  SELECT doc_id, string_split({_NORM_SQL.format(c="text")}, ' ') AS toks
  FROM documents
),
bg AS (
  SELECT array_to_string(toks[u.i + 1 : u.i + 2], ' ') AS bigram
  FROM d, UNNEST(CASE WHEN len(toks) >= 2
                      THEN generate_series(0, len(toks) - 2)
                      ELSE [] END) AS u(i)
),
pairs AS (SELECT bigram, CAST(count(*) AS BIGINT) AS n_pair
          FROM bg GROUP BY bigram),
t2 AS (SELECT CAST(sum(n_pair) AS BIGINT) AS t FROM pairs)
SELECT bigram, n_pair,
       floor(ln((n_pair / CAST(t2.t AS DOUBLE))
                / ((u1.cw / CAST(t1.t AS DOUBLE))
                   * (u2.cw / CAST(t1.t AS DOUBLE))))
             * 1000000) / 1000000 AS pmi
FROM pairs
JOIN uni u1 ON u1.w = string_split(bigram, ' ')[1]
JOIN uni u2 ON u2.w = string_split(bigram, ' ')[2]
CROSS JOIN t1 CROSS JOIN t2
WHERE n_pair >= 3
ORDER BY pmi DESC, bigram ASC LIMIT 100
"""


def q_text_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer training contract (ext/text.learn_bpe_merges +
    apply_bpe): learn 10 merge rules — ONE corpus-scale word-frequency
    aggregate collected under the default 64 Ki vocab cap, then the
    merge loop on the capped vocabulary (the production trainer
    architecture; looping over the VOCAB is the algorithm, not a
    collect anti-pattern) — and encode the corpus with them. Encoding
    is fully distributed since r10: the distinct-word relation is
    encoded by an Arrow-batched mapInPandas carrying only the tiny
    merge-rank table, then joined back to (doc, word) counts — no
    driver-side vocabulary materialization anywhere in the plan.
    The merge loop itself is iterative and not SQL-expressible, so
    the contract pins what IS: the first merge must equal the
    corpus's most frequent adjacent character pair (SQL-computable),
    the merge table must contain n distinct rules, and the encoded
    token total must land between the word count (≥1 token/word) and
    the character total (merges only ever shrink). A broken trainer,
    tiebreak, or encoder flips a field and fails the driver hash.
    The contract pins merge-table content and token bounds, not the
    encode route — so the oracle is unchanged across the r10
    de-weakening."""
    from lakehouse_tools_spark.ext.text import apply_bpe, learn_bpe_merges

    docs = load_table(_spark(spark), sf_dir, "documents")
    merges = learn_bpe_merges(docs, "text", num_merges=10)
    enc = apply_bpe(docs, "text", "doc_id", merges)
    words = docs.select(
        F.explode(F.split(X_dedup.normalize_text(F.col("text")), " ")).alias(
            "w"
        )
    ).filter(F.col("w") != "")
    bounds = words.agg(
        F.count(F.lit(1)).alias("_nw"), F.sum(F.length("w")).alias("_nc")
    )
    total = enc.agg(F.sum("n_tokens").alias("_nt"))
    return total.crossJoin(bounds).select(
        F.lit(len(merges)).alias("n_merges"),
        F.lit(merges[0][0]).alias("first_left"),
        F.lit(merges[0][1]).alias("first_right"),
        F.lit(len(set(merges)) == len(merges)).alias("pairs_distinct"),
        (
            (F.col("_nt") >= F.col("_nw")) & (F.col("_nt") <= F.col("_nc"))
        ).alias("tokens_within_bounds"),
    )


#: The oracle's vocab CTE mirrors the operator's default 64 Ki cap
#: (ext/text.DEFAULT_BPE_MAX_VOCAB, same (freq DESC, w ASC) total
#: order) so the pinned first-merge contract holds BY CONSTRUCTION
#: even on a corpus whose distinct-word count exceeds the cap —
#: without the LIMIT the contract would silently depend on the cap
#: never binding (today's fixtures keep it non-binding, but the cap
#: exists precisely for corpora where it wouldn't be).
_TEXT_BPE_ORACLE = f"""
WITH words AS (
  SELECT w FROM (
    SELECT unnest(string_split({_NORM_SQL.format(c="text")}, ' ')) AS w
    FROM documents
  ) WHERE w <> ''
),
vocab AS (
  SELECT w, CAST(count(*) AS BIGINT) AS freq FROM words GROUP BY w
  ORDER BY freq DESC, w ASC LIMIT 65536
),
pairs AS (
  SELECT substring(w, u.i, 1) AS a, substring(w, u.i + 1, 1) AS b,
         sum(freq) AS c
  FROM vocab, UNNEST(generate_series(1, length(w) - 1)) AS u(i)
  GROUP BY 1, 2
),
best AS (SELECT a, b FROM pairs ORDER BY c DESC, a ASC, b ASC LIMIT 1)
SELECT 10 AS n_merges, a AS first_left, b AS first_right,
       TRUE AS pairs_distinct, TRUE AS tokens_within_bounds
FROM best
"""


#: Fixed merge table for the fertility report. Chosen so that (a)
#: sequential rank-order application == the iterative lowest-rank
#: encode (no rule's product equals a LATER rule's operand, so later
#: merges can never create earlier-rule pairs), which is what lets a
#: chain of per-rule list folds replicate the encode exactly in SQL;
#: (b) the pairs are high-frequency English digraphs, so the report
#: exercises real merging on the fixture corpus. Property-tested
#: against the iterative reference on adversarial words
#: (tests/test_text.py).
_BPE_REPORT_MERGES: list[tuple[str, str]] = [
    ("t", "h"), ("th", "e"), ("i", "n"), ("a", "n"), ("o", "n"),
    ("e", "r"), ("r", "e"), ("a", "t"), ("e", "s"), ("o", "r"),
]


def q_text_bpe_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility report (ext/text.bpe_fertility_report —
    the r12 growth candidate on the r10-distributed encode): given a
    FIXED merge table (the standard eval setting: a trained tokenizer
    measured on a corpus), the EXACT corpus token total under the
    iterative BPE encode plus the derived fertility metrics
    (tokens/word, chars/token, tokens/doc, whole-word rate) and
    vocabulary-usage counts. Unlike ``text_bpe`` (which pins bounds
    because its merges are corpus-learned and training is not
    SQL-expressible), the fixed table makes the FULL encode
    oracle-exact: the oracle re-encodes every distinct word with one
    left-to-right list fold per merge rule — equivalent to the
    iterative lowest-rank encode for this table by construction (see
    ``_BPE_REPORT_MERGES``). Throughput is measured in the scale
    harness, never hashed."""
    from lakehouse_tools_spark.ext.text import bpe_fertility_report

    docs = load_table(_spark(spark), sf_dir, "documents")
    return bpe_fertility_report(docs, "text", "doc_id", _BPE_REPORT_MERGES)


def _bpe_report_oracle(merges: list[tuple[str, str]]) -> str:
    """DuckDB twin of the fixed-table BPE encode: chars -> one
    ``list_reduce`` fold per merge rule over the chr(31)-separated
    token string (tokens never contain the separator), then
    vocabulary-level aggregation weighted by word counts."""
    sep = "chr(31)"
    folds = []
    prev = "s0"
    for idx, (a, b) in enumerate(merges, start=1):
        cur = f"s{idx}"
        folds.append(f"""
e{idx} AS (
  SELECT w, c, list_reduce(string_split({prev}, {sep}),
    (acc, x) -> CASE WHEN (acc = '{a}' OR ends_with(acc, {sep} || '{a}'))
                      AND x = '{b}'
                     THEN acc || '{b}'
                     ELSE acc || {sep} || x END) AS {cur}
  FROM e{idx - 1}
)""")
        prev = cur
    norm = _NORM_SQL.format(c="text")
    return f"""
WITH words AS (
  SELECT w FROM (
    SELECT unnest(string_split({norm}, ' ')) AS w FROM documents
  ) WHERE w <> ''
),
wc AS (SELECT w, CAST(count(*) AS BIGINT) AS c FROM words GROUP BY w),
e0 AS (
  SELECT w, c,
         array_to_string(list_transform(generate_series(1, length(w)),
                                        i -> substring(w, i, 1)), {sep}) AS s0
  FROM wc
),{",".join(folds)}
,
fin AS (
  SELECT w, c, string_split({prev}, {sep}) AS toks FROM e{len(merges)}
),
tot AS (
  SELECT CAST(sum(c) AS BIGINT) AS n_words,
         CAST(count(*) AS BIGINT) AS n_distinct_words,
         CAST(sum(length(w) * c) AS BIGINT) AS n_chars,
         CAST(sum(len(toks) * c) AS BIGINT) AS n_tokens,
         CAST(sum(CASE WHEN len(toks) = 1 THEN c ELSE 0 END) AS BIGINT)
           AS n_single
  FROM fin
),
dt AS (
  SELECT CAST(count(DISTINCT tok) AS BIGINT) AS n_distinct_tokens
  FROM (SELECT unnest(toks) AS tok FROM fin)
),
nd AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents)
SELECT nd.n_docs, tot.n_words, tot.n_distinct_words, tot.n_chars,
       tot.n_tokens, dt.n_distinct_tokens,
       CASE WHEN tot.n_words > 0
            THEN floor(tot.n_tokens / CAST(tot.n_words AS DOUBLE)
                       * 1000000) / 1000000 END AS fertility,
       CASE WHEN tot.n_tokens > 0
            THEN floor(tot.n_chars / CAST(tot.n_tokens AS DOUBLE)
                       * 1000000) / 1000000 END AS chars_per_token,
       CASE WHEN nd.n_docs > 0
            THEN floor(tot.n_tokens / CAST(nd.n_docs AS DOUBLE)
                       * 1000000) / 1000000 END AS tokens_per_doc,
       CASE WHEN tot.n_words > 0
            THEN floor(tot.n_single / CAST(tot.n_words AS DOUBLE)
                       * 1000000) / 1000000 END AS whole_word_rate
FROM tot, dt, nd
"""


_TEXT_BPE_REPORT_ORACLE = _bpe_report_oracle(_BPE_REPORT_MERGES)


def q_text_vocabulary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary table: top-200 words by document frequency
    and total count (deterministic tiebreak) — the frequency table a
    tokenizer-training / stopword-selection step starts from. One
    explode + one groupBy; the shuffle carries (word, partial counts)
    after map-side combine, never document text."""
    docs = load_table(_spark(spark), sf_dir, "documents")
    words = docs.select(
        "doc_id",
        F.explode(F.split(X_dedup.normalize_text(F.col("text")), " ")).alias("w"),
    ).filter(F.col("w") != "")
    return (
        words.groupBy("w")
        .agg(
            F.count(F.lit(1)).alias("n_total"),
            F.count_distinct("doc_id").alias("n_docs"),
        )
        .orderBy(F.col("n_total").desc(), F.col("w").asc())
        .limit(200)
        .select(F.col("w").alias("word"), "n_total", "n_docs")
    )


_TEXT_VOCAB_ORACLE = f"""
SELECT w AS word, CAST(count(*) AS BIGINT) AS n_total,
       CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
FROM (
  SELECT doc_id, unnest(string_split({_NORM_SQL.format(c="text")}, ' ')) AS w
  FROM documents
) WHERE w <> ''
GROUP BY w ORDER BY n_total DESC, w ASC LIMIT 200
"""


def q_catalog_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANALYZE-style catalog statistics: per table, row count and
    column count — the planner-facing metadata a lakehouse keeps per
    table version. Counts are one agg per table, unioned lazily."""
    s = _spark(spark)
    parts = []
    for t in PROFILE_TABLES:
        df = load_table(s, sf_dir, t)
        parts.append(
            df.agg(F.count(F.lit(1)).alias("n_rows")).select(
                F.lit(DB).alias("databaseName"),
                F.lit(t).alias("tableName"),
                F.col("n_rows").cast("long"),
                F.lit(len(df.columns)).cast("int").alias("n_cols"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def _catalog_stats_oracle() -> str:
    parts = [
        f"SELECT '{DB}' AS databaseName, '{t}' AS tableName, "
        f"CAST(count(*) AS BIGINT) AS n_rows, "
        f"CAST({len(FIXTURE_SCHEMAS[t])} AS INT) AS n_cols FROM {t}"
        for t in PROFILE_TABLES
    ]
    return " UNION ALL ".join(parts)


def q_text_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub + audit counts. The fixture corpus is synthetic (no
    real PII), so the query grafts a deterministic email/phone header
    onto each doc — both engines build the identical input — and the
    oracle proves the Java-regex and RE2 scrubs agree byte-for-byte."""
    docs = load_table(_spark(spark), sf_dir, "documents")
    seeded = docs.select(
        "doc_id",
        F.concat(
            F.lit("contact u"),
            F.col("doc_id").cast("string"),
            F.lit("@ex.com ph 415-555-"),
            F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
            F.lit(" "),
            F.col("text"),
        ).alias("text"),
    )
    return X_redact.redact(seeded)


def _text_redact_oracle() -> str:
    seeded = (
        "concat('contact u', CAST(doc_id AS VARCHAR), '@ex.com ph 415-555-', "
        "lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0'), ' ', text)"
    )
    stages, cur = [], seeded
    for _, pattern, repl in X_redact.PII_PATTERNS:
        stages.append(cur)
        cur = f"regexp_replace({cur}, '{pattern}', '{repl}', 'g')"
    counts = ", ".join(
        f"CAST(len(regexp_extract_all({stage}, '{p}')) AS INT) AS n_{name}"
        for stage, (name, p, _) in zip(stages, X_redact.PII_PATTERNS)
    )
    return f"SELECT doc_id, {cur} AS redacted, {counts} FROM documents"


# ---------------------------------------------------------------- events


def q_events_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-interval range join: every event landing inside any
    error incident's ±5-minute window, aggregated per incident. Runs
    through operators/ranges.interval_bin_join (10-minute buckets ≈
    the window length), so the non-equi join executes as a bucketed
    equi-join instead of a nested-loop — see that module for the
    scale argument."""
    from lakehouse_tools_spark.operators.ranges import interval_bin_join

    ev = load_table(_spark(spark), sf_dir, "events")
    incidents = ev.filter(F.col("event_type") == "error").select(
        F.col("event_id").alias("incident_id"),
        (F.col("ts") - F.expr("INTERVAL 5 MINUTES")).alias("w_start"),
        (F.col("ts") + F.expr("INTERVAL 5 MINUTES")).alias("w_end"),
    )
    joined = interval_bin_join(
        ev.select("event_id", "ts", "user_id", "value"),
        incidents,
        ts_col="ts",
        start_col="w_start",
        end_col="w_end",
        bucket_seconds=600,
    )
    return joined.groupBy("incident_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.countDistinct("user_id").alias("n_users"),
        F.sum(_dec("value")).cast("double").alias("sum_value"),
    )


_EVENTS_RANGE_JOIN_ORACLE = """
WITH incidents AS (
  SELECT event_id AS incident_id,
         ts - INTERVAL 5 MINUTE AS w_start,
         ts + INTERVAL 5 MINUTE AS w_end
  FROM events WHERE event_type = 'error'
)
SELECT incident_id, count(*) AS n_events,
       count(DISTINCT user_id) AS n_users,
       CAST(SUM(CAST(value AS DECIMAL(10,2))) AS DOUBLE) AS sum_value
FROM events e JOIN incidents i ON e.ts >= i.w_start AND e.ts <= i.w_end
GROUP BY incident_id
"""


def q_events_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join (streaming/joins.py): purchases ⋈
    views of the same user with the view in the 30 minutes before the
    purchase — both sides true readStream relations with watermarks,
    drained availableNow into a memory sink. INNER join semantics
    need no flush sentinel (unlike the left-outer sibling below):
    every matched pair emits the moment both rows are present — only
    outer NULL rows depend on watermark-driven state *eviction*, so
    the drained inner result equals the batch interval join with no
    eviction contract required. That batch join is the exact oracle."""
    from lakehouse_tools_spark.sources.tables import load_stream
    from lakehouse_tools_spark.streaming.joins import stream_interval_join
    from lakehouse_tools_spark.streaming.sink import run_to_memory

    s = _spark(spark)
    # a stream-stream join maintains FOUR state stores per shuffle
    # partition and each instance pays fixed setup/commit I/O per
    # micro-batch; size the partition count to the SOURCE volume
    # (sink.sized_state_partitions — r12: replaces the fixed 8) so the
    # instance count tracks the state the join can actually hold; the
    # count is baked into the checkpoint at first start — a real
    # deployment sizes it to rate × range up front
    from lakehouse_tools_spark.streaming.sink import sized_state_partitions

    prev_parts = s.conf.get("spark.sql.shuffle.partitions")
    s.conf.set(
        "spark.sql.shuffle.partitions",
        str(sized_state_partitions(s, f"{sf_dir}/events.parquet")),
    )
    # everything fallible (load_stream schema probe, join analysis,
    # the drain itself) sits inside the try/finally so an exception
    # can't leak the narrow-partition override into later queries —
    # same pattern as the outer-join sibling below
    try:
        p = X_win.with_watermark(
            load_stream(s, sf_dir, "events")
            .filter(F.col("event_type") == "purchase")
            .select("event_id", "ts", "user_id"),
            "ts",
            "1 hour",
        )
        v = X_win.with_watermark(
            load_stream(s, sf_dir, "events")
            .filter(F.col("event_type") == "view")
            .select("event_id", "ts", "user_id"),
            "ts",
            "1 hour",
        )
        joined = stream_interval_join(
            p, v, "user_id", "ts", "ts", -1800, 0, prefixes=("p_", "v_")
        )
        out = run_to_memory(joined, "events_stream_join", output_mode="append")
    finally:
        s.conf.set("spark.sql.shuffle.partitions", prev_parts)
    return out.select(
        "user_id",
        "p_event_id",
        "v_event_id",
        F.date_format("p_ts", TS_FMT_SPARK).alias("p_ts_s"),
        F.date_format("v_ts", TS_FMT_SPARK).alias("v_ts_s"),
    )


_EVENTS_STREAM_JOIN_ORACLE = f"""
SELECT p.user_id, p.event_id AS p_event_id, v.event_id AS v_event_id,
       strftime(p.ts, '{TS_FMT_SQL}') AS p_ts_s,
       strftime(v.ts, '{TS_FMT_SQL}') AS v_ts_s
FROM (SELECT event_id, ts, user_id FROM events WHERE event_type = 'purchase') p
JOIN (SELECT event_id, ts, user_id FROM events WHERE event_type = 'view') v
  ON p.user_id = v.user_id
 AND v.ts >= p.ts - INTERVAL 30 MINUTE
 AND v.ts <= p.ts
"""


def q_events_stream_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream LEFT OUTER interval join: purchases with their
    preceding 30-minute view if any, null-padded otherwise — the
    attribution shape where absence of a match is itself the signal.
    Outer null rows only emit when the watermark provably closes a
    left row's match window, and Spark's eviction margin is awkward
    to encode; instead each input carries a far-future flush sentinel
    (streaming/joins.flush_sentinel_union) that drives the final
    watermark past every real row's closing point, so the drained run
    equals the plain batch LEFT JOIN exactly — which is the oracle.
    Sentinels use impossible keys and are filtered from the output."""
    import datetime
    import shutil
    import tempfile

    from lakehouse_tools_spark.sources.tables import load_stream
    from lakehouse_tools_spark.streaming.joins import (
        flush_sentinel_union,
        stream_interval_join,
    )
    from lakehouse_tools_spark.streaming.sink import run_to_memory

    s = _spark(spark)
    flush_ts = datetime.datetime(2030, 1, 1)
    sentinel_dirs: list[str] = []

    def _side(etype: str, sid: int) -> DataFrame:
        base = (
            load_stream(s, sf_dir, "events")
            .filter(F.col("event_type") == etype)
            .select("event_id", "ts", "user_id")
        )
        d = tempfile.mkdtemp(prefix=f"lts_flush_{etype}_")
        sentinel_dirs.append(d)
        withsent = flush_sentinel_union(
            base, {"event_id": sid, "ts": flush_ts, "user_id": sid}, d
        )
        return X_win.with_watermark(withsent, "ts", "1 hour")

    from lakehouse_tools_spark.streaming.sink import sized_state_partitions

    prev_parts = s.conf.get("spark.sql.shuffle.partitions")
    s.conf.set(
        "spark.sql.shuffle.partitions",
        str(sized_state_partitions(s, f"{sf_dir}/events.parquet")),
    )
    # the override and the sentinel dirs must not outlive this query:
    # everything from here on (building the sides included — side
    # construction runs a sentinel-parquet write) is inside the
    # try/finally so a mid-build exception can't leak either
    try:
        joined = stream_interval_join(
            _side("purchase", -1),
            _side("view", -2),
            "user_id",
            "ts",
            "ts",
            -1800,
            0,
            prefixes=("p_", "v_"),
            how="left_outer",
        )
        out = run_to_memory(
            joined, "events_stream_outer_join", output_mode="append"
        )
    finally:
        s.conf.set("spark.sql.shuffle.partitions", prev_parts)
        # run_to_memory drained the stream (availableNow) into the
        # memory sink, so the file-source sentinel dirs are dead
        for d in sentinel_dirs:
            shutil.rmtree(d, ignore_errors=True)
    return out.filter(F.col("user_id") >= 0).select(
        "user_id",
        "p_event_id",
        "v_event_id",
        F.date_format("p_ts", TS_FMT_SPARK).alias("p_ts_s"),
        F.date_format("v_ts", TS_FMT_SPARK).alias("v_ts_s"),
    )


_EVENTS_STREAM_OUTER_ORACLE = f"""
SELECT p.user_id, p.event_id AS p_event_id, v.event_id AS v_event_id,
       strftime(p.ts, '{TS_FMT_SQL}') AS p_ts_s,
       strftime(v.ts, '{TS_FMT_SQL}') AS v_ts_s
FROM (SELECT event_id, ts, user_id FROM events WHERE event_type = 'purchase') p
LEFT JOIN (SELECT event_id, ts, user_id FROM events WHERE event_type = 'view') v
  ON p.user_id = v.user_id
 AND v.ts >= p.ts - INTERVAL 30 MINUTE
 AND v.ts <= p.ts
"""


def q_events_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming deduplication: the stream unioned with itself (every
    event delivered twice — the at-least-once ingestion scenario) is
    deduplicated by key with ``dropDuplicates`` under a watermark, so
    dedup state is bounded to the watermark horizon instead of
    growing with stream history. All columns are functionally
    determined by event_id, so which duplicate survives is
    value-irrelevant and the batch DISTINCT is an exact oracle."""
    from lakehouse_tools_spark.sources.tables import load_stream
    from lakehouse_tools_spark.streaming.sink import run_to_memory

    from lakehouse_tools_spark.streaming.sink import (
        scoped_shuffle_partitions,
        sized_state_partitions,
    )

    s = _spark(spark)
    stream = load_stream(s, sf_dir, "events").select("event_id", "ts", "user_id")
    doubled = stream.unionByName(stream)
    deduped = X_win.with_watermark(doubled, "ts", "1 hour").dropDuplicates(
        ["event_id"]
    )
    with scoped_shuffle_partitions(
        s, sized_state_partitions(s, f"{sf_dir}/events.parquet")
    ):
        out = run_to_memory(deduped, "events_stream_dedup", output_mode="append")
    return out.select(
        "event_id",
        F.date_format("ts", TS_FMT_SPARK).alias("ts_s"),
        "user_id",
    )


_EVENTS_STREAM_DEDUP_ORACLE = f"""
SELECT event_id, strftime(ts, '{TS_FMT_SQL}') AS ts_s, user_id FROM events
"""


def q_events_stream_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming keyed upsert e2e (streaming/sink.upsert_stream): the
    events stream drains via availableNow foreachBatch into the
    durable table layer — each micro-batch dedups to its
    deterministic newest row per user (latest_per_key: ts desc + a
    total tiebreak, so replayed batches keep the SAME winner) and
    MERGEs by user_id with the batch writer's atomic swap. Final
    state = the globally latest event per user: exact here (the
    fixture drains in one batch) and whenever batch arrival respects
    event time (the append-log case); keyed idempotent upsert is what
    turns foreachBatch's at-least-once replay into effectively
    exactly-once."""
    import shutil
    import tempfile

    from lakehouse_tools_spark.operators.writer import create_or_replace
    from lakehouse_tools_spark.sources.tables import load_stream
    from lakehouse_tools_spark.streaming.sink import upsert_stream

    s = _spark(spark)
    tbl = "events_latest_by_user"
    for t in s.catalog.listTables():
        if t.name == tbl or t.name.startswith(f"{tbl}__"):
            s.sql(f"DROP TABLE `{t.name}`")
    wh = _warehouse_path(s)
    if os.path.isdir(wh):
        for d in os.listdir(wh):
            if d == tbl or d.startswith(f"{tbl}__"):
                shutil.rmtree(os.path.join(wh, d), ignore_errors=True)
    cols = ["event_id", "ts", "user_id", "event_type", "value"]
    create_or_replace(
        s, load_table(s, sf_dir, "events").select(*cols).limit(0), tbl
    )
    from lakehouse_tools_spark.streaming.sink import (
        scoped_shuffle_partitions,
        sized_state_partitions,
    )

    stream = load_stream(s, sf_dir, "events").select(*cols)
    ckpt = tempfile.mkdtemp(prefix="lts_stream_upsert_ckpt_")
    try:
        with scoped_shuffle_partitions(
            s, sized_state_partitions(s, f"{sf_dir}/events.parquet")
        ):
            q = upsert_stream(stream, tbl, ["user_id"], ckpt, order_by=["ts"])
            q.awaitTermination()
    finally:
        shutil.rmtree(ckpt, ignore_errors=True)
    return s.table(tbl).select(
        "user_id",
        "event_id",
        F.date_format("ts", TS_FMT_SPARK).alias("ts_s"),
        "event_type",
        "value",
    )


_EVENTS_STREAM_UPSERT_ORACLE = f"""
WITH r AS (
  SELECT user_id, event_id, ts, event_type, value,
         row_number() OVER (
           PARTITION BY user_id
           ORDER BY ts DESC NULLS LAST, event_id DESC NULLS LAST,
                    event_type DESC NULLS LAST, value DESC NULLS LAST
         ) AS rn
  FROM events
)
SELECT user_id, event_id, strftime(ts, '{TS_FMT_SQL}') AS ts_s,
       event_type, value
FROM r WHERE rn = 1
"""


def q_events_stream_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """True Structured Streaming e2e: readStream file source →
    10-minute watermark → 5-minute tumbling windows → memory sink,
    drained with availableNow. Append mode emits exactly the windows
    the final watermark passed (window_end <= max event time − 10
    min), so the late-data policy is visible in the result and the
    batch oracle reproduces it with that cut."""
    from lakehouse_tools_spark.sources.tables import load_stream
    from lakehouse_tools_spark.streaming.sink import run_to_memory

    from lakehouse_tools_spark.streaming.sink import (
        scoped_shuffle_partitions,
        sized_state_partitions,
    )

    s = _spark(spark)
    stream = load_stream(s, sf_dir, "events")
    agg = X_win.tumbling_counts(
        X_win.with_watermark(stream, "ts", "10 minutes"), "5 minutes"
    )
    with scoped_shuffle_partitions(
        s, sized_state_partitions(s, f"{sf_dir}/events.parquet")
    ):
        return run_to_memory(agg, "events_stream_wm")


_EVENTS_STREAM_WM_ORACLE = f"""
WITH m AS (SELECT max(ts) AS mx FROM events),
agg AS (
  SELECT time_bucket(INTERVAL '5 minutes', ts) AS ws, event_type,
         count(*) AS n_events, round(sum(value), 6) AS sum_value
  FROM events GROUP BY 1, 2
)
SELECT strftime(ws, '{TS_FMT_SQL}') AS window_start, event_type, n_events, sum_value
FROM agg, m
WHERE ws + INTERVAL '5 minutes' <= mx - INTERVAL '10 minutes'
"""


_STREAM_SKETCH_COLS = ("event_type", "user_id", "event_id")


def q_events_stream_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming incremental profiling e2e — the HLL sketches doing
    their actual job: the events table is re-laid as 4 files and
    streamed file-by-file (maxFilesPerTrigger=1, availableNow), each
    micro-batch builds per-column sketches in foreachBatch
    (operators/sketches.distinct_sketches — data touched once per
    batch), and the per-batch sketches are merged register-wise at
    the end — no rescan of any batch, the incremental-profiling
    contract. The merged estimate must land within ±5% of the exact
    distinct count AND must genuinely come from multiple batches;
    the oracle asserts the exact counts and both booleans, so a
    broken merge, a single-batch degenerate stream, or a sketch
    regression all fail the driver compare."""
    import shutil
    import tempfile

    from lakehouse_tools_spark.operators.sketches import (
        distinct_sketches,
        estimate_distinct,
        merge_sketches,
    )

    s = _spark(spark)
    ev = load_table(s, sf_dir, "events")
    src = _warehouse_path(s, "_io", "events_stream_profile_src")
    shutil.rmtree(src, ignore_errors=True)
    ev.repartition(4).write.mode("overwrite").parquet(src)
    cols = list(_STREAM_SKETCH_COLS)
    acc: list[tuple[str, bytes, int]] = []

    def _batch(bdf, bid):
        for r in distinct_sketches(bdf, cols).collect():
            acc.append((r["columnName"], bytes(r["sketch"]), int(bid)))

    ckpt = tempfile.mkdtemp(prefix="lts_stream_profile_ckpt_")
    try:
        q = (
            s.readStream.schema(ev.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
            .writeStream.foreachBatch(_batch)
            .trigger(availableNow=True)
            .option("checkpointLocation", ckpt)
            .start()
        )
        q.awaitTermination()
    finally:
        shutil.rmtree(ckpt, ignore_errors=True)
    n_batches = len({b for _, _, b in acc})
    parts = s.createDataFrame(
        [(c, sk) for c, sk, _ in acc], "columnName string, sketch binary"
    )
    est = estimate_distinct(merge_sketches([parts]))
    exact = ev.agg(
        *[F.countDistinct(F.col(c).cast("string")).alias(c) for c in cols]
    ).unpivot([], cols, "columnName", "n_exact")
    return (
        est.join(exact, "columnName")
        .select(
            "columnName",
            F.col("n_exact").cast("long"),
            F.lit(float(_SKETCH_ERR_BOUND)).alias("rel_err_bound"),
            (
                F.abs(F.col("n_distinct_est") - F.col("n_exact"))
                / F.col("n_exact")
                <= F.lit(float(_SKETCH_ERR_BOUND))
            ).alias("within_bound"),
            F.lit(n_batches >= 2).alias("merged_from_multiple_batches"),
        )
        .orderBy("columnName")
    )


_STREAM_PROFILE_ORACLE = "\nUNION ALL\n".join(
    f"SELECT '{c}' AS columnName,"
    f" CAST(COUNT(DISTINCT {c}) AS BIGINT) AS n_exact,"
    f" CAST({_SKETCH_ERR_BOUND} AS DOUBLE) AS rel_err_bound,"
    f" TRUE AS within_bound, TRUE AS merged_from_multiple_batches"
    f" FROM events"
    for c in _STREAM_SKETCH_COLS
)


def q_events_stream_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment: the events readStream joined per
    micro-batch against a static customer dimension (user_id →
    nation) and aggregated to counts per nation — the canonical
    streaming lookup-join, stateless by design (each batch joins
    against the current dim snapshot; Spark broadcasts the static
    side). Complete mode because the aggregation has no watermark;
    availableNow drains the fixture, so the result equals the batch
    join exactly and the oracle is plain SQL."""
    from lakehouse_tools_spark.sources.tables import load_stream
    from lakehouse_tools_spark.streaming.sink import run_to_memory

    s = _spark(spark)
    stream = load_stream(s, sf_dir, "events")
    cust = load_table(s, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"),
        F.col("c_nationkey").alias("nation_key"),
    )
    from lakehouse_tools_spark.streaming.sink import (
        scoped_shuffle_partitions,
        sized_state_partitions,
    )

    enriched = (
        stream.join(F.broadcast(cust), "user_id", "left")
        .groupBy("nation_key")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 6).alias("sum_value"),
        )
    )
    with scoped_shuffle_partitions(
        s, sized_state_partitions(s, f"{sf_dir}/events.parquet")
    ):
        return run_to_memory(enriched, "events_stream_enrich", "complete")


_EVENTS_STREAM_ENRICH_ORACLE = """
SELECT c.c_nationkey AS nation_key, count(*) AS n_events,
       round(sum(e.value), 6) AS sum_value
FROM events e LEFT JOIN customer c ON e.user_id = c.c_custkey
GROUP BY 1
"""


def q_events_stream_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful streaming operator e2e: per-user sessionization
    with explicit state via applyInPandasWithState (event-time timeout
    flushes sessions the watermark sealed). Semantics are exactly
    session_window + append — the unsealed-interval SET lives in
    state, so sub-watermark stragglers merge with each other like the
    batch operator (round-3 divergence closed). Hash-verified since
    round 5 via the flush-sentinel contract (the outer-join pattern):
    a far-future sentinel row drives the final watermark past every
    real session's sealing point, so the drained availableNow run
    emits EVERY session and equals the batch islands computation
    exactly — which is the oracle. The sentinel's own session uses an
    impossible user and is filtered. Batch agreement incl. the
    straggler case stays pinned in tests/test_stateful.py."""
    import datetime
    import shutil
    import tempfile

    from lakehouse_tools_spark.sources.tables import load_stream
    from lakehouse_tools_spark.streaming.joins import flush_sentinel_union
    from lakehouse_tools_spark.streaming.sink import run_to_memory
    from lakehouse_tools_spark.streaming.stateful import stateful_sessionize

    s = _spark(spark)
    stream = load_stream(s, sf_dir, "events").select(
        "user_id", "ts", "value"
    )
    d = tempfile.mkdtemp(prefix="lts_flush_sessionize_")
    try:
        withsent = flush_sentinel_union(
            stream,
            {
                "user_id": -1,
                "ts": datetime.datetime(2030, 1, 1),
                "value": 0.0,
            },
            d,
        )
        # NOT state-partition-sized (r12): the sessionizer's work is
        # per-ROW Python (applyInPandasWithState); shrinking the state
        # partition count serializes that compute onto fewer workers —
        # measured 3.4 s → 4.8 s at 4 partitions. JVM-stateful drains
        # (windows, dropDuplicates, stream joins) are the ones that pay
        # per-instance overhead without a Python volume term.
        sessions = stateful_sessionize(
            X_win.with_watermark(withsent, "ts", "10 minutes"),
            gap_minutes=5,
        )
        out = run_to_memory(sessions, "events_stream_sessions")
    finally:
        shutil.rmtree(d, ignore_errors=True)
    return out.filter(F.col("user_id") >= 0).select(
        "user_id",
        "session_start",
        F.col("n_events").cast("long").alias("n_events"),
        F.round(F.col("sum_value"), 6).alias("sum_value"),
    )


def q_events_stream_sessionize_tws(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The SAME sessionization contract as q_events_stream_sessionize,
    re-expressed on Spark 4's transformWithStateInPandas (typed
    ListState + first-class event-time timers + RocksDB column
    families) — the state API production Spark 4 clusters standardize
    on; same flush-sentinel drain, same oracle. The TWS runtime needs
    google.protobuf in the JVM's worker env (streaming/tws.py
    documents the sandbox shim); when THIS session's JVM was launched
    without it (a foreign harness JVM), the probe routes to the
    applyInPandasWithState twin, which tests/test_tws.py pins
    result-identical — so the oracle contract holds on either path.
    Three-way agreement (TWS == legacy == batch session_window) is
    pinned at fixture scale in tests/test_tws.py."""
    import datetime
    import shutil
    import tempfile

    from lakehouse_tools_spark.sources.tables import load_stream
    from lakehouse_tools_spark.streaming.joins import flush_sentinel_union
    from lakehouse_tools_spark.streaming.sink import run_to_memory
    from lakehouse_tools_spark.streaming.stateful import stateful_sessionize
    from lakehouse_tools_spark.streaming.tws import (
        rocksdb_state_store,
        stateful_sessionize_tws,
        tws_runtime_ready,
    )

    s = _spark(spark)
    stream = load_stream(s, sf_dir, "events").select(
        "user_id", "ts", "value"
    )
    d = tempfile.mkdtemp(prefix="lts_flush_sessionize_tws_")
    try:
        withsent = flush_sentinel_union(
            stream,
            {
                "user_id": -1,
                "ts": datetime.datetime(2030, 1, 1),
                "value": 0.0,
            },
            d,
        )
        # NOT state-partition-sized (r12): per-row Python sessionizer —
        # see q_events_stream_sessionize's note (TWS measured 5.7 s →
        # 9.6 s at 4 partitions; the Python compute wants the cores).
        watermarked = X_win.with_watermark(withsent, "ts", "10 minutes")
        if tws_runtime_ready(s):
            sessions = stateful_sessionize_tws(watermarked, gap_minutes=5)
            with rocksdb_state_store(s):
                out = run_to_memory(sessions, "events_stream_sessions_tws")
        else:  # foreign JVM without the protobuf runtime: legacy twin
            sessions = stateful_sessionize(watermarked, gap_minutes=5)
            out = run_to_memory(sessions, "events_stream_sessions_tws")
    finally:
        shutil.rmtree(d, ignore_errors=True)
    return out.filter(F.col("user_id") >= 0).select(
        "user_id",
        "session_start",
        F.col("n_events").cast("long").alias("n_events"),
        F.round(F.col("sum_value"), 6).alias("sum_value"),
    )


def q_events_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense per-type time series (streaming/windows.gap_fill):
    hourly counts INCLUDING zero-filled empty buckets between each
    type's first and last event — resampling for charts/anomaly
    scans, where a missing bucket and a zero bucket are different
    facts. Sparse counts left-join onto an exploded per-key bucket
    spine; the spine is output-sized."""
    from lakehouse_tools_spark.streaming.windows import gap_fill

    ev = load_table(_spark(spark), sf_dir, "events")
    return gap_fill(ev, "1 hour")


_EVENTS_GAP_FILL_ORACLE = f"""
WITH c AS (
  SELECT event_type AS key,
         CAST(floor(epoch(ts) / 3600) AS BIGINT) AS b,
         CAST(count(*) AS BIGINT) AS n
  FROM events GROUP BY 1, 2
),
spans AS (SELECT key, min(b) AS lo, max(b) AS hi FROM c GROUP BY key),
spine AS (
  SELECT key, unnest(generate_series(lo, hi)) AS b FROM spans
)
SELECT s.key,
       strftime(to_timestamp(s.b * 3600), '{TS_FMT_SQL}') AS window_start,
       coalesce(c.n, 0) AS n_events
FROM spine s LEFT JOIN c ON c.key = s.key AND c.b = s.b
"""


def q_events_forward_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resample + impute: hourly mean value per event type on the
    dense gap-filled spine, with empty buckets forward-filled from
    the last observed bucket (streaming/windows.forward_fill — LOCF).
    A chart/model consumes the held value, not null; leading nulls
    before a key's first observation stay null by design."""
    from lakehouse_tools_spark.streaming.windows import forward_fill

    ev = load_table(_spark(spark), sf_dir, "events")
    sec = 3600
    b = F.floor(F.col("ts").cast("long") / sec).cast("long")
    stats = (
        ev.select(F.col("event_type").alias("key"), b.alias("_b"), "value")
        .groupBy("key", "_b")
        .agg(
            F.expr("floor(avg(value) * 1000000) / 1000000").alias("v_avg")
        )
    )
    spans = stats.groupBy("key").agg(
        F.min("_b").alias("_lo"), F.max("_b").alias("_hi")
    )
    spine = spans.select(
        "key", F.explode(F.sequence(F.col("_lo"), F.col("_hi"))).alias("_b")
    )
    joined = spine.join(stats, ["key", "_b"], "left")
    filled = forward_fill(joined, "_b", "key", ["v_avg"])
    return filled.select(
        "key",
        F.date_format(
            F.to_timestamp(F.col("_b") * sec), "yyyy-MM-dd HH:mm:ss"
        ).alias("window_start"),
        F.col("v_avg").alias("v_filled"),
    )


_EVENTS_FFILL_ORACLE = f"""
WITH c AS (
  SELECT event_type AS key,
         CAST(floor(epoch(ts) / 3600) AS BIGINT) AS b,
         floor(avg(value) * 1000000) / 1000000 AS v
  FROM events GROUP BY 1, 2
),
spans AS (SELECT key, min(b) AS lo, max(b) AS hi FROM c GROUP BY key),
spine AS (SELECT key, unnest(generate_series(lo, hi)) AS b FROM spans),
j AS (
  SELECT s.key, s.b, c.v
  FROM spine s LEFT JOIN c ON c.key = s.key AND c.b = s.b
)
SELECT key, strftime(to_timestamp(b * 3600), '{TS_FMT_SQL}') AS window_start,
       last_value(v IGNORE NULLS) OVER (
         PARTITION BY key ORDER BY b ROWS UNBOUNDED PRECEDING
       ) AS v_filled
FROM j
"""


def q_events_dense_impute(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fully dense resample: hourly mean value per event type on the
    gap-filled spine, imputed forward THEN backward
    (streaming/windows.forward_fill + backward_fill) — every bucket
    of every key carries a value whenever the key has any observation
    (the leading nulls LOCF can't reach take the next observation).
    Two windows over the SAME key exchange: Spark plans both passes
    in one sort, so composing the mirror costs no extra shuffle."""
    from lakehouse_tools_spark.streaming.windows import (
        backward_fill,
        forward_fill,
    )

    ev = load_table(_spark(spark), sf_dir, "events")
    sec = 3600
    b = F.floor(F.col("ts").cast("long") / sec).cast("long")
    stats = (
        ev.select(F.col("event_type").alias("key"), b.alias("_b"), "value")
        .groupBy("key", "_b")
        .agg(
            F.expr("floor(avg(value) * 1000000) / 1000000").alias("v_dense")
        )
    )
    spans = stats.groupBy("key").agg(
        F.min("_b").alias("_lo"), F.max("_b").alias("_hi")
    )
    spine = spans.select(
        "key", F.explode(F.sequence(F.col("_lo"), F.col("_hi"))).alias("_b")
    )
    joined = spine.join(stats, ["key", "_b"], "left")
    filled = backward_fill(
        forward_fill(joined, "_b", "key", ["v_dense"]), "_b", "key", ["v_dense"]
    )
    return filled.select(
        "key",
        F.date_format(
            F.to_timestamp(F.col("_b") * sec), "yyyy-MM-dd HH:mm:ss"
        ).alias("window_start"),
        "v_dense",
    )


_EVENTS_DENSE_IMPUTE_ORACLE = f"""
WITH c AS (
  SELECT event_type AS key,
         CAST(floor(epoch(ts) / 3600) AS BIGINT) AS b,
         floor(avg(value) * 1000000) / 1000000 AS v
  FROM events GROUP BY 1, 2
),
spans AS (SELECT key, min(b) AS lo, max(b) AS hi FROM c GROUP BY key),
spine AS (SELECT key, unnest(generate_series(lo, hi)) AS b FROM spans),
j AS (
  SELECT s.key, s.b, c.v
  FROM spine s LEFT JOIN c ON c.key = s.key AND c.b = s.b
)
SELECT key, strftime(to_timestamp(b * 3600), '{TS_FMT_SQL}') AS window_start,
       coalesce(
         last_value(v IGNORE NULLS) OVER (
           PARTITION BY key ORDER BY b ROWS UNBOUNDED PRECEDING
         ),
         first_value(v IGNORE NULLS) OVER (
           PARTITION BY key ORDER BY b
           ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING
         )
       ) AS v_dense
FROM j
"""


def q_events_anomaly_rolling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-window anomaly detection
    (operators/anomaly.rolling_zscores): each hourly bucket z-scored
    against its key's previous 6 OBSERVED buckets (current excluded)
    — the production form: slow drift moves the baseline, only level
    shifts alarm, and the score is incrementally computable. Windows
    run over the keys×buckets relation; rows basis = observed
    buckets (compose with gap_fill first when a dense basis is
    wanted)."""
    from lakehouse_tools_spark.operators.anomaly import rolling_zscores

    ev = load_table(_spark(spark), sf_dir, "events")
    return rolling_zscores(ev, bucket="1 hour", trailing=6, z_threshold=2.0)


_EVENTS_ANOMALY_ROLLING_ORACLE = f"""
WITH c AS (
  SELECT event_type AS key, time_bucket(INTERVAL '1 hour', ts) AS ws,
         CAST(count(*) AS BIGINT) AS n_events
  FROM events GROUP BY 1, 2
),
z AS (
  SELECT key, ws, n_events,
         (n_events - avg(n_events) OVER tw)
         / nullif(stddev_samp(n_events) OVER tw, 0) AS zraw
  FROM c
  WINDOW tw AS (PARTITION BY key ORDER BY ws
                ROWS BETWEEN 6 PRECEDING AND 1 PRECEDING)
)
SELECT key, strftime(ws, '{TS_FMT_SQL}') AS window_start, n_events,
       floor((zraw + 1e-9) * 1000000) / 1000000 AS z,
       abs(zraw) >= 2.0 - 1e-9 AS is_anomaly
FROM z
"""


def q_events_rolling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing moving aggregates per key: 6-bucket rolling mean and
    sum of hourly event counts (current bucket included) — the
    smoothing step dashboards and simple forecasters consume. Windows
    over the keys×buckets relation; observed-buckets basis, same as
    the rolling anomaly scorer."""
    ev = load_table(_spark(spark), sf_dir, "events")
    counts = ev.groupBy(
        F.col("event_type").alias("key"),
        F.window(F.col("ts"), "1 hour").alias("_w"),
    ).agg(F.count(F.lit(1)).alias("n_events"))
    base = counts.select("key", F.col("_w.start").alias("_ws"), "n_events")
    w = (
        Window.partitionBy("key")
        .orderBy(F.col("_ws").asc())
        .rowsBetween(-5, 0)
    )
    return base.select(
        "key",
        F.date_format("_ws", TS_FMT_SPARK).alias("window_start"),
        F.col("n_events").cast("long").alias("n_events"),
        F.sum("n_events").over(w).cast("long").alias("rolling_sum"),
        (
            F.floor((F.avg("n_events").over(w) + F.lit(1e-9)) * 1000000)
            / 1000000
        ).alias("rolling_avg"),
    )


_EVENTS_ROLLING_ORACLE = f"""
WITH c AS (
  SELECT event_type AS key, time_bucket(INTERVAL '1 hour', ts) AS ws,
         CAST(count(*) AS BIGINT) AS n_events
  FROM events GROUP BY 1, 2
)
SELECT key, strftime(ws, '{TS_FMT_SQL}') AS window_start, n_events,
       CAST(sum(n_events) OVER tw AS BIGINT) AS rolling_sum,
       floor((avg(n_events) OVER tw + 1e-9) * 1000000) / 1000000
         AS rolling_avg
FROM c
WINDOW tw AS (PARTITION BY key ORDER BY ws
              ROWS BETWEEN 5 PRECEDING AND CURRENT ROW)
"""


def q_events_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear interpolation over the dense resampled series
    (streaming/windows.interpolate_linear): empty hourly buckets take
    the straight-line value between their neighboring observations —
    the imputation a rate-like series wants where LOCF would step.
    Endpoint nulls stay null by design. Position math is exact
    integer-derived doubles, so the oracle replays it bit-for-bit
    before the floor."""
    from lakehouse_tools_spark.streaming.windows import interpolate_linear

    ev = load_table(_spark(spark), sf_dir, "events")
    sec = 3600
    b = F.floor(F.col("ts").cast("long") / sec).cast("long")
    stats = (
        ev.select(F.col("event_type").alias("key"), b.alias("_b"), "value")
        .groupBy("key", "_b")
        .agg(F.expr("floor(avg(value) * 1000000) / 1000000").alias("v_avg"))
    )
    spans = stats.groupBy("key").agg(
        F.min("_b").alias("_lo"), F.max("_b").alias("_hi")
    )
    spine = spans.select(
        "key", F.explode(F.sequence(F.col("_lo"), F.col("_hi"))).alias("_b")
    )
    joined = spine.join(stats, ["key", "_b"], "left")
    out = interpolate_linear(joined, "_b", "key", "v_avg")
    return out.select(
        "key",
        F.date_format(
            F.to_timestamp(F.col("_b") * sec), "yyyy-MM-dd HH:mm:ss"
        ).alias("window_start"),
        F.expr("floor((v_avg + 1e-9) * 1000000) / 1000000").alias("v_interp"),
    )


_EVENTS_INTERP_ORACLE = f"""
WITH c AS (
  SELECT event_type AS key,
         CAST(floor(epoch(ts) / 3600) AS BIGINT) AS b,
         floor(avg(value) * 1000000) / 1000000 AS v
  FROM events GROUP BY 1, 2
),
spans AS (SELECT key, min(b) AS lo, max(b) AS hi FROM c GROUP BY key),
spine AS (SELECT key, unnest(generate_series(lo, hi)) AS b FROM spans),
j AS (
  SELECT s.key, s.b, c.v
  FROM spine s LEFT JOIN c ON c.key = s.key AND c.b = s.b
),
w AS (
  SELECT key, b, v,
         last_value(v IGNORE NULLS) OVER pw AS pv,
         last_value(CASE WHEN v IS NOT NULL THEN CAST(b AS DOUBLE) END
                    IGNORE NULLS) OVER pw AS pp,
         first_value(v IGNORE NULLS) OVER nw AS nv,
         first_value(CASE WHEN v IS NOT NULL THEN CAST(b AS DOUBLE) END
                     IGNORE NULLS) OVER nw AS np
  FROM j
  WINDOW pw AS (PARTITION BY key ORDER BY b
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
         nw AS (PARTITION BY key ORDER BY b
                ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
)
SELECT key, strftime(to_timestamp(b * 3600), '{TS_FMT_SQL}') AS window_start,
       floor((CASE WHEN v IS NOT NULL THEN v
                   WHEN pv IS NOT NULL AND nv IS NOT NULL
                     THEN pv + (nv - pv) * (CAST(b AS DOUBLE) - pp)
                          / (np - pp)
              END + 1e-9) * 1000000) / 1000000 AS v_interp
FROM w
"""


def q_events_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially weighted moving average over the dense resampled
    series (streaming/windows.ewma): hourly per-type counts on the
    gap-filled spine, smoothed with α=0.4 truncated to the trailing 8
    buckets. The sequential EWMA recurrence is re-expressed as K lag
    terms over ONE per-key window sort — pure codegen projection, no
    stateful scan — with truncation error ≤ 0.6^8 ≈ 1.7 %. Weights
    are shared Python-float literals and both engines sum the terms
    left-to-right, so the doubles match bit-for-bit before the
    hash-stability floor."""
    from lakehouse_tools_spark.streaming.windows import ewma, gap_fill

    ev = load_table(_spark(spark), sf_dir, "events")
    dense = gap_fill(ev, "1 hour")
    sm = ewma(
        dense, "window_start", "key", "n_events", alpha=0.4, window=8
    )
    return sm.select(
        "key",
        "window_start",
        F.col("n_events").cast("long").alias("n_events"),
        F.expr("floor((ewma + 1e-9) * 1000000) / 1000000").alias("ewma_n"),
    )


def _events_ewma_oracle() -> str:
    from lakehouse_tools_spark.streaming.windows import ewma_oracle_terms

    num, den = ewma_oracle_terms("n_events", "b", "key", 0.4, 8)
    return f"""
WITH c AS (
  SELECT event_type AS key,
         CAST(floor(epoch(ts) / 3600) AS BIGINT) AS b,
         CAST(count(*) AS BIGINT) AS n
  FROM events GROUP BY 1, 2
),
spans AS (SELECT key, min(b) AS lo, max(b) AS hi FROM c GROUP BY key),
spine AS (SELECT key, unnest(generate_series(lo, hi)) AS b FROM spans),
g AS (
  SELECT s.key, s.b, coalesce(c.n, 0) AS n_events
  FROM spine s LEFT JOIN c ON c.key = s.key AND c.b = s.b
)
SELECT key,
       strftime(to_timestamp(b * 3600), '{TS_FMT_SQL}') AS window_start,
       n_events,
       floor((({num}) / ({den}) + 1e-9) * 1000000) / 1000000 AS ewma_n
FROM g
"""


def q_events_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Markov transition matrix over per-user event sequences
    (operators/sequences.transition_matrix): how often does state t
    lead to state t+1, and with what row-conditional probability —
    the session-flow / next-event-baseline statistic. ONE window sort
    per user forms the (state, next) pairs; the aggregate and the
    probability window both run on the alphabet²-sized counts
    relation, never the raw events. (ts, event_id) is a unique total
    order, so lead() is deterministic."""
    from lakehouse_tools_spark.operators.sequences import transition_matrix

    ev = load_table(_spark(spark), sf_dir, "events")
    tm = transition_matrix(ev, "user_id", "event_type", ["ts", "event_id"])
    return tm.select(
        "from_state",
        "to_state",
        "n",
        F.expr("floor((p + 1e-9) * 1000000) / 1000000").alias("p"),
    )


_EVENTS_TRANSITIONS_ORACLE = """
WITH s AS (
  SELECT event_type AS from_state,
         lead(event_type) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
         ) AS to_state
  FROM events
),
c AS (
  SELECT from_state, to_state, CAST(count(*) AS BIGINT) AS n
  FROM s WHERE to_state IS NOT NULL GROUP BY 1, 2
)
SELECT from_state, to_state, n,
       floor((CAST(n AS DOUBLE)
              / CAST(sum(n) OVER (PARTITION BY from_state) AS DOUBLE)
              + 1e-9) * 1000000) / 1000000 AS p
FROM c
"""


def q_dedup_graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vertex triangle counts of the near-dup graph
    (ext/graph.triangle_counts) on the oracle-computable vec_id<300
    window: triangles separate dense template clusters (collapse
    safely) from triangle-free hubs that stitch unrelated documents
    (the dangerous transitive-closure case). Canonical u<v edges
    generate each triangle once at its middle vertex via three
    equi-joins — no cartesian, wedge volume capped by the canonical
    orientation. Every vertex in the pair graph appears in the
    output; triangle-free ones carry n_triangles = 0 (they ARE the
    hubs the operator exists to flag)."""
    from lakehouse_tools_spark.ext.graph import triangle_counts

    emb = load_table(_spark(spark), sf_dir, "embeddings").filter(
        F.col("vec_id") < 300
    )
    pairs = X_sim.neardup_pairs(emb, threshold=0.2).select(
        "vec_id", "vec_id2"
    )
    return triangle_counts(pairs, "vec_id", "vec_id2")


_DEDUP_TRIANGLES_ORACLE = """
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
           FROM embeddings WHERE vec_id < 300),
pairs AS (
  SELECT a.vec_id AS u, b.vec_id AS w
  FROM e a JOIN e b ON a.vec_id < b.vec_id
  WHERE round(list_dot_product(a.v, b.v)
        / (sqrt(list_dot_product(a.v, a.v))
           * sqrt(list_dot_product(b.v, b.v))), 6) >= 0.2
),
wedges AS (
  SELECT e1.u AS a, e1.w AS b, e2.w AS c
  FROM pairs e1 JOIN pairs e2 ON e1.w = e2.u
),
tri AS (
  SELECT a, b, c FROM wedges
  JOIN pairs e3 ON e3.u = wedges.a AND e3.w = wedges.c
),
corners AS (
  SELECT unnest([a, b, c]) AS node FROM tri
),
counts AS (
  SELECT node, CAST(count(*) AS BIGINT) AS n_triangles
  FROM corners GROUP BY node
),
vertices AS (
  SELECT DISTINCT u AS node FROM pairs
  UNION SELECT DISTINCT w AS node FROM pairs
)
SELECT v.node, COALESCE(c.n_triangles, CAST(0 AS BIGINT)) AS n_triangles
FROM vertices v LEFT JOIN counts c ON v.node = c.node
"""


def q_sim_covariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample covariance of the first 16 embedding components
    (ext/similarity.quantized_covariance) — the PCA/whitening/drift
    input statistic. Inputs are floor-quantized to 2^-20 so every
    aggregate addend is an exact integer: 64-bit sums are associative
    and therefore bit-deterministic under ANY partitioning, and the
    closing float expression is fixed-order — the distributed result
    hash-matches a sequential engine exactly. ONE scan, ZERO
    shuffles. At d=16 the auto strategy picks the int64-Gram physical
    path (mapInPandas + numpy, the pca_fit shape) over the 153-wide
    Catalyst aggregate: the latter's plan-compile cost is ~6 s FIXED
    regardless of data volume (measured flat sf0.001→sf0.1, r04
    attribution), the Gram plan compiles in ms — and the two close
    with the same fixed-order arithmetic, so they are bit-identical
    (pinned in tests/test_similarity.py) and this oracle checks
    either."""
    from lakehouse_tools_spark.ext.similarity import quantized_covariance

    emb = load_table(_spark(spark), sf_dir, "embeddings")
    return quantized_covariance(emb, "embedding", dims=tuple(range(16)))


def _sim_covariance_oracle() -> str:
    from lakehouse_tools_spark.ext.similarity import (
        quantized_covariance_oracle,
    )

    return quantized_covariance_oracle(
        "embeddings", "CAST(embedding AS DOUBLE[])", tuple(range(16))
    )


def q_sim_pca(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PCA over the embedding corpus (ext/similarity.pca_fit): top-8
    principal components with eigenvalues and explained-variance
    ratios — the whitening/dim-reduction step before ANN indexing.
    The Gram matrix accumulates per-partition as exact int64 blocks
    (ONE scan, driver traffic = partitions × d² longs), so the
    eigendecomposition input — and hence this output — is
    bit-deterministic under any partitioning. Rows-only by design:
    eigendecomposition is genuinely non-SQL-expressible; the
    numerical contract (matches numpy on quantized inputs,
    orthonormality, Σλ = trace, partitioning-invariance) is pinned in
    tests/test_similarity.py AND hash-verified by the driver through
    the `pca_error_report` companion (same pattern as the ANN
    recall / sketch error contracts)."""
    from lakehouse_tools_spark.ext.similarity import pca_fit

    s = _spark(spark)
    emb = load_table(s, sf_dir, "embeddings")
    comps, vals, ratios, n = pca_fit(emb, "embedding", k=8)
    rows = [
        (
            i,
            float(vals[i]),
            float(ratios[i]),
            int(max(range(len(comps[i])), key=lambda j: abs(comps[i][j]))),
            int(n),
        )
        for i in range(len(vals))
    ]
    return s.createDataFrame(
        rows,
        "component int, eigenvalue double, explained_ratio double, "
        "top_dim int, n_rows int",
    )


def q_pca_error_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-verified numerical contract for PCA (the companion that
    upgrades rows-only `sim_pca` to a driver-checked guarantee, the
    sketch/recall-report pattern): the oracle cannot eigendecompose,
    but it CAN bit-replay the quantized covariance TRACE
    (ext/similarity.quantized_trace — integer sums + a fixed-order
    left-associative variance chain), and every spectral property is
    reducible to booleans against that anchor:

    - ``trace9``      — hash-compared against the oracle's replay, so
      a drifting covariance input fails the driver compare outright;
    - ``orthonormal_ok`` — max |QQᵀ − I| ≤ 1e-9 over the full d-dim
      eigenbasis;
    - ``eig_ordered_ok`` / ``ratios_valid_ok`` — λ non-increasing;
      ratios ∈ [0,1] and (k=d here) Σratios = 1 within 1e-9;
    - ``eig_sum_ok``  — |Σλ − trace9| ≤ 1e-6·max(trace,1): the
      eigendecomposition conserves total variance;
    - ``recon_ok``    — exercises ext/similarity.pca_project: mean
      residual variance of reconstructing from the top-8 components,
      (Σ‖xc‖² − Σ‖Qᵀxc‖²)/(n−1), must equal Σ_{i>8} λᵢ within
      1e-3·max(trace,1) (the Eckart–Young optimum; slack covers the
      2^-20 quantization bias and pca_project's 1e-6 score rounding).

    A regression in fit, projection, or determinism flips a boolean
    or shifts trace9 — either fails the driver's hash compare."""
    import numpy as np

    from lakehouse_tools_spark.ext.similarity import pca_fit, pca_project

    s = _spark(spark)
    emb = load_table(s, sf_dir, "embeddings")
    d = int(emb.select(F.size("embedding").alias("n")).first()["n"])
    k_top = 8
    # full_stats derives mean and the bit-deterministic trace anchor
    # from the fit's own exact integer sums — ONE corpus scan covers
    # fit + trace + mean (no 64-avg / d-wide-trace Catalyst aggregates
    # whose plan-compile cost would dominate; the r04 sim_covariance
    # attribution lesson)
    comps, vals, ratios, n, stats = pca_fit(
        emb, "embedding", k=d, full_stats=True
    )
    Q = np.array(comps, dtype=np.float64)  # d x d, rows = components
    orthonormal_ok = bool(
        np.abs(Q @ Q.T - np.eye(d)).max() <= 1e-9
    )
    eig_ordered_ok = all(
        vals[i] >= vals[i + 1] - 1e-12 for i in range(d - 1)
    )
    ratios_valid_ok = (
        all(-1e-12 <= r <= 1.0 + 1e-12 for r in ratios)
        and abs(sum(ratios) - 1.0) <= 1e-9
    )
    trace9 = float(stats["trace9"])
    tol = max(abs(trace9), 1.0)
    eig_sum_ok = abs(sum(vals) - trace9) <= 1e-6 * tol

    mu_arr = F.array(*[F.lit(float(m)) for m in stats["mean"]])
    centered = emb.select(
        F.zip_with(
            F.col("embedding").cast("array<double>"),
            mu_arr,
            lambda x, m: x - m,
        ).alias("xc")
    )
    ssq = lambda c: F.aggregate(  # noqa: E731
        c, F.lit(0.0), lambda acc, x: acc + x * x
    )
    res = (
        pca_project(centered, "xc", comps[:k_top], "p")
        .agg(
            F.sum(ssq(F.col("xc"))).alias("_sx"),
            F.sum(ssq(F.col("p"))).alias("_sp"),
        )
        .first()
    )
    residual_var = (float(res["_sx"]) - float(res["_sp"])) / (n - 1)
    expected_resid = sum(vals) - sum(vals[:k_top])
    recon_ok = abs(residual_var - expected_resid) <= 1e-3 * tol

    return s.createDataFrame(
        [
            (
                int(n),
                int(d),
                int(k_top),
                trace9,
                orthonormal_ok,
                eig_ordered_ok,
                ratios_valid_ok,
                eig_sum_ok,
                recon_ok,
            )
        ],
        "n_rows long, dim int, k int, trace9 double, "
        "orthonormal_ok boolean, eig_ordered_ok boolean, "
        "ratios_valid_ok boolean, eig_sum_ok boolean, recon_ok boolean",
    )


def _pca_error_oracle() -> str:
    from lakehouse_tools_spark.ext.similarity import quantized_trace_oracle

    inner = quantized_trace_oracle(
        "embeddings", "CAST(embedding AS DOUBLE[])", tuple(range(64))
    )
    return (
        f"WITH t AS ({inner})\n"
        "SELECT CAST(n_rows AS BIGINT) AS n_rows, dim, CAST(8 AS INT) AS k,"
        " trace9,"
        " TRUE AS orthonormal_ok, TRUE AS eig_ordered_ok,"
        " TRUE AS ratios_valid_ok, TRUE AS eig_sum_ok, TRUE AS recon_ok"
        " FROM t"
    )


#: FK edges and primary keys of the TPC-H-ish fixture schema — shared
#: by the Spark integrity query and its generated oracle so the two
#: can never drift.
_INTEGRITY_FKS: list[tuple[str, str, str, str]] = [
    ("lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("lineitem", "l_partkey", "part", "p_partkey"),
    ("lineitem", "l_suppkey", "supplier", "s_suppkey"),
    ("orders", "o_custkey", "customer", "c_custkey"),
    ("customer", "c_nationkey", "nation", "n_nationkey"),
    ("supplier", "s_nationkey", "nation", "n_nationkey"),
    ("nation", "n_regionkey", "region", "r_regionkey"),
]

_INTEGRITY_PKS: list[tuple[str, list[str]]] = [
    ("lineitem", ["l_orderkey", "l_linenumber"]),
    ("orders", ["o_orderkey"]),
    ("customer", ["c_custkey"]),
    ("supplier", ["s_suppkey"]),
    ("part", ["p_partkey"]),
    ("nation", ["n_nationkey"]),
    ("region", ["r_regionkey"]),
]


def q_integrity_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Warehouse-wide referential-integrity audit
    (operators/quality.check over the whole FK graph): orphan counts
    for every foreign-key edge, duplicate counts for every primary
    key, null counts for every FK column — the pre-publish contract a
    lakehouse enforces where Delta would use CHECK/constraint
    metadata. Per table: all not_null rules share ONE aggregate scan,
    each PK is one groupBy, each FK edge one anti-join whose parent
    side is keys-only (broadcastable for dims, AQE-planned for
    fact-fact). Output is rules-sized."""
    from lakehouse_tools_spark.operators.quality import check

    s = _spark(spark)
    dfs = {
        t: load_table(s, sf_dir, t)
        for t in {
            *[f[0] for f in _INTEGRITY_FKS],
            *[f[2] for f in _INTEGRITY_FKS],
            *[p[0] for p in _INTEGRITY_PKS],
        }
    }
    rules: dict[str, list[tuple]] = {t: [] for t in dfs}
    for child, ckey, parent, pkey in _INTEGRITY_FKS:
        rules[child].append(("not_null", ckey))
        rules[child].append(("references", ckey, dfs[parent], pkey))
    for table, pk in _INTEGRITY_PKS:
        rules[table].append(("unique", pk))
    out = None
    for table in sorted(rules):
        part = check(dfs[table], table, rules[table])
        out = part if out is None else out.unionByName(part)
    return out


def _integrity_oracle() -> str:
    parts: list[str] = []
    for child, ckey, parent, pkey in _INTEGRITY_FKS:
        parts.append(
            f"SELECT '{child}' AS tableName, 'not_null' AS rule, "
            f"'{ckey}' AS \"column\", "
            f"CAST(sum(CASE WHEN {ckey} IS NULL THEN 1 ELSE 0 END) "
            f"AS BIGINT) AS n_violations FROM {child}"
        )
        parts.append(
            f"SELECT '{child}', 'references', '{ckey}', "
            f"CAST((SELECT count(*) FROM {child} "
            f"WHERE {ckey} IS NOT NULL AND {ckey} NOT IN "
            f"(SELECT {pkey} FROM {parent})) AS BIGINT)"
        )
    for table, pk in _INTEGRITY_PKS:
        cols = ", ".join(pk)
        parts.append(
            f"SELECT '{table}', 'unique', '{','.join(pk)}', "
            f"CAST(coalesce((SELECT sum(n) FROM ("
            f"SELECT count(*) AS n FROM {table} GROUP BY {cols} "
            f"HAVING count(*) > 1)), 0) AS BIGINT)"
        )
    return "\nUNION ALL\n".join(parts)


def q_events_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(_spark(spark), sf_dir, "events")
    return X_win.tumbling_counts(ev, "5 minutes")


_EVENTS_TUMBLING_ORACLE = f"""
SELECT strftime(time_bucket(INTERVAL '5 minutes', ts), '{TS_FMT_SQL}') AS window_start,
       event_type, count(*) AS n_events, round(sum(value), 6) AS sum_value
FROM events GROUP BY 1, 2
"""


def q_events_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(_spark(spark), sf_dir, "events")
    return X_win.sliding_counts(ev, "10 minutes", "5 minutes")


_EVENTS_SLIDING_ORACLE = f"""
WITH w AS (
  SELECT unnest([time_bucket(INTERVAL '5 minutes', ts),
                 time_bucket(INTERVAL '5 minutes', ts) - INTERVAL '5 minutes']) AS ws,
         event_type
  FROM events
)
SELECT strftime(ws, '{TS_FMT_SQL}') AS window_start, event_type,
       count(*) AS n_events
FROM w GROUP BY 1, 2
"""


def q_events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(_spark(spark), sf_dir, "events")
    return X_win.sessionize(ev, "5 minutes")


_EVENTS_SESSION_ORACLE = f"""
WITH d AS (
  SELECT user_id, ts, value,
         CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts) >= INTERVAL '5 minutes'
              THEN 1 ELSE 0 END AS brk
  FROM events
),
g AS (
  SELECT *, SUM(brk) OVER (PARTITION BY user_id ORDER BY ts
                           ROWS UNBOUNDED PRECEDING) AS grp
  FROM d
)
SELECT user_id, strftime(MIN(ts), '{TS_FMT_SQL}') AS session_start,
       count(*) AS n_events, round(sum(value), 6) AS sum_value
FROM g GROUP BY user_id, grp
"""


_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


def q_events_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Long→wide: per-user event-type counts via pivot with an
    EXPLICIT value list (operators/reshape.py) — one shuffle, fixed
    schema, no distinct-discovery job; absent cells are 0."""
    from lakehouse_tools_spark.operators.reshape import pivot_counts

    ev = load_table(_spark(spark), sf_dir, "events")
    return pivot_counts(ev, "user_id", "event_type", _EVENT_TYPES)


def _events_pivot_oracle() -> str:
    cells = ", ".join(
        f"CAST(count(CASE WHEN event_type = '{t}' THEN 1 END) AS BIGINT) AS {t}"
        for t in _EVENT_TYPES
    )
    return f"SELECT user_id, {cells} FROM events GROUP BY user_id"


def q_events_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide→long melt of the pivoted counts (stack, shuffle-free) —
    the inverse reshape; oracle is the long counts computed directly."""
    from lakehouse_tools_spark.operators.reshape import melt, pivot_counts

    ev = load_table(_spark(spark), sf_dir, "events")
    wide = pivot_counts(ev, "user_id", "event_type", _EVENT_TYPES)
    return melt(wide, ["user_id"], _EVENT_TYPES, "event_type", "cnt")


def _events_unpivot_oracle() -> str:
    rows = " UNION ALL ".join(f"SELECT '{t}' AS t" for t in _EVENT_TYPES)
    return f"""
SELECT u.user_id, tt.t AS event_type,
       CAST(count(e.event_id) AS BIGINT) AS cnt
FROM (SELECT DISTINCT user_id FROM events) u
CROSS JOIN ({rows}) tt
LEFT JOIN events e ON e.user_id = u.user_id AND e.event_type = tt.t
GROUP BY u.user_id, tt.t
"""


def q_events_lag_lead(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user event cadence: seconds since the previous and until
    the next event (lag/lead over a total order — ts then event_id,
    so ties are deterministic)."""
    from pyspark.sql import Window

    ev = load_table(_spark(spark), sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.col("ts").asc(), F.col("event_id").asc())
    ts_d = F.col("ts").cast("double")
    # floor, not cast: DuckDB CAST(DOUBLE AS BIGINT) rounds to
    # nearest while Spark's cast truncates — floor agrees everywhere
    # (gaps are non-negative)
    return ev.select(
        "event_id",
        "user_id",
        F.floor(ts_d - F.lag(ts_d).over(w)).cast("long").alias("prev_gap_s"),
        F.floor(F.lead(ts_d).over(w) - ts_d).cast("long").alias("next_gap_s"),
    )


_EVENTS_LAG_LEAD_ORACLE = """
SELECT event_id, user_id,
       CAST(floor(epoch(ts) - lag(epoch(ts)) OVER w) AS BIGINT) AS prev_gap_s,
       CAST(floor(lead(epoch(ts)) OVER w - epoch(ts)) AS BIGINT) AS next_gap_s
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
"""


def q_asof_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join with a staleness bound: each purchase gets the same
    user's latest prior view value only if it happened within 30
    minutes (pandas merge_asof tolerance semantics); older matches
    null out. One shuffle + one window, bound as a post-filter."""
    from lakehouse_tools_spark.operators.asof import asof_join

    s = _spark(spark)
    ev = load_table(s, sf_dir, "events")
    left = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    right = ev.filter(F.col("event_type") == "view").select(
        "user_id", "ts", F.col("value").alias("view_value")
    )
    out = asof_join(
        left, right, ["user_id"], "ts", "ts", ["view_value"],
        tolerance_seconds=1800,
    )
    return out.select(
        "event_id",
        "user_id",
        F.date_format("ts", TS_FMT_SPARK).alias("ts_s"),
        "view_value",
    )


_ASOF_TOLERANCE_ORACLE = f"""
SELECT l.event_id, l.user_id, strftime(l.ts, '{TS_FMT_SQL}') AS ts_s,
       CASE WHEN epoch(l.ts) - epoch(r.ts) <= 1800 THEN r.value END AS view_value
FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase') l
ASOF LEFT JOIN (SELECT user_id, ts, value FROM events WHERE event_type = 'view') r
  ON l.user_id = r.user_id AND l.ts >= r.ts
"""


def q_events_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON extraction over the events.props column (F.get_json_object
    — the semi-structured path a training pipeline needs)."""
    ev = load_table(_spark(spark), sf_dir, "events")
    return (
        ev.select(
            "event_type",
            F.get_json_object("props", "$.k").cast("int").alias("k"),
        )
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("k").alias("sum_k"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
        )
    )


_EVENTS_JSON_ORACLE = """
SELECT event_type, count(*) AS n_events,
       CAST(SUM(CAST(json_extract_string(props, '$.k') AS INT)) AS BIGINT) AS sum_k,
       MIN(CAST(json_extract_string(props, '$.k') AS INT)) AS min_k,
       MAX(CAST(json_extract_string(props, '$.k') AS INT)) AS max_k
FROM events GROUP BY event_type
"""


def q_events_json_variant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The q_events_json contract through Spark 4's VARIANT type:
    ``parse_json`` decodes each props payload ONCE into the binary
    variant encoding, and every path extraction (``variant_get`` /
    ``try_variant_get``) is a typed read of that encoding — vs
    ``get_json_object``, which re-parses the JSON STRING per path.
    Same aggregate values as the string-path twin (the oracle proves
    it), plus the missing-path contract: ``try_variant_get`` on an
    absent key yields NULL, never an error, so ``count(missing)``
    pins the null semantics cross-engine. At 100 TB this is the
    semi-structured scan shape that matters: parse cost paid once
    per row regardless of how many paths a query reads, and the
    variant column prunes/pushes like any other."""
    ev = load_table(_spark(spark), sf_dir, "events")
    v = ev.select("event_type", F.parse_json("props").alias("v"))
    return v.select(
        "event_type",
        F.variant_get("v", "$.k", "int").alias("k"),
        F.try_variant_get("v", "$.missing", "string").alias("missing"),
    ).groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum("k").alias("sum_k"),
        F.min("k").alias("min_k"),
        F.max("k").alias("max_k"),
        F.count("missing").alias("n_missing_present"),
    )


_EVENTS_JSON_VARIANT_ORACLE = """
SELECT event_type, count(*) AS n_events,
       CAST(SUM(CAST(json_extract_string(props, '$.k') AS INT)) AS BIGINT) AS sum_k,
       MIN(CAST(json_extract_string(props, '$.k') AS INT)) AS min_k,
       MAX(CAST(json_extract_string(props, '$.k') AS INT)) AS max_k,
       CAST(count(json_extract_string(props, '$.missing')) AS BIGINT)
         AS n_missing_present
FROM events GROUP BY event_type
"""


# ---------------------------------------------------------------- catalog


def q_source_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV sink+source (sources/formats.py): write nation out as CSV,
    read it back with the original schema, return the rows. The oracle
    is plain ``SELECT * FROM nation`` — any row lost or value perturbed
    by the text round-trip breaks the hash."""
    from lakehouse_tools_spark.sources.formats import roundtrip

    s = _spark(spark)
    df = load_table(s, sf_dir, "nation")
    return roundtrip(df, _warehouse_path(s, "_io", "nation_csv"), "csv")


_CSV_ROUNDTRIP_ORACLE = "SELECT * FROM nation"


def q_source_evolved(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Read-side schema evolution (sources/formats.read_evolved): two
    generations of nation land in one directory — v1 without, v2 with
    a `n_comment` column — and a mergeSchema read unions the schemas,
    nulling the missing column for v1 rows. Costs one footer read per
    file at planning time, no data scan. Oracle: the same union with
    NULLs in SQL."""
    from lakehouse_tools_spark.sources.formats import read_evolved

    s = _spark(spark)
    nation = load_table(s, sf_dir, "nation")
    path = _warehouse_path(s, "_io", "nation_evolved")
    import shutil

    shutil.rmtree(path, ignore_errors=True)
    v1 = nation.filter(F.col("n_nationkey") < 12)
    v2 = nation.filter(F.col("n_nationkey") >= 12).withColumn(
        "n_comment", F.concat(F.lit("gen2-"), F.col("n_name"))
    )
    v1.write.mode("append").parquet(path)
    v2.write.mode("append").parquet(path)
    return read_evolved(s, path).select(
        "n_nationkey", "n_name", "n_regionkey", "n_comment"
    )


_SOURCE_EVOLVED_ORACLE = """
SELECT n_nationkey, n_name, n_regionkey, NULL AS n_comment
FROM nation WHERE n_nationkey < 12
UNION ALL
SELECT n_nationkey, n_name, n_regionkey, 'gen2-' || n_name AS n_comment
FROM nation WHERE n_nationkey >= 12
"""


def q_source_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive-partitioned parquet sink+source
    (sources/formats.write_partitioned): documents written partitioned
    by lang, read back with a partition filter — planning-time
    partition pruning means the de/fr directories' files are never
    opened (PartitionFilters pinned in tests/test_plans.py). At
    100 TB, partitioning on the dominant filter column is the
    difference between a directory listing and a full scan. Oracle:
    the same filter on the original table."""
    from lakehouse_tools_spark.sources.formats import (
        read_partitioned,
        write_partitioned,
    )

    s = _spark(spark)
    docs = load_table(s, sf_dir, "documents")
    path = _warehouse_path(s, "_io", "documents_partitioned")
    write_partitioned(docs, path, ["lang"])
    back = read_partitioned(s, path)
    return back.filter(F.col("lang") == "en").select(
        "doc_id", "text", F.col("lang").cast("string").alias("lang"),
        "source", "n_chars",
    )


_PARTITIONED_ORACLE = (
    "SELECT doc_id, text, lang, source, n_chars"
    " FROM documents WHERE lang = 'en'"
)


def q_source_json_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-lines sink+source: orders (includes a TIMESTAMP column —
    the type text formats most often mangle) through write+read with
    explicit schema; oracle is the parquet original."""
    from lakehouse_tools_spark.sources.formats import roundtrip

    s = _spark(spark)
    df = load_table(s, sf_dir, "orders")
    return roundtrip(df, _warehouse_path(s, "_io", "orders_json"), "json")


_JSON_ROUNDTRIP_ORACLE = "SELECT * FROM orders"


def q_source_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC sink+source: lineitem (timestamps + doubles) through the
    columnar interchange format; binary-exact round-trip, oracle is
    the parquet original."""
    from lakehouse_tools_spark.sources.formats import roundtrip

    s = _spark(spark)
    df = load_table(s, sf_dir, "lineitem")
    return roundtrip(df, _warehouse_path(s, "_io", "lineitem_orc"), "orc")


_ORC_ROUNDTRIP_ORACLE = "SELECT * FROM lineitem"


def q_fuzzy_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity resolution by edit distance: supplier names matched
    against a deterministically-corrupted variant (30% of rows get a
    char substitution) with levenshtein ≤ 1 via q-gram blocking
    (ext/fuzzy.py) — gram equi-join + exact residual, never a
    cartesian product (plan pinned). The oracle pays the O(n²) cross
    join, which is the point: the blocked plan must reproduce the
    brute-force pair set exactly."""
    from lakehouse_tools_spark.ext.fuzzy import edit_distance_join

    s = _spark(spark)
    sup = load_table(s, sf_dir, "supplier").select("s_suppkey", "s_name")
    corrupted = X_sample.hash_fraction(F.col("s_suppkey"), "fuzz") < 0.3
    probe = sup.select(
        F.col("s_suppkey").alias("probe_key"),
        F.when(
            corrupted,
            F.concat(
                F.substring("s_name", 1, 4),
                F.lit("Z"),
                F.substring(F.col("s_name"), 6, 10_000),
            ),
        )
        .otherwise(F.col("s_name"))
        .alias("probe_name"),
    )
    return edit_distance_join(
        sup, probe, "s_suppkey", "probe_key", "s_name", "probe_name", 1
    )


_FUZZY_ORACLE = (
    """
WITH probe AS (
  SELECT s_suppkey AS probe_key,
         CASE WHEN """
    + _HASH_U32_SQL.format(key="s_suppkey", salt="fuzz")
    + """ / 4294967296.0 < 0.3
              THEN concat(substr(s_name, 1, 4), 'Z', substr(s_name, 6))
              ELSE s_name END AS probe_name
  FROM supplier
)
SELECT s.s_suppkey AS s_suppkey, p.probe_key AS probe_key,
       CAST(levenshtein(s.s_name, p.probe_name) AS INT) AS distance
FROM supplier s CROSS JOIN probe p
WHERE levenshtein(s.s_name, p.probe_name) <= 1
"""
)


def q_source_binaryfile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-file export + ``binaryFile``-source scan: write every
    document's UTF-8 bytes as its own file (distributed mapInPandas
    manifest, sources/formats.py), read the directory back with
    Spark's binaryFile source, and fingerprint each file. The oracle
    recomputes name/size/md5 from the documents table directly — any
    file dropped, truncated, or bit-flipped in the round trip breaks
    the hash. This is the ingestion plumbing multimodal pipelines use
    (ext/multimodal.py consumes the same (path, content) shape)."""
    import shutil

    from lakehouse_tools_spark.sources.formats import export_binary, read_binary

    s = _spark(spark)
    docs = load_table(s, sf_dir, "documents")
    out_dir = _warehouse_path(s, "_io", "docs_bin")
    shutil.rmtree(out_dir, ignore_errors=True)  # no stale files from prior sf
    export_binary(docs, "doc_id", "text", out_dir).write.format("noop").mode(
        "overwrite"
    ).save()
    files = read_binary(s, out_dir, glob="*.bin")
    return files.select(
        F.regexp_extract(F.col("path"), r"(\d+)\.bin$", 1)
        .cast("long")
        .alias("doc_id"),
        F.length(F.col("content")).alias("n_bytes"),
        F.md5(F.col("content")).alias("content_md5"),
    )


_BINARYFILE_ORACLE = """
SELECT doc_id,
       CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
       md5(text) AS content_md5
FROM documents
"""


def q_source_python_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom connector on Spark 4's Python DataSource API
    (sources/pysource.py): a from-scratch source with real partition
    planning (N range slices -> N scan tasks), planning-time filter
    pushdown on the partition key (range predicates prune whole
    slices; every filter is also re-applied by Spark so pruning is
    never load-bearing), and Arrow-batch reads. The generated rows
    derive entirely from md5(row_index) — the repo's engine-portable
    hash idiom — so the ORACLE regenerates the identical relation in
    DuckDB SQL and replays the same range filter + aggregate: the
    whole connector (planning, pushdown, generation, batch handoff)
    is hash-verified, not just smoke-tested. sf_dir is unused by
    design — the source materializes no fixture bytes (that is the
    point of a deterministic synthetic connector). Money-sum
    determinism per the repo rule: 2-decimal values accumulate as
    DECIMAL, cast to double at the edge. pushdown=True is safe here
    because this relation is scanned exactly once (pruning is opt-in
    since r08 — see the pysource module docstring's Spark 4.1
    shared-relation hazard)."""
    from lakehouse_tools_spark.sources.pysource import read_synthetic_events

    ev = read_synthetic_events(
        _spark(spark), rows=20_000, partitions=8, pushdown=True
    )
    return (
        ev.filter((F.col("event_id") >= 5_000) & (F.col("event_id") < 15_000))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast(T.DecimalType(12, 2)))
            .cast("double")
            .alias("sum_value"),
            F.min("user_id").alias("min_user"),
            F.max("user_id").alias("max_user"),
            F.min("event_id").alias("min_event"),
            F.max("event_id").alias("max_event"),
        )
    )


# the oracle REGENERATES the connector's rows: h = first 8 md5 hex
# chars of the row index as an integer, exactly pysource.py's formula
_PYSOURCE_ORACLE = """
WITH idx AS (SELECT unnest(generate_series(5000, 14999)) AS i),
ev AS (
  SELECT i AS event_id,
         CAST(('0x' || substr(md5(CAST(i AS VARCHAR)), 1, 8)) AS UBIGINT) AS h
  FROM idx
),
rows_ AS (
  SELECT event_id,
         CAST(1 + h % 1000 AS BIGINT) AS user_id,
         CASE h % 5 WHEN 0 THEN 'click' WHEN 1 THEN 'view'
                    WHEN 2 THEN 'purchase' WHEN 3 THEN 'signup'
                    ELSE 'error' END AS event_type,
         CAST(h % 100000 AS DOUBLE) / 100.0 AS value
  FROM ev
)
SELECT event_type, count(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value,
       MIN(user_id) AS min_user, MAX(user_id) AS max_user,
       MIN(event_id) AS min_event, MAX(event_id) AS max_event
FROM rows_ GROUP BY event_type
"""


def q_catalog_show_tables(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C6 + P5: SHOW TABLES minus the NOT-IN self-exclusion list,
    round-tripped through Spark's real catalog (register the fixture
    views, enumerate via ``SHOW TABLES``, filter). Output is scoped
    to the fixture view names so it is deterministic regardless of
    what durable tables other queries in the hosting session created
    — which makes C6 hash-verifiable instead of rows-only."""
    from lakehouse_tools_spark.catalog import DEFAULT_EXCLUSIONS
    from lakehouse_tools_spark.sources.tables import TABLE_NAMES, register_views

    register_views(_spark(spark), sf_dir)
    lowered = F.lower(F.col("tableName"))
    return (
        spark.sql("SHOW TABLES")
        .filter(~lowered.isin([e.lower() for e in DEFAULT_EXCLUSIONS]))
        .filter(F.col("tableName").isin(list(TABLE_NAMES)))
        .select("tableName")
        .distinct()
        .orderBy("tableName")
    )


_SHOW_TABLES_ORACLE = "\nUNION ALL\n".join(
    f"SELECT '{t}' AS tableName"
    for t in sorted(
        (
            "region", "nation", "customer", "supplier", "part",
            "orders", "lineitem", "events", "documents", "embeddings",
        )
    )
)


# ---------------------------------------------------------------- contract


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: the full profiler pipeline (§3.1) on sf0.001."""
    return q_profiler_e2e(spark, "/root/testdata/sf0.001")


def _name(fn: Callable) -> str:
    return fn.__name__[2:]


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {_name(fn): fn for fn, _ in _REGISTRY}


def oracle_sql() -> dict[str, str]:
    return {_name(fn): o for fn, o in _REGISTRY if isinstance(o, str)}


#: One row per registered query, ``(q_fn, oracle)``, named by ``q_fn``
#: without its ``q_`` prefix. The oracle is the SQL text DuckDB replays,
#: or, for a rows-only query whose values are engine-specific sketch or
#: decomposition internals, the oracle-backed error-report companion
#: that hash-asserts its approximation contract. Row order is the
#: driver's: it records the first ~50 entries, and
#: ``tools/closing_gate.py`` checks that window.
_REGISTRY: tuple[tuple[Callable, str | Callable], ...] = (
    (q_corpus_budget_select, _BUDGET_SELECT_ORACLE),
    (q_events_stream_sessionize_tws, _EVENTS_SESSION_ORACLE),
    (q_profile_entropy, _PROFILE_ENTROPY_ORACLE),
    (q_sim_pca, q_pca_error_report),
    (q_drift_ks, _drift_ks_oracle()),
    (q_events_ewma, _events_ewma_oracle()),
    (q_events_transitions, _EVENTS_TRANSITIONS_ORACLE),
    (q_dedup_graph_triangles, _DEDUP_TRIANGLES_ORACLE),
    (q_integrity_report, _integrity_oracle()),
    (q_profile_clip, _PROFILE_CLIP_ORACLE),
    (q_events_gap_fill, _EVENTS_GAP_FILL_ORACLE),
    (q_events_forward_fill, _EVENTS_FFILL_ORACLE),
    (q_events_dense_impute, _EVENTS_DENSE_IMPUTE_ORACLE),
    (q_profile_heavy_hitters, _HEAVY_HITTERS_ORACLE),
    (q_bloom_join_prune, _BLOOM_PRUNE_ORACLE),
    (q_text_repetition, _TEXT_REPETITION_ORACLE),
    (q_cdc_roundtrip, _cdc_roundtrip_oracle()),
    (q_rollup_maintenance, _ROLLUP_MAINTENANCE_ORACLE),
    (q_golden_records, _GOLDEN_RECORDS_ORACLE),
    (q_profile_histogram_eqdepth, _EQDEPTH_ORACLE),
    (q_compaction_report, _COMPACTION_ORACLE),
    (q_sim_hard_negatives, _SIM_HARD_NEG_ORACLE),
    (q_sim_quantize_report, _SIM_QUANTIZE_ORACLE),
    (q_text_language, _language_oracle()),
    (q_dedup_minhash_estimate, _DEDUP_MINHASH_EST_ORACLE),
    (q_dedup_collapse, _DEDUP_COLLAPSE_ORACLE),
    (q_merge_upsert, _MERGE_ORACLE),
    (q_sim_topk, _SIM_TOPK_ORACLE),
    (q_schema_information, _schema_info_oracle(PROFILE_TABLES)),
    (q_profile_summary, _profile_summary_oracle()),
    (q_profile_summary_approx, q_summary_error_report),
    (q_profile_quantiles, q_quantile_error_report),
    (q_asof_join, _ASOF_ORACLE),
    (q_zorder_rowset, _ZORDER_ORACLE),
    (q_merge_full_sync, _MERGE_FULL_SYNC_ORACLE),
    (q_sim_neardup_lsh, _sim_neardup_lsh_oracle()),
    (q_sim_neardup_multiprobe, _sim_neardup_multiprobe_sql()),
    (q_dedup_clusters_lsh, _dedup_clusters_lsh_oracle()),
    (q_dedup_exact, _DEDUP_EXACT_ORACLE),
    (q_setop_nations, _SETOP_ORACLE),
    (q_events_rolling, _EVENTS_ROLLING_ORACLE),
    (q_quantile_error_report, _QUANT_ERROR_ORACLE),
    (q_sim_recall_report, _SIM_RECALL_ORACLE),
    (q_profile_quantiles_exact, _QUANT_EXACT_ORACLE),
    (q_profile_outliers, _PROFILE_OUTLIERS_ORACLE),
    (q_dedup_winnow_pairs, _WINNOW_PAIRS_ORACLE),
    (q_dedup_simhash, _simhash_oracle()),
    (q_dedup_minhash, _DEDUP_MINHASH_ORACLE),
    (q_dedup_lsh_pairs, _DEDUP_LSH_ORACLE),
    (q_text_bigrams, _TEXT_BIGRAMS_ORACLE),
    (q_profile_corr, _PROFILE_CORR_ORACLE),
    (q_text_bpe, _TEXT_BPE_ORACLE),
    (q_profile_fd, _fd_oracle(_FD_PAIRS)),
    (q_events_pattern, _PATTERN_ORACLE),
    (q_profile_benford, _BENFORD_ORACLE),
    (q_tpch_q6, _Q6_ORACLE),
    (q_events_funnel, _EVENTS_FUNNEL_ORACLE),
    (q_tpch_q15, _Q15_ORACLE),
    (q_tpch_q1, _Q1_ORACLE),
    (q_tpch_q3, _Q3_ORACLE),
    (q_tpch_q4, _Q4_ORACLE),
    (q_tpch_q5, _Q5_ORACLE),
    (q_tpch_q7, _Q7_ORACLE),
    (q_tpch_q8, _Q8_ORACLE),
    (q_tpch_q10, _Q10_ORACLE),
    (q_tpch_q12, _Q12_ORACLE),
    (q_tpch_q13, _Q13_ORACLE),
    (q_tpch_q14, _Q14_ORACLE),
    (q_tpch_q17, _Q17_ORACLE),
    (q_tpch_q18, _Q18_ORACLE),
    (q_tpch_q19, _Q19_ORACLE),
    (q_tpch_q21, _Q21_ORACLE),
    (q_tpch_q22, _Q22_ORACLE),
    (q_topk_customers, _TOPK_CUSTOMERS_ORACLE),
    (q_window_rank, _WINDOW_RANK_ORACLE),
    (q_window_ranking_suite, _WINDOW_RANKING_ORACLE),
    (q_sql_passthrough, _RAW_SQL),
    (q_rollup_pricing, _ROLLUP_ORACLE),
    (q_quality_check, _QUALITY_CHECK_ORACLE),
    (q_skew_salted_agg, _SKEW_SALTED_ORACLE),
    (q_skew_salted_join, _SKEW_SALTED_JOIN_ORACLE),
    (q_dedup_jaccard, _DEDUP_JACCARD_ORACLE),
    (q_dedup_winnow, _DEDUP_WINNOW_ORACLE),
    (q_events_retention, _EVENTS_RETENTION_ORACLE),
    (q_sim_topk_pandas, _SIM_TOPK_ORACLE),
    (q_corpus_dedup_e2e, _corpus_dedup_e2e_oracle()),
    (q_corpus_split_leakage_safe, _corpus_split_leakage_safe_oracle()),
    (q_dedup_clusters, _DEDUP_CLUSTERS_ORACLE),
    (q_semantic_dedup, _SEMANTIC_DEDUP_ORACLE),
    (q_sim_ivf, _SIM_IVF_ORACLE),
    (q_sim_neardup, _SIM_NEARDUP_ORACLE),
    (q_events_stream_join, _EVENTS_STREAM_JOIN_ORACLE),
    (q_events_stream_watermark, _EVENTS_STREAM_WM_ORACLE),
    (q_events_stream_dedup, _EVENTS_STREAM_DEDUP_ORACLE),
    (q_summary_error_report, _summary_error_oracle()),
    (q_sketch_error_report, _SKETCH_ERROR_ORACLE),
    (q_pack_bins, _PACK_BINS_ORACLE),
    (q_dedup_incremental, _dedup_incremental_oracle()),
    (q_source_overlap, _SOURCE_OVERLAP_ORACLE),
    (q_sim_covariance, _sim_covariance_oracle()),
    (q_events_stream_sessionize, _EVENTS_SESSION_ORACLE),
    (q_sql_pipe_passthrough, _SQL_PIPE_ORACLE),
    (q_events_json_variant, _EVENTS_JSON_VARIANT_ORACLE),
    (q_events_stream_outer_join, _EVENTS_STREAM_OUTER_ORACLE),
    (q_events_stream_upsert, _EVENTS_STREAM_UPSERT_ORACLE),
    (q_events_stream_profile, _STREAM_PROFILE_ORACLE),
    (q_corpus_span_dedup, _CORPUS_SPAN_DEDUP_ORACLE),
    (q_multimodal_features, _MULTIMODAL_FEATURES_ORACLE),
    (q_table_versions, _TABLE_VERSIONS_ORACLE),
    (q_asof_tolerance, _ASOF_TOLERANCE_ORACLE),
    (q_catalog_stats, _catalog_stats_oracle()),
    (q_cdc_apply, _CDC_APPLY_ORACLE),
    (q_cdc_merge_into, _CDC_APPLY_ORACLE),
    (q_chunk_chars, _CHUNK_CHARS_ORACLE),
    (q_chunk_tokens, _CHUNK_TOKENS_ORACLE),
    (q_corpus_decontaminate, _corpus_decontaminate_oracle()),
    (q_corpus_mixture, _corpus_mixture_oracle()),
    (q_corpus_prepare, _corpus_oracle()),
    (q_cube_pricing, _CUBE_ORACLE),
    (q_events_json, _EVENTS_JSON_ORACLE),
    (q_events_lag_lead, _EVENTS_LAG_LEAD_ORACLE),
    (q_events_pivot, _events_pivot_oracle()),
    (q_events_range_join, _EVENTS_RANGE_JOIN_ORACLE),
    (q_events_sessionize, _EVENTS_SESSION_ORACLE),
    (q_events_sliding, _EVENTS_SLIDING_ORACLE),
    (q_events_tumbling, _EVENTS_TUMBLING_ORACLE),
    (q_events_unpivot, _events_unpivot_oracle()),
    (q_multimodal_decode, _MULTIMODAL_DECODE_ORACLE),
    (q_pack_chunks, _PACK_CHUNKS_ORACLE),
    (q_profile_drift, _profile_drift_oracle()),
    (q_sample_balanced, _sample_balanced_oracle()),
    (q_sample_stratified, _sample_stratified_oracle()),
    (q_scd2_customers, _scd2_oracle()),
    (q_snapshot_diff, _snapshot_diff_oracle()),
    (q_source_binaryfile, _BINARYFILE_ORACLE),
    (q_source_csv_roundtrip, _CSV_ROUNDTRIP_ORACLE),
    (q_source_json_roundtrip, _JSON_ROUNDTRIP_ORACLE),
    (q_source_orc_roundtrip, _ORC_ROUNDTRIP_ORACLE),
    (q_text_fingerprints, _TEXT_FP_ORACLE),
    (q_text_quality, _quality_oracle()),
    (q_text_redact, _text_redact_oracle()),
    (q_text_tokens, _TEXT_TOKENS_ORACLE),
    (q_text_vocabulary, _TEXT_VOCAB_ORACLE),
    (q_pca_error_report, _pca_error_oracle()),
    (q_source_python_datasource, _PYSOURCE_ORACLE),
    (q_profiler_e2e, _profile_intended_oracle(tuple(FIXTURE_SCHEMAS))),
    (q_profile_intended, _profile_intended_oracle(PROFILE_TABLES)),
    (q_profile_as_written, _profile_as_written_oracle(PROFILE_TABLES)),
    (q_profile_histogram, _profile_histogram_oracle()),
    (q_profile_topk, _profile_topk_oracle(PROFILE_TABLES)),
    (
        q_profiler_incremental,
        _profile_intended_oracle(
            PROFILE_TABLES, table_sql={"orders": _ORDERS_MODIFIED_SQL}
        ),
    ),
    (q_neardup_recall_report, _NEARDUP_RECALL_ORACLE),
    (q_corpus_e2e, _corpus_e2e_oracle()),
    (q_graph_pagerank, _pagerank_oracle()),
    (q_tpch_q2, _Q2_ORACLE),
    (q_tpch_q9, _Q9_ORACLE),
    (q_tpch_q11, _Q11_ORACLE),
    (q_tpch_q16, _Q16_ORACLE),
    (q_tpch_q20, _Q20_ORACLE),
    (q_profile_distinct_sketch, q_sketch_error_report),
    (q_catalog_show_tables, _SHOW_TABLES_ORACLE),
    (q_profile_nested, _profile_nested_oracle()),
    (q_pack_report, _PACK_REPORT_ORACLE),
    (q_text_keywords, _TEXT_KEYWORDS_ORACLE),
    (q_text_logprob, _TEXT_LOGPROB_ORACLE),
    (q_dedup_containment, _DEDUP_CONTAINMENT_ORACLE),
    (q_sim_centroids, _SIM_CENTROIDS_ORACLE),
    (q_events_anomaly, _EVENTS_ANOMALY_ORACLE),
    (q_text_pmi, _TEXT_PMI_ORACLE),
    (q_source_partitioned, _PARTITIONED_ORACLE),
    (q_merge_evolve, _MERGE_EVOLVE_ORACLE),
    (q_schema_drift, _schema_drift_oracle()),
    (q_profile_quantiles_grouped, _QUANT_GROUPED_ORACLE),
    (q_layout_report, _LAYOUT_REPORT_ORACLE),
    (q_quality_quarantine, _QUARANTINE_ORACLE),
    (q_source_evolved, _SOURCE_EVOLVED_ORACLE),
    (q_asof_nearest, _ASOF_NEAREST_ORACLE),
    (q_events_interval_join, _EVENTS_INTERVAL_ORACLE),
    (q_sample_weighted, _sample_weighted_oracle()),
    (q_dedup_graph_stats, _DEDUP_GRAPH_STATS_ORACLE),
    (q_events_anomaly_rolling, _EVENTS_ANOMALY_ROLLING_ORACLE),
    (q_events_stream_enrich, _EVENTS_STREAM_ENRICH_ORACLE),
    (q_sim_cross_contamination, _SIM_CROSS_ORACLE),
    (q_events_interpolate, _EVENTS_INTERP_ORACLE),
    (q_dedup_cluster_report, _DEDUP_CLUSTER_REPORT_ORACLE),
    (q_text_bpe_report, _TEXT_BPE_REPORT_ORACLE),
    (q_sim_ann_lsh, _sim_ann_lsh_oracle()),
    (q_sim_ann_multiprobe, _sim_ann_multiprobe_oracle()),
    (q_sim_ivf_kmeans, _sim_ivf_kmeans_oracle()),
    (q_corpus_split, _corpus_split_oracle()),
    (q_fuzzy_join, _FUZZY_ORACLE),
)

ROWS_ONLY_AUDIT_COMPANIONS: dict[str, str] = {
    _name(fn): _name(o) for fn, o in _REGISTRY if callable(o)
}
