"""Parquet source registry for the fixture star schema (TESTDATA.md).

The reference reads only managed Delta tables (SURVEY.md §2.2 S5);
this engine's primary source is columnar parquet (Delta's storage
format) read through Spark's vectorized reader, which gives predicate
pushdown + column pruning for free. At 100 TB the same code path
applies — ``spark.read.parquet`` over a partitioned table directory —
so nothing here is fixture-specific except the path layout.
"""

from __future__ import annotations

import os
import stat as statmod
import weakref

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from lakehouse_tools_spark.functions.portable import _col

TABLE_NAMES: tuple[str, ...] = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

#: Columns stored as parquet TIMESTAMP(NANOS), which Spark's vectorized
#: reader rejects. With ``spark.sql.legacy.parquet.nanosAsLong`` (set in
#: session.RUNTIME_CONFS) they surface as LongType nanos; we floor-divide
#: to micros — the same truncation every micros-native engine applies.
NANOS_TS_COLUMNS: dict[str, tuple[str, ...]] = {"events": ("ts",)}

#: In-process memo of parquet FOOTER SCHEMAS (metadata only, never
#: data or results): ``spark.read.parquet`` re-infers the schema from
#: the file footer on every call (~130 ms of driver+job overhead per
#: call measured warm at sf0.1, vs ~20 ms with an explicit schema).
#: A real deployment reads table schemas from its catalog/metastore
#: exactly once — this memo is that metastore lookup for pathed
#: fixture files. Keyed by :func:`_stat_key`; :func:`_memo_put` keeps
#: at most one schema per distinct path.
_FOOTER_SCHEMA_CACHE: dict[tuple[str, int, int], T.StructType] = {}


def _stat_key(path: str) -> tuple[str, int, int] | None:
    """``(abspath, mtime_ns, size)`` of a regular file, else None —
    the key of both table memos: any rewrite of the file changes it,
    and directory-shaped tables (whose parts can change without the
    dir stat moving) are never memoized."""
    try:
        st = os.stat(path)
    except OSError:
        return None
    # S_ISREG on the ONE stat result — a second isfile() call would
    # open a TOCTOU window where a path replaced by a directory
    # between the calls keys a directory as a file (ADVICE r12)
    if not statmod.S_ISREG(st.st_mode):
        return None
    return (os.path.abspath(path), st.st_mtime_ns, st.st_size)


def _memo_put(memo: dict, key: tuple[str, int, int], value) -> None:
    """Insert ``value`` under ``key``, first evicting the stale stat-keys
    of the same path — at most one entry per distinct path (ADVICE r12)."""
    for k in [k for k in memo if k[0] == key[0]]:
        del memo[k]
    memo[key] = value


def _parquet_schema(
    spark: SparkSession, path: str, key: tuple[str, int, int] | None = None
) -> T.StructType:
    """Footer schema of ``path``, memoized for unchanged regular files.
    ``key`` is the caller's ``_stat_key(path)`` when it already has one."""
    key = key or _stat_key(path)
    if key is None:
        return spark.read.parquet(path).schema
    schema = _FOOTER_SCHEMA_CACHE.get(key)
    if schema is None:
        schema = spark.read.parquet(path).schema
        _memo_put(_FOOTER_SCHEMA_CACHE, key, schema)
    return schema


#: In-process memo of the built TABLE-LOAD PLAN (the analyzed JVM
#: Dataset behind ``load_table`` — a lazy description, never data or
#: results: every action on a handle served from here recomputes from
#: the parquet file). Building the plan costs ~20 ms warm per call
#: (DataFrameReader relation + file index + the normalization
#: projections); serving a ``toDF()`` clone of the memoized Dataset
#: costs ~0.2 ms and gives each call a FRESH dataset id, so
#: column-object self-join disambiguation behaves like any other
#: single-source self-join (use ``.alias()`` per side — the standard
#: Spark requirement; pinned in tests). Keyed by session, then
#: :func:`_stat_key`. BOUNDED two ways (ADVICE r12 / VERDICT r12
#: item 8): the outer map weak-keys on the SparkSession, so a
#: stopped-and-dropped session releases every JVM Dataset it pinned;
#: and :func:`_memo_put` drops stale stat-keys of the same path, so a
#: rewrite never leaves the replaced Dataset (and its
#: InMemoryFileIndex) pinned for the life of the process.
_TABLE_PLAN_CACHE: "weakref.WeakKeyDictionary[SparkSession, dict]" = (
    weakref.WeakKeyDictionary()
)


def _normalize_types(df: DataFrame, schema: T.StructType, name: str) -> DataFrame:
    """TIMESTAMP_NTZ → TIMESTAMP, and table ``name``'s registered nanos
    columns (longs, per ``schema`` — the raw read schema) → TIMESTAMP
    floored to micros. Shared by the batch and streaming loaders."""
    for f in schema.fields:
        if isinstance(f.dataType, T.TimestampNTZType):
            df = df.withColumn(f.name, _col(f.name).cast("timestamp"))
    for c in NANOS_TS_COLUMNS.get(name, ()):
        if isinstance(schema[c].dataType, T.LongType):
            df = df.withColumn(c, F.timestamp_micros(F.expr(f"`{c}` div 1000")))
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one fixture table. Columnar scan; Catalyst prunes/pushes.

    Type normalization (zero-cost projections, stay in codegen):
    TIMESTAMP_NTZ → TIMESTAMP (the session is pinned to UTC so the
    reinterpretation is the identity), and registered nanos columns →
    TIMESTAMP via floor-to-micros.

    Repeat loads of an UNCHANGED regular file serve a clone of the
    memoized plan (see ``_TABLE_PLAN_CACHE``) — lazy metadata only;
    joining two loads of the same table needs ``.alias()`` on each
    side, exactly like any Spark self-join of one DataFrame. The first
    load after a rewrite refreshes the path's cached relations, so no
    persist made over the old file serves its rows again.
    """
    path = os.path.join(sf_dir, f"{name}.parquet")
    # re-assert the nanos conf on EVERY call, cache hits included: the
    # memoized plan is physically re-planned per action against the
    # session confs of that moment, so a caller that reset the conf
    # between loads must see it re-asserted exactly as the pre-memo
    # code did (ADVICE r12). One cheap local conf call.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    key = _stat_key(path)
    per = _TABLE_PLAN_CACHE.get(spark) if key is not None else None
    if per is not None:
        jdf = per.get(key)
        if jdf is not None:
            return DataFrame(jdf.toDF(), spark)
        if any(k[0] == key[0] for k in per):
            # rewritten since this session last loaded it
            spark.catalog.refreshByPath(path)
    schema = _parquet_schema(spark, path, key)
    df = _normalize_types(spark.read.schema(schema).parquet(path), schema, name)
    if key is not None:
        _memo_put(_TABLE_PLAN_CACHE.setdefault(spark, {}), key, df._jdf)
    return df


#: Source bytes per task the parallelism guard aims for — aligned
#: with spark.sql.files.maxPartitionBytes' 128 MB default, the same
#: "a task's working set must fit its memory share" sizing rule
#: SCALING.md documents for real deployments.
_BYTES_PER_TASK = 128 << 20

#: Ceiling on the guard's partition count (64x cores): a degenerate
#: expansion estimate must not schedule a million 1 KB tasks.
_MAX_FANOUT = 64


def _parse_bytes_conf(value: str | None) -> int:
    """Parse a Spark byte-size conf string (``134217728``, ``128m``,
    ``128MB``, ``134217728b``) to bytes; unknown forms fall back to
    the 128 MB split default."""
    if not value:
        return _BYTES_PER_TASK
    s = str(value).strip().lower()
    for suffix, mult in (
        ("tb", 1 << 40), ("gb", 1 << 30), ("mb", 1 << 20), ("kb", 1 << 10),
        ("t", 1 << 40), ("g", 1 << 30), ("m", 1 << 20), ("k", 1 << 10),
        ("b", 1),
    ):
        if s.endswith(suffix):
            s = s[: -len(suffix)]
            break
    else:
        mult = 1
    try:
        return max(1, int(float(s) * mult))
    except ValueError:
        return _BYTES_PER_TASK


def _source_bytes(df: DataFrame) -> tuple[int, int, bool]:
    """``(files, bytes, local)`` of the files backing ``df``.

    Public API only — ``df.inputFiles()`` + driver-side file sizes —
    no ``.rdd`` partition probe (forces a plan→RDD conversion per
    call) and no ``_jdf`` stats reach-in (breaks under Spark Connect).
    Local files are stat-ed; each file the driver cannot stat (S3/HDFS
    paths) is ESTIMATED at one ``spark.sql.files.maxPartitionBytes``
    split, erring toward MORE tasks — the safe direction for any
    per-task working-set bound. ``local`` is true when every size was
    stat-ed. A relation not backed by files reports ``(0, 0, True)``.
    """
    files = df.inputFiles()
    total = 0
    unstat = 0
    for p in files:
        if p.startswith("file:"):
            try:
                total += os.path.getsize(p[len("file:"):])
                continue
            except OSError:
                pass
        unstat += 1
    if unstat:
        total += unstat * _parse_bytes_conf(
            df.sparkSession.conf.get("spark.sql.files.maxPartitionBytes", None)
        )
    return len(files), total, not unstat


def ensure_parallelism(
    df: DataFrame, *cols: str, expansion: float = 1.0
) -> DataFrame:
    """The package's one "is this input spread enough?" guard: a
    SIZE-AWARE repartition in front of a CPU-heavy pre-shuffle stage
    (melt, explode, per-row hashing or dot products), keyed by
    ``cols`` when given — identity when the input already has enough
    splits.

    Compacted tables arrive in few large files, so the file count is
    the split count this guards. The rule, in order:

    1. a relation not backed by files (in-memory data) is left alone;
    2. ``target = max(cores, min(⌈bytes × expansion / 128 MB⌉,
       64 × cores))``;
    3. if ``files ≥ target`` the relation is left alone;
    4. an UNKEYED call on a local source under 1 MB is left alone;
    5. otherwise repartition to ``target`` (by ``cols`` if given).

    ``expansion`` is the operator's row/byte multiplier. The
    profiler's melt emits ``n_columns`` rows per input row and
    stringifies every value, so a fine-looking task COUNT can still
    hand each task a working set far bigger than its execution-memory
    share: the r07 scaling harness measured the cliff at sf10 (60 M
    lineitem rows, 32 tasks) — the partial-aggregate map spilled and
    stage CPU went 319 s → 1065 s for 2x the data (e(5→10) = 2.1).
    Sizing by ``bytes × expansion`` keeps every task's working set
    inside one memory share at any input size (SCALING.md, "size
    partitions so they fit"); the 64x-cores cap stops a degenerate
    estimate from scheduling a million 1 KB tasks.

    Why the tiny-input exemption is UNKEYED only (r13 measurements):
    the keyed callers (dedup/text/corpus document spreads, LSH vector
    spreads) run per-row hashing or dot products before their first
    shuffle, and their key pre-satisfies the downstream per-id
    window/groupBy — spreading even sub-MB single-file inputs
    (``documents`` 594 KB, ``embeddings`` 799 KB at sf0.1) gained
    ×2.9–×5.4. The unkeyed profile/dependency melts are cheap per
    row; a guard in front of a tiny melt measured +0.9 s, so a
    scheduling-bound tiny relation stays as it is.

    File count stands in for split count, so a relation derived
    through an earlier shuffle, or one large splittable file, may be
    repartitioned although its splits would already suffice.
    """
    n = df.sparkSession.sparkContext.defaultParallelism
    files, total, local = _source_bytes(df)
    if not files:
        return df
    sized = -(-int(total * expansion) // _BYTES_PER_TASK)
    target = max(n, min(sized, n * _MAX_FANOUT))
    if files >= target or (not cols and local and total < (1 << 20)):
        return df
    return df.repartition(target, *cols)


def load_tables(
    spark: SparkSession, sf_dir: str, names: tuple[str, ...] | None = None
) -> dict[str, DataFrame]:
    """Load the fixture tables as a dict name → DataFrame."""
    return {n: load_table(spark, sf_dir, n) for n in (names or TABLE_NAMES)}


def register_views(
    spark: SparkSession, sf_dir: str, names: tuple[str, ...] | None = None
) -> dict[str, DataFrame]:
    """Load fixture tables and register each as a temp view."""
    tables = load_tables(spark, sf_dir, names)
    for name, df in tables.items():
        df.createOrReplaceTempView(name)
    return tables


def load_stream(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """``readStream`` twin of :func:`load_table`: same path, same
    type normalization, but a Structured Streaming file source.

    The file source needs an explicit schema (no streaming inference),
    so the raw schema is probed with a zero-row batch read. At real
    scale the path is a growing table directory and the source
    discovers new files per micro-batch; the fixture's static files
    simply make every query an ``availableNow`` catch-up run.
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    path = os.path.join(sf_dir, f"{name}.parquet")
    schema = _parquet_schema(spark, path)
    # the file source's base path must be a directory; fixtures are
    # single files, so address them through a glob (base = parent
    # dir). At real scale `path` IS a table directory and the plain
    # path works as-is.
    if os.path.isfile(path):
        path = path[:-1] + f"[{path[-1]}]"
    return _normalize_types(spark.readStream.schema(schema).parquet(path), schema, name)
