"""Graph operators over pair relations: connected components,
PageRank and triangle counts.

Pair lists (exact dups, LSH near-dups, embedding near-dups) answer
"are these two documents duplicates?"; deduplication needs the
transitive closure: WHICH GROUP does each document belong to, so one
canonical representative per group survives. That is connected
components over the pair graph, computed by
:func:`connected_components_contract`: union-find inside every
partition, then a ladder of forest-merging levels that reads the raw
edge relation once and ends in one exact min-id pass. Every vertex
maps to the minimum id of its component — same clusters in any engine
(the driver oracle computes the same closure with a recursive CTE).

Iterative plans here that need a lineage cut should materialize with
a parquet round-trip, not ``localCheckpoint``: measured on Spark 4.1,
iterated ``localCheckpoint`` self-joins slow down exponentially
(~×2.5/round from round ~18; 0.4 s → 65 s by round ~24) while a
parquet write-and-reread of the same relation stays flat (~0.5 s/round
over 30 rounds).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from lakehouse_tools_spark.sources.tables import _BYTES_PER_TASK, _source_bytes


#: Union-find edges one contraction task absorbs comfortably: the
#: per-partition pass runs ~2-4 M edges/s of pure-Python find/union,
#: so 2 Mi edges ≈ 0.5-1 s — the same "working set sized to one
#: task's fair share" rule as the 128 MB byte split, expressed in the
#: unit this operator actually pays for.
EDGES_PER_TASK = 1 << 21


def _sized_start_partitions(*dfs: DataFrame) -> int:
    """Size the contraction ladder's level-0 partition count to the
    SOURCE volume feeding the edge plan, not to the local core count.

    The ladder's cost model (measured): each level is one
    mapInPandas pass whose latency floor is the JVM→Python round-trip
    per task, so a fixed ``defaultParallelism`` start (e.g. 32) pays
    a 3-level ladder (32 → 4 → 1 at fan_in=8) even when the whole dup
    graph is a few thousand edges — ~2.5 s of pure level/task
    overhead per CC call at fixture scale, multiplied across the
    seven dedup/cluster queries that compose this operator. Level 0
    is ``ceil(source_bytes / 128 MB)`` — one source split ≈ one
    union-find task — floored at 1 and capped at
    ``defaultParallelism`` (so the at-scale ladder is unchanged);
    source bytes come from the same file sizing as
    ``sources.tables.ensure_parallelism``.

    The candidates in ``dfs`` are tried in order and the first
    file-backed one sizes the ladder (callers pass the vertex/corpus
    relation first — it is the plain table scan; the multi-join edge
    plans report no input files on this Spark). With no file-backed
    candidate (in-memory test frames, post-shuffle intermediates) the
    defaultParallelism start is kept.
    """
    n = dfs[0].sparkSession.sparkContext.defaultParallelism
    for df in dfs:
        try:
            files, total, _ = _source_bytes(df)
        except Exception:
            continue
        if files:
            return max(1, min(-(-total // _BYTES_PER_TASK), n))
    return n


def connected_components_contract(
    edges: DataFrame,
    vertices: DataFrame,
    src_col: str = "doc_id",
    dst_col: str = "doc_id2",
    id_col: str = "doc_id",
    fan_in: int = 8,
    start_partitions: int | None = None,
) -> DataFrame:
    """Connected components by TREE-CONTRACTION UNION-FIND — the
    fast path for sparse duplicate graphs (|E| ≈ O(|V_dup|), the
    shape LSH/exact dedup always produces).

    Each level runs union-find inside every partition (``mapInPandas``
    — pure per-partition state, no shuffle) and emits the partition's
    spanning star: one ``(vertex, local_root)`` edge per non-root
    vertex, which preserves connectivity while capping the partition's
    output at its distinct-vertex count. ``repartition(P // fan_in)``
    merges ``fan_in`` forests into one partition for the next level,
    so after ``log_fan_in(P)`` levels a single partition holds a
    spanning forest of the whole dup graph and computes exact min-id
    labels. The between-level exchange carries only forest edges
    (16 B each) — the raw edge relation is read ONCE. A narrow
    ``coalesce`` would be shuffle-free but is the wrong tool: it FUSES
    every level into one stage, so the whole chain executes as a
    single task with k sequential JVM→Python→JVM hops and zero
    parallelism (measured: 5.4 s vs 0.8 s on an identity 3-level
    chain) — the stage boundary is what buys parallel level-0/1.

    Contraction pays O(log P) forest-sized passes total, where label
    propagation would pay O(log diameter) rounds of one |E| shuffle
    each. The trade-off is that the final partition materializes the
    spanning forest of every duplicated vertex in one task — right
    whenever dup-cluster membership is a modest fraction of the
    corpus (LSH dedup at 100 TB: forest ≈ #near-dup docs × 16 B; 1 B
    dup docs ≈ 16 GB — one fat executor task, still bounded).

    Python union-find is the right tool here, not a UDF smell: the
    operation is inherently sequential-stateful per partition, α(n)
    per edge, and runs on the contracted (post-level-0) relation —
    Catalyst has no equivalent operator.

    Determinism: spanning stars depend only on partition contents
    (hash of ``src_col``), and the final exact pass replaces every
    root with the true component minimum, so the output depends only
    on the graph, not on partitioning or union order.
    """
    import pandas as pd

    spark = edges.sparkSession
    dt = dict(edges.dtypes)[src_col]
    e = edges.select(
        F.col(src_col).alias("u"), F.col(dst_col).alias("v")
    ).filter(F.col("u") != F.col("v"))
    if start_partitions is None:
        start_partitions = _sized_start_partitions(vertices, edges)
    e = e.repartition(start_partitions, "u")

    def _union_find(batches, seen=None):
        """Union every (u, v) edge of ``batches``; returns the parent
        map and its path-compressing ``find``. Vertices are added to
        ``seen`` when given."""
        parent: dict = {}

        def find(x):
            r = x
            while parent.get(r, r) != r:
                r = parent[r]
            while parent.get(x, x) != r:
                parent[x], x = r, parent[x]
            return r

        for b in batches:
            for u, v in zip(b["u"], b["v"]):
                if seen is not None:
                    seen.add(u)
                    seen.add(v)
                ru, rv = find(u), find(v)
                if ru != rv:
                    # min-id as root keeps the star edges canonical
                    if rv < ru:
                        ru, rv = rv, ru
                    parent[rv] = ru
        return parent, find

    def _forest(batches):
        parent, find = _union_find(batches)
        rows_u, rows_v = [], []
        for x in parent:
            r = find(x)
            if r != x:
                rows_u.append(x)
                rows_v.append(r)
        yield pd.DataFrame({"u": rows_u, "v": rows_v})

    def _final(batches):
        seen: set = set()
        _, find = _union_find(batches, seen)
        # exact component minimum per root (roots are min-id by
        # construction, but the reduction is cheap and makes the
        # invariant independent of union order)
        best: dict = {}
        for x in seen:
            r = find(x)
            if r not in best or x < best[r]:
                best[r] = x
        out_v, out_c = [], []
        for x in seen:
            out_v.append(x)
            out_c.append(best[find(x)])
        yield pd.DataFrame({"u": out_v, "v": out_c})

    schema = f"u {dt}, v {dt}"
    p = start_partitions
    while p > 1:
        e = e.mapInPandas(_forest, schema)
        p = max(1, p // fan_in)
        e = e.repartition(p, "u")
    assign = e.mapInPandas(_final, schema).select(
        F.col("u").alias("_v"), F.col("v").alias("_cluster")
    )
    # no broadcast hint: the assignment covers every duplicated vertex
    # (possibly huge at 100 TB) — AQE picks broadcast when it is small
    ids = vertices.select(F.col(id_col).alias("_v")).distinct()
    return ids.join(assign, "_v", "left").select(
        F.col("_v").alias(id_col),
        F.coalesce(F.col("_cluster"), F.col("_v")).alias("cluster_id"),
    )


def cluster_representatives(
    assignment: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """One surviving row per duplicate cluster: the member with the
    minimum id (== the cluster id itself, by construction of
    :func:`connected_components_contract`)."""
    return assignment.filter(F.col(id_col) == F.col("cluster_id"))


def pagerank(
    vertices: DataFrame,
    edges: DataFrame,
    id_col: str = "id",
    src_col: str = "src",
    dst_col: str = "dst",
    iters: int = 3,
    damping: float = 0.85,
) -> DataFrame:
    """Fixed-iteration PageRank — link analysis over the dup/citation
    graph (rank hub documents, weight representatives by centrality).

    Per iteration: contributions flow src→dst as ``pr/outdeg`` (one
    equi-join + one groupBy — shuffles carry (vertex, partial sum),
    never adjacency lists), dangling mass (outdeg-0 vertices) is
    redistributed uniformly via a broadcast 1-row aggregate, and
    ``pr' = (1−d)/n + d·(contrib + dangling/n)``. Fixed ``iters``
    keeps the whole computation expressible as chained relational
    passes, so a SQL oracle can replay it exactly; production
    convergence loops swap the range for a delta test without
    touching the per-round plan. Output: ``(id, pagerank)`` floored
    at 6 with the exact-rational boundary nudge shared by the
    scoring operators.

    Nothing is persisted. Each round's rank relation has two
    consumers (the dangling sum and the contributions), so the plan
    doubles per round, and persisting the rounds does not cut that
    lineage: Catalyst still analyzes the whole tree. On 4 vCPU over
    the registry's sf0.1 graph, a cold call (graph build included)
    at ``iters`` 3/5/7 took 12–13/20–21/78–99 s with per-round
    persists and 12–13/19/56–59 s without, with the same rows. The
    registry uses ``iters=3``; large ``iters`` need a real lineage
    cut (a checkpoint of the vertex-sized ranks).
    """
    n = vertices.count()
    v = vertices.select(F.col(id_col).alias("_vid"))
    e = edges.select(
        F.col(src_col).alias("_src"), F.col(dst_col).alias("_dst")
    )
    outdeg = e.groupBy("_src").agg(F.count(F.lit(1)).alias("_deg"))
    p = v.select("_vid", F.lit(1.0 / n).alias("_pr"))
    for _ in range(int(iters)):
        dangling = (
            p.join(outdeg, p["_vid"] == outdeg["_src"], "left_anti")
            .agg(F.coalesce(F.sum("_pr"), F.lit(0.0)).alias("_dm"))
        )
        contrib = (
            e.join(p, e["_src"] == p["_vid"])
            .join(outdeg, "_src")
            .groupBy("_dst")
            .agg(F.sum(F.col("_pr") / F.col("_deg")).alias("_c"))
        )
        p = (
            v.join(contrib, v["_vid"] == contrib["_dst"], "left")
            .crossJoin(F.broadcast(dangling))
            .select(
                "_vid",
                (
                    F.lit((1.0 - damping) / n)
                    + damping
                    * (
                        F.coalesce(F.col("_c"), F.lit(0.0))
                        + F.col("_dm") / n
                    )
                ).alias("_pr"),
            )
        )
    return p.select(
        F.col("_vid").alias(id_col),
        (F.floor((F.col("_pr") + 1e-9) * 1000000) / 1000000).alias(
            "pagerank"
        ),
    )


def triangle_counts(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """Per-vertex triangle counts over an undirected graph — the
    cohesion diagnostic for a near-dup pair graph: a vertex whose
    partners are also partners of each other sits in a dense template
    cluster (safe to collapse to one representative); triangle-free
    high degree is a hub stitching UNRELATED documents together (the
    dangerous transitive-closure case for dedup).

    Plan (compact-forward, the standard distributed shape): edges are
    canonicalized to ``u < v`` and deduplicated, so every triangle
    ``a < b < c`` is generated exactly once — as the wedge
    ``(a,b)+(b,c)`` at its MIDDLE vertex, closed by an equi-join
    probing ``(a,c)`` against the edge set. Three equi-joins total, no
    cartesian anywhere; wedge volume is Σ_b d⁻(b)·d⁺(b), which the
    canonical orientation already caps well below Σ d(b)² (a vertex
    contributes only lower×higher-id partner pairs). For skewed
    graphs the classical refinement — relabel vertex ids by degree
    rank so high-degree vertices generate almost no wedges — drops in
    as a pre-join relabel without changing this plan. Triangles then
    explode to their three corners and aggregate: output is
    vertex-sized.

    Output covers EVERY vertex appearing in ``edges`` — triangle-free
    vertices emit ``n_triangles = 0`` rather than being absent, since
    the flagging use case above is precisely about zero-count
    high-degree hubs (a left-join + coalesce over the vertex set; one
    extra vertex-sized shuffle, nothing edge- or wedge-sized).
    """
    e = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("u"),
            F.greatest(F.col(src), F.col(dst)).alias("v"),
        )
        .filter(F.col("u") < F.col("v"))
        .distinct()
    )
    wedges = (
        e.alias("e1")
        .join(e.alias("e2"), F.col("e1.v") == F.col("e2.u"))
        .select(
            F.col("e1.u").alias("a"),
            F.col("e1.v").alias("b"),
            F.col("e2.v").alias("c"),
        )
    )
    tri = wedges.join(
        e.alias("e3"),
        (F.col("a") == F.col("e3.u")) & (F.col("c") == F.col("e3.v")),
    ).select("a", "b", "c")
    counts = (
        tri.select(F.explode(F.array("a", "b", "c")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("long").alias("n_triangles"))
    )
    vertices = (
        e.select(F.col("u").alias("node"))
        .union(e.select(F.col("v").alias("node")))
        .distinct()
    )
    return vertices.join(counts, "node", "left").select(
        "node",
        F.coalesce(F.col("n_triangles"), F.lit(0)).cast("long").alias(
            "n_triangles"
        ),
    )
