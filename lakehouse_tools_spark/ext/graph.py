"""Connected components — duplicate-cluster assignment at scale.

Pair lists (exact dups, LSH near-dups, embedding near-dups) answer
"are these two documents duplicates?"; deduplication needs the
transitive closure: WHICH GROUP does each document belong to, so one
canonical representative per group survives. That is connected
components over the pair graph.

Algorithm: iterative min-label propagation with in-plan pointer
jumping. Every vertex starts labeled with its own id; each round one
declarative plan computes min over {its label, its neighbors' labels}
and then follows the label mapping twice more (two pointer jumps), so
a round's reach is roughly 3× a plain propagation round and the total
round count is O(log diameter), not O(diameter). Each round is one
edge⋈label join + one min-aggregate + two labels-only joins —
shuffles proportional to |E| and |V|, labels only (8 B), never
payloads. The loop is driver-side but the data never is: the
convergence check is a changed-flag probe on the materialized round
output.

Per-round materialization is a PARQUET ROUND-TRIP, not
``localCheckpoint``/``checkpoint``. Measured on this Spark (4.1):
iterating localCheckpoint self-joins slows down exponentially
(~×2.5/round from round ~18; 0.4 s → 65 s by round ~24) even though
the executed plan, partition count, and row count stay constant — the
local-checkpoint lineage isn't truly truncated and the self-join
doubles the untracked graph every round. Reliable ``checkpoint()``
shows the same drift and recomputes the plan besides. Writing the
(16 B/row) label relation to parquet and reading it back is flat
(~0.5 s/round over 30 rounds measured) and is also the right cluster
shape: the reread gives Catalyst real size stats (enabling broadcast
of a small label side), and round state survives executor loss, which
executor-local checkpoint blocks do not.

Determinism: min() over a fixed vertex-id order — same clusters in
any engine (the driver oracle computes the same closure with a
recursive CTE).
"""

from __future__ import annotations

import shutil
import tempfile
import uuid

from pyspark import StorageLevel
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from lakehouse_tools_spark.sources.tables import _BYTES_PER_TASK, _source_bytes


def _label_round(labels: DataFrame, sym: DataFrame, jumps: int) -> DataFrame:
    """One declarative round: neighbor-min merge, then ``jumps``
    pointer jumps through the (old) label mapping, all in ONE plan.
    The label relation is referenced ``jumps + 2`` times — fine,
    because ``labels`` is a freshly-read parquet relation (a leaf
    scan), not a lineage chain. Emits ``_v, _label, _chg``."""
    neigh_min = (
        sym.join(
            labels.select(F.col("_v").alias("_u"), F.col("_label").alias("_nl")),
            "_u",
        )
        .groupBy("_v")
        .agg(F.min("_nl").alias("_nmin"))
    )
    out = labels.join(neigh_min, "_v", "left").select(
        "_v",
        F.col("_label").alias("_old"),
        F.least(
            F.col("_label"), F.coalesce(F.col("_nmin"), F.col("_label"))
        ).alias("_label"),
    )
    for i in range(jumps):
        m = labels.select(
            F.col("_v").alias(f"_cl{i}"), F.col("_label").alias(f"_clab{i}")
        )
        out = out.join(m, F.col("_label") == F.col(f"_cl{i}"), "left").select(
            "_v",
            "_old",
            F.least(
                F.col("_label"),
                F.coalesce(F.col(f"_clab{i}"), F.col("_label")),
            ).alias("_label"),
        )
    return out.select(
        "_v", "_label", (F.col("_label") < F.col("_old")).alias("_chg")
    )


def connected_components(
    edges: DataFrame,
    vertices: DataFrame,
    src_col: str = "doc_id",
    dst_col: str = "doc_id2",
    id_col: str = "doc_id",
    max_rounds: int = 50,
    work_dir: str | None = None,
    jumps_per_round: int = 2,
) -> DataFrame:
    """``(id_col, cluster_id)`` for every vertex; ``cluster_id`` is
    the minimum vertex id of the component (singletons map to
    themselves). Raises if the propagation hasn't converged after
    ``max_rounds`` — with jumped min-label propagation that means a
    component of diameter ≳ 3^max_rounds, which no real graph has.

    ``work_dir`` holds the per-round label state (16 B/vertex); pass
    a durable path on a real cluster (restartable and
    executor-loss-safe), default is a process-local temp dir.
    """
    # symmetrize in ONE pass over the (possibly expensive) edge plan:
    # explode [(v,u),(u,v)] per edge rather than unioning two
    # projections, which would evaluate the edge relation twice
    sym = (
        edges.select(
            F.explode(
                F.array(
                    F.struct(
                        F.col(src_col).alias("_v"), F.col(dst_col).alias("_u")
                    ),
                    F.struct(
                        F.col(dst_col).alias("_v"), F.col(src_col).alias("_u")
                    ),
                )
            ).alias("_e")
        )
        .select("_e._v", "_e._u")
        .distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    spark = edges.sparkSession
    own_dir = work_dir is None
    base = work_dir or tempfile.mkdtemp(prefix="lt_cc_")
    labels = (
        vertices.select(F.col(id_col).alias("_v"))
        .distinct()
        .withColumn("_label", F.col("_v"))
    )
    try:
        for r in range(max_rounds):
            out = _label_round(labels, sym, jumps_per_round)
            path = f"{base}/round={r % 2}"  # ping-pong: only 2 states live
            out.write.mode("overwrite").parquet(path)
            state = spark.read.parquet(path)
            labels = state.drop("_chg")
            if state.filter(F.col("_chg")).limit(1).count() == 0:
                # nothing moved through an edge or a jump: every edge
                # joins two equal labels, so labels are the component
                # minima. Materialize the result OFF the ping-pong
                # paths in BOTH modes: own_dir is about to be deleted,
                # and a caller-supplied work_dir's round={0,1} paths
                # are overwritten in place by any rerun — a lazy scan
                # of them would silently yield the later run's data.
                result = labels.select(
                    F.col("_v").alias(id_col),
                    F.col("_label").alias("cluster_id"),
                )
                if own_dir:
                    return result.localCheckpoint(eager=True)
                # unique per-run subpath: a rerun in the same work_dir
                # must not clobber a handle returned by an earlier run
                final_path = f"{base}/final_{uuid.uuid4().hex[:8]}"
                result.write.mode("overwrite").parquet(final_path)
                return spark.read.parquet(final_path)
    finally:
        sym.unpersist()
        if own_dir:
            shutil.rmtree(base, ignore_errors=True)
    raise RuntimeError(
        f"connected_components did not converge in {max_rounds} rounds"
    )


#: Union-find edges one contraction task absorbs comfortably: the
#: per-partition pass runs ~2-4 M edges/s of pure-Python find/union,
#: so 2 Mi edges ≈ 0.5-1 s — the same "working set sized to one
#: task's fair share" rule as the 128 MB byte split, expressed in the
#: unit this operator actually pays for.
EDGES_PER_TASK = 1 << 21


def _sized_start_partitions(*dfs: DataFrame) -> int:
    """Size the contraction ladder's level-0 partition count to the
    SOURCE volume feeding the edge plan, not to the local core count.

    The ladder's cost model (optimization r12, measured): each level
    is one mapInPandas pass whose latency floor is the JVM→Python
    round-trip per task, so a fixed ``defaultParallelism`` start
    (e.g. 32) pays a 3-level ladder (32 → 4 → 1 at fan_in=8) even
    when the whole dup graph is a few thousand edges — ~2.5 s of pure
    level/task overhead per CC call at fixture scale, multiplied
    across the seven dedup/cluster queries that compose this
    operator. Level 0 is ``ceil(source_bytes / 128 MB)`` — one
    source split ≈ one union-find task — floored at 1 and capped at
    ``defaultParallelism`` (the pre-r12 start, so the at-scale ladder
    is unchanged); source bytes come from the same file sizing as
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

    Versus :func:`connected_components`: label propagation pays
    O(log diameter) rounds × (one |E| shuffle + materialization)
    each; contraction pays O(log P) forest-sized passes total. The
    trade-off is that the final partition materializes the spanning
    forest of every duplicated vertex in one task — right whenever
    dup-cluster membership is a modest fraction of the corpus (LSH
    dedup at 100 TB: forest ≈ #near-dup docs × 16 B; 1 B dup docs ≈
    16 GB — one fat executor task, still bounded; beyond that, fall
    back to label propagation, which never concentrates state).

    Python union-find is the right tool here, not a UDF smell: the
    operation is inherently sequential-stateful per partition, α(n)
    per edge, and runs on the contracted (post-level-0) relation —
    Catalyst has no equivalent operator.

    Determinism: spanning stars depend only on partition contents
    (hash of ``src_col``), and the final exact pass replaces every
    root with the true component minimum, so the output is identical
    to :func:`connected_components` row-for-row.
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
    :func:`connected_components`)."""
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
