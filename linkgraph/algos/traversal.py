"""Traversal algorithms: BFS levels and SSSP (Bellman-Ford style
min-dist fixpoint) — frontier-based superstep jobs.

Semantics: grape::BFSOpt / grape::SSSPOpt as registered in
coordinator/gscoordinator/builtin/app/.gs_conf.yaml:34-49 and the
nx-compatible bfs_generic / sssp_projected apps
(analytical_engine/apps/bfs/bfs_generic.h,
apps/projected/sssp_projected.h): per-vertex distance from a single
source; unreached vertices get a sentinel (-1 here).

Both are delta-frontier jobs: only vertices whose distance improved
last round relax their out-edges (wcc_projected.h's curr_modified
pattern). BFS is SSSP with unit weights, so one implementation serves
both; level = superstep index.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from linkgraph.engine import SuperstepEngine, SuperstepResult, observed_count
from linkgraph.graph import Graph, weight_projected
from linkgraph.joins import scatter_join, state_join


@weight_projected
def sssp(
    graph: Graph,
    source: int,
    weight_col: str | None = None,
    engine: SuperstepEngine | None = None,
    max_iter: int = 10_000,
    directed: bool | None = None,
    resume: bool = False,
) -> SuperstepResult:
    """Returns state (id: long, dist: double); unreached = -1.0.

    weight_col=None reads the graph's own weight column; a graph
    without one has unit weights (= BFS levels as doubles).
    resume=True continues from the engine's latest durable checkpoint.
    """
    return _relax(graph, graph.weight_col, source, engine, max_iter, directed, resume)


def _relax(
    graph: Graph,
    w: str | None,
    source: int,
    engine: SuperstepEngine | None,
    max_iter: int,
    directed: bool | None,
    resume: bool,
) -> SuperstepResult:
    """The sssp fixpoint over the cut of `graph`, weights from its
    column `w` (unit weights when None): the lightest of parallel
    edges, self-loops dropped."""
    g = graph.materialized()
    spark = g.edges.sparkSession
    eng = engine or SuperstepEngine(spark)
    P = int(spark.conf.get("spark.sql.shuffle.partitions"))
    symmetric = not (g.directed if directed is None else directed)
    edges = (g.edge_view(symmetric, reduce="min") if w
             else g.edge_view(symmetric).withColumn("w", F.lit(1.0)))
    n_edges = edges.count()

    verts = g.deduced_vertices()
    n_verts = verts.count()
    INF = float("inf")
    init = verts.select(
        "id",
        F.when(F.col("id") == source, F.lit(0.0)).otherwise(F.lit(INF)).alias("dist"),
        (F.col("id") == source).alias("changed"),
    ).repartition(P, "id")

    def step(state: DataFrame, round_: int):
        frontier = state.where(F.col("changed")).select(
            F.col("id").alias("src"), F.col("dist").alias("sd")
        )
        relax = (
            scatter_join(edges, frontier, "src", n_verts)
            .groupBy(F.col("dst").alias("id"))
            .agg(F.min(F.col("sd") + F.col("w")).alias("cand"))
        )
        new_state = (
            state_join(state, relax)
            .select(
                "id",
                F.least(F.col("dist"), F.coalesce("cand", F.col("dist"))).alias("dist"),
                (F.coalesce("cand", F.lit(INF)) < F.col("dist")).alias("changed"),
            )
        )
        return new_state, observed_count("changed", n_edges)

    result = eng.run(init, step, max_rounds=max_iter, resume=resume)
    result.state = result.state.select(
        "id", F.when(F.col("dist") == INF, F.lit(-1.0)).otherwise(F.col("dist")).alias("dist")
    )
    return result


def bfs(
    graph: Graph,
    source: int,
    engine: SuperstepEngine | None = None,
    max_iter: int = 10_000,
    directed: bool | None = None,
) -> SuperstepResult:
    """BFS levels from source: (id: long, level: long); unreached = -1.

    Unit weights are forced on the graph's own cut: sssp's
    weight_col=None falls back to the graph's weight column, which
    would silently turn BFS levels into weighted distances.
    """
    res = _relax(graph, None, source, engine, max_iter, directed, False)
    res.state = res.state.select("id", F.col("dist").cast("long").alias("level"))
    return res


def bfs_tree(
    graph: Graph,
    source: int,
    engine: SuperstepEngine | None = None,
    directed: bool | None = None,
) -> SuperstepResult:
    """BFS tree from ``source`` — the "predecessors"/"edges" output
    modes of apps/bfs/bfs_generic.h:125-155 (which emit (vertex,
    predecessor) pairs over the BFS tree). Returns state (id: long,
    parent: long, level: long) for every REACHED vertex; the source
    row has parent = NULL. The reference keeps whichever predecessor
    message arrived first (MPI-nondeterministic); here the MINIMUM
    level-(L-1) in-neighbor wins, making the tree deterministic and
    oracle-checkable.

    No extra iteration: the tree is one post-pass join over the
    converged level frame (edges ⋈ levels on both endpoints, keep
    level(src)+1 == level(dst), min(src) per dst).
    """
    res = bfs(graph, source, engine=engine, directed=directed)
    use_directed = graph.directed if directed is None else directed
    # the undirected view always symmetrizes: an undirected graph may
    # store one direction per pair, and levels reached via the
    # unstored direction would otherwise get parent = NULL.
    e = graph.simple_directed() if use_directed else graph.simple_undirected()

    # res.state is already engine-materialized (localCheckpoint), so
    # the three reads below rescan a cached frame — no extra persist
    levels = res.state.where(F.col("level") >= 0)
    lv_src = levels.select(F.col("id").alias("src"), F.col("level").alias("ls"))
    lv_dst = levels.select(F.col("id").alias("dst"), F.col("level").alias("ld"))
    parents = (
        e.join(lv_src.hint("SHUFFLE_HASH"), "src")
        .join(lv_dst.hint("SHUFFLE_HASH"), "dst")
        .where(F.col("ls") + 1 == F.col("ld"))
        .groupBy(F.col("dst").alias("id"))
        .agg(F.min("src").alias("parent"))
    )
    tree = (
        levels.join(parents.hint("SHUFFLE_HASH"), "id", "left")
        .select("id", "parent", "level")
    )
    res.state = tree
    return res
