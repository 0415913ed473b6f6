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
pattern). BFS is SSSP with unit weights, so one relaxation serves
both; level = superstep index. The relaxation also records each
vertex's predecessor (the winner of its last improving relaxation, as
apps/sssp/sssp_path.h does), so the trees — ``bfs_tree`` here and
``paths.sssp_path`` — are projections of the same run.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from linkgraph.engine import SuperstepEngine, SuperstepResult, observed_count
from linkgraph.graph import Graph, weight_projected
from linkgraph.joins import scatter_join, state_join


INF = float("inf")


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
    res = _relax(graph, graph.weight_col, source, engine, max_iter, directed, resume)
    res.state = res.state.select(
        "id", F.when(F.col("dist") == INF, F.lit(-1.0)).otherwise(F.col("dist")).alias("dist"))
    return res


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
    edges, self-loops dropped. Returns state (id, dist, pred) with
    dist = inf where unreached; pred is the source at the source, the
    winner of the vertex's last improving relaxation elsewhere (the
    least (distance, predecessor) pair, so ties go to the smallest
    predecessor id) and NULL where unreached."""
    g = graph.materialized()
    spark = g.edges.sparkSession
    eng = engine or SuperstepEngine(spark)
    symmetric = not (g.directed if directed is None else directed)
    reduce = "min" if w else "distinct"
    edges = g.edge_view(symmetric, reduce=reduce)
    if not w:
        edges = edges.withColumn("w", F.lit(1.0))
    n_edges = g.view_size(symmetric, reduce=reduce)
    n_verts = g.num_vertices()
    is_source = F.col("id") == source
    init = g.deduced_vertices().select(
        "id",
        F.when(is_source, F.lit(0.0)).otherwise(F.lit(INF)).alias("dist"),
        F.when(is_source, F.col("id")).alias("pred"),
        is_source.alias("changed"),
    )

    def step(state: DataFrame, round_: int):
        frontier = state.where(F.col("changed")).select(
            F.col("id").alias("src"), F.col("dist").alias("sd")
        )
        relax = (
            scatter_join(edges, frontier, "src", n_verts)
            .groupBy(F.col("dst").alias("id"))
            .agg(F.min(F.struct((F.col("sd") + F.col("w")).alias("d"),
                                F.col("src").alias("p"))).alias("m"))
        )
        better = F.coalesce(F.col("m.d"), F.lit(INF)) < F.col("dist")
        new_state = state_join(state, relax).select(
            "id",
            F.when(better, F.col("m.d")).otherwise(F.col("dist")).alias("dist"),
            F.when(better, F.col("m.p")).otherwise(F.col("pred")).alias("pred"),
            better.alias("changed"),
        )
        return new_state, observed_count("changed", n_edges)

    result = eng.run(init, step, max_rounds=max_iter, resume=resume)
    result.state = result.state.select("id", "dist", "pred")
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
    res.state = res.state.select(
        "id", F.when(F.col("dist") == INF, F.lit(-1)).otherwise(F.col("dist"))
        .cast("long").alias("level"))
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
    row has parent = NULL.

    The tree is the unit-weight relaxation's own predecessor column:
    the round-r frontier is exactly the level-r vertices, so a vertex's
    winning relaxation comes from its MINIMUM level-(L-1) in-neighbor.
    The reference keeps whichever predecessor message arrived first
    (MPI-nondeterministic); the min makes the tree deterministic and
    oracle-checkable.
    """
    res = _relax(graph, None, source, engine, 10_000, directed, False)
    res.state = res.state.where(F.col("dist") < INF).select(
        "id",
        F.when(F.col("id") != source, F.col("pred")).alias("parent"),
        F.col("dist").cast("long").alias("level"),
    )
    return res
