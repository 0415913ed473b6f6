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
both; level = superstep index. ``_relax`` is the package's only
min-relaxation: its state is the sparse pair frame (s, id, dist, pred)
seeded from a source set (ids that are not vertices seed nothing), so
the one-source functions here and the many-source path family of
``paths`` (multi_source_bfs / multi_source_sssp and what aggregates
them) are projections of the same run. It also records each pair's
predecessor (the winner of its last improving relaxation, as
apps/sssp/sssp_path.h does), so the trees — ``bfs_tree`` here and
``paths.sssp_path`` — read the same state.
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
    res = _relax(graph, graph.weight_col, [source], directed, engine, max_iter, resume)
    res.state = _every_vertex(graph, res.state, F.col("dist"), -1.0, "dist")
    return res


def _every_vertex(graph: Graph, pairs: DataFrame, value, unreached, name: str) -> DataFrame:
    """One (id, name) row per vertex of the cut: `value` of its pair
    in a one-source run, `unreached` where it has none."""
    return graph.materialized().vertices.join(pairs, "id", "left").select(
        "id", F.coalesce(value, F.lit(unreached)).alias(name))


def _seeds(g: Graph, sources) -> tuple[DataFrame, int]:
    """The requested source ids that are vertices of the cut `g`, as a
    one-column `s` frame, and a bound on their number. ``sources`` is a
    list of ids, a one-column DataFrame (stored here, so its plan runs
    once) or None for every vertex."""
    ids = g.vertices.select(F.col("id").alias("s"))
    if sources is None:
        return ids, g.num_vertices()
    if not isinstance(sources, DataFrame):
        wanted = {int(x) for x in sources}
        return ids.where(F.col("s").isin(*wanted)), len(wanted)
    asked = sources.select(F.col(sources.columns[0]).alias("s"))
    seeds = ids.join(asked, "s", "left_semi").localCheckpoint(eager=True)
    return seeds, seeds.count()


def _relax(
    graph: Graph,
    w: str | None,
    sources,
    directed: bool | None,
    engine: SuperstepEngine | None,
    max_iter: int,
    resume: bool = False,
    reverse: bool = False,
) -> SuperstepResult:
    """The min-relaxation fixpoint from every id in ``sources`` (see
    _seeds) over the cut of `graph`, weights from its column `w` (unit
    weights when None): the lightest of parallel edges, self-loops
    dropped; reverse=True follows a directed view's edges backwards.
    Returns state (s, id, dist, pred), one row per pair (source s,
    vertex id) the run reached; pred is s at the source, elsewhere the
    winner of the pair's last improving relaxation (the least
    (distance, predecessor) pair, so ties go to the smallest
    predecessor id)."""
    g = graph.materialized()
    eng = engine or SuperstepEngine(g.edges.sparkSession)
    symmetric = not (g.directed if directed is None else directed)
    reduce = "min" if w else "distinct"
    edges = g.edge_view(symmetric, reduce=reduce)
    n_edges = g.view_size(symmetric, reduce=reduce)
    # a reverse run scatters on the stored view's dst and groups on src
    near, far = ("dst", "src") if reverse and not symmetric else ("src", "dst")
    hop = F.col("w") if w else F.lit(1.0)
    seeds, n_seeds = _seeds(g, sources)
    bound = n_seeds * g.num_vertices()  # the pair frontier's largest size
    init = seeds.select("s", F.col("s").alias("id"), F.lit(0.0).alias("dist"),
                        F.col("s").alias("pred"), F.lit(True).alias("changed"))

    def step(state: DataFrame, round_: int):
        frontier = state.where(F.col("changed")).select(
            "s", F.col("id").alias(near), F.col("dist").alias("sd"))
        cand = scatter_join(edges, frontier, near, bound).select(
            "s", F.col(far).alias("id"), (F.col("sd") + hop).alias("d"), F.col(near).alias("p"))
        # the least (d, p) candidate of each pair, in hash aggregations:
        # a min over a (d, p) struct is sort-aggregated, 3x slower on 64
        # unit-weight sources
        if w:
            # the least p of each distance first, so min_by has no tie;
            # hashed on the pair once, both aggregations and the state
            # join need no further exchange
            cand = cand.repartition("s", "id").groupBy("s", "id", "d").agg(F.min("p").alias("p"))
            least_p = F.min_by("p", "d")
        else:
            least_p = F.min("p")  # the frontier is one BFS layer: one distance
        relax = cand.groupBy("s", "id").agg(F.min("d").alias("d"), least_p.alias("p"))
        better = F.coalesce(F.col("d"), F.lit(INF)) < F.coalesce(F.col("dist"), F.lit(INF))
        new_state = state_join(state, relax, ["s", "id"], "full").select(
            "s", "id",
            F.when(better, F.col("d")).otherwise(F.col("dist")).alias("dist"),
            F.when(better, F.col("p")).otherwise(F.col("pred")).alias("pred"),
            better.alias("changed"),
        )
        return new_state, observed_count("changed", n_edges)

    result = eng.run(init, step, max_rounds=max_iter, resume=resume)
    result.state = result.state.select("s", "id", "dist", "pred")
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
    res = _relax(graph, None, [source], directed, engine, max_iter)
    res.state = _every_vertex(graph, res.state, F.col("dist").cast("long"), -1, "level")
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
    res = _relax(graph, None, [source], directed, engine, 10_000)
    res.state = res.state.select(
        "id",
        F.when(F.col("id") != source, F.col("pred")).alias("parent"),
        F.col("dist").cast("long").alias("level"),
    )
    return res
