"""k-core and k-shell decomposition.

Semantics per analytical_engine/apps/kcore/kcore.h (iterative
degree-prune: repeatedly delete vertices with degree < k on the
undirected simple graph; survivors form the k-core) and
apps/kshell/kshell.h (shell index = largest k whose k-core contains
the vertex).

The prune loop is the peel wave of ``ordering`` (the PUSH-DECREMENT
wave of flash/core/k-core-search.h:48-64): each round removes every
remaining vertex whose residual degree dropped below k, and each
removed vertex sends one decrement along each of its edges, so a
round scatters only the wave's incident edges, not the remaining
edge set."""

from __future__ import annotations

from pyspark.sql import functions as F

from linkgraph.algos.ordering import _degree_waves
from linkgraph.engine import Observed, SuperstepEngine, SuperstepResult, observed_count
from linkgraph.graph import Graph
from linkgraph.joins import scatter_join, state_join


def kcore(
    graph: Graph,
    k: int,
    engine: SuperstepEngine | None = None,
    max_iter: int = 10_000,
) -> SuperstepResult:
    """Returns state (id: long, in_core: boolean) — membership of the
    k-core (vertices with no incident edge are never in a k≥1 core).
    Each metrics row counts the round's wave (``removed``) and the
    vertices left (``active``); the last ``active`` is the k-core size
    (k-core-search.h's GlobalRes). The run halts on the first wave that
    removes nothing or leaves nothing."""
    result = _degree_waves(graph, F.lit(k - 1), "wave", engine, max_iter)
    result.state = result.state.select("id", (F.col("wave") < 0).alias("in_core"))
    return result


def kshell(
    graph: Graph,
    engine: "SuperstepEngine | None" = None,
    max_iter: int = 10_000,
):
    """Shell (core) number per vertex: (id: long, shell: long) — the
    largest k such that the vertex is in the k-core. Returns a
    SuperstepResult whose state is that frame.

    Algorithm: iterated H-index fixpoint (Lu/Chen/Zhou/Stanley 2016):
    h_0(v) = deg(v); h_{t+1}(v) = H-index of the neighbors' h_t values
    (the largest k with >= k neighbors whose h >= k); the fixpoint is
    exactly the core number — the same output as the reference's
    incremental peel (apps/kshell/kshell.h:45-135) but in O(rounds)
    synchronized supersteps instead of O(max_core * depth) sequential
    removal waves, which is the form that survives on Spark (each
    round = one join + one histogram + one running-sum window over the
    per-vertex DISTINCT h values — bounded by sqrt(2|E|) per vertex,
    far below raw degree, so the window carries no hub-row skew).
    """
    from pyspark.sql.window import Window

    g = graph.materialized()
    spark = g.edges.sparkSession
    eng = engine or SuperstepEngine(spark)
    edges = g.simple_undirected()
    n_edges = g.view_size(symmetric=True)
    init = g.degrees(symmetric=True).select("id", F.col("degree").alias("h"))
    n_verts = g.num_vertices()

    # H-index values are monotone non-increasing and h(v) can only move
    # when some neighbor's h moved, so late rounds (the long tail of the
    # 30-40 round fixpoint) need to recompute only vertices with a
    # changed neighbor. The sparse form pays two extra joins to find
    # them, so it runs only once fewer than V/50 vertices changed in the
    # previous round; that count reaches the step via the Observed
    # finalize closure (driver-side, no extra job).
    box: dict = {"changed": None}

    def step(state, round_):
        chg = box["changed"]
        sparse = chg is not None and chg < max(1, n_verts // 50)
        prev = state.drop("_chg")
        if sparse:
            # moved and affected hold each id once: the inner scatters
            # keep the edge rows a semi-join would
            moved = state.where(F.col("_chg")).select(F.col("id").alias("dst"))
            affected = scatter_join(edges, moved, "dst", n_verts).select("src").distinct()
            sub = scatter_join(edges, affected, "src", n_verts)
        else:
            sub = edges
        nbrh = scatter_join(
            sub, prev.select(F.col("id").alias("dst"), "h"), "dst", n_verts
        ).select(F.col("src").alias("id"), "h")
        hist = nbrh.groupBy("id", "h").agg(F.count("*").alias("c"))
        w = (
            Window.partitionBy("id")
            .orderBy(F.col("h").desc())
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        hn = (
            hist.withColumn("cum", F.sum("c").over(w))
            .groupBy("id")
            .agg(F.max(F.least(F.col("h"), F.col("cum"))).alias("hn"))
        )
        # missing hn = isolated (dense, h already 0) or unaffected
        # (sparse) — keep the old value in both cases
        new_state = (
            state_join(prev, hn)
            .select(
                "id",
                F.coalesce("hn", F.col("h")).cast("long").alias("h"),
                (F.coalesce("hn", F.col("h")) != F.col("h")).alias("_chg"),
            )
        )

        base = observed_count(
            "_chg", n_edges, key="changed", extra={"sparse": sparse}
        )

        def to_metrics(agg, _inner=base.to_metrics):
            m = _inner(agg)
            box["changed"] = m["changed"]
            return m

        return new_state, Observed(exprs=base.exprs, to_metrics=to_metrics)

    result = eng.run(init, step, max_rounds=max_iter)
    result.state = result.state.select("id", F.col("h").alias("shell"))
    return result
