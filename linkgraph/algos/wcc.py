"""Weakly connected components — min-label propagation with a delta
frontier.

Semantics transcribed from the reference's in-repo implementation
analytical_engine/apps/projected/wcc_projected.h:70-182:
component label = MIN vertex id in the component; only vertices whose
label changed in the previous round ("curr_modified" frontier) push
their label to neighbors; terminate at the exact fixpoint.

Spark plan per superstep:
  frontier ⋈ edges(sym) on src → groupBy(dst).min(label) →
  left-join onto state → comp' = least(comp, candidate)
Only the frontier sends, in every round: the reference's dense mode
(flash_utils.h:36, api.h:359-390) also sends from vertices that did not
change, but such a vertex sent its label in the round it changed, and
labels only decrease, so those messages never lower anything.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from linkgraph.engine import SuperstepEngine, SuperstepResult, observed_count
from linkgraph.graph import Graph
from linkgraph.joins import scatter_join, state_join


def wcc(
    graph: Graph,
    engine: SuperstepEngine | None = None,
    max_iter: int = 1000,
    resume: bool = False,
) -> SuperstepResult:
    """Returns state (id: long, comp: long) with comp = min id of the
    weakly-connected component; exact convergence."""
    g = graph.materialized()
    spark = g.edges.sparkSession
    eng = engine or SuperstepEngine(spark)

    # undirected message graph: both directions, deduped, no self-loops
    edges = g.simple_undirected()
    n_edges = g.view_size(symmetric=True)
    n = g.num_vertices()
    # state: (id, comp, changed); init comp = id, everyone in frontier
    init = g.deduced_vertices().select("id", F.col("id").alias("comp"), F.lit(True).alias("changed"))

    def step(state: DataFrame, round_: int):
        frontier = state.where(F.col("changed"))
        msgs = (
            scatter_join(
                edges,
                frontier.select(F.col("id").alias("src"), F.col("comp").alias("cand")),
                "src",
                n,
            )
            .groupBy(F.col("dst").alias("id"))
            .agg(F.min("cand").alias("cand"))
        )
        new_state = (
            state_join(state, msgs)
            .select(
                "id",
                F.least(F.col("comp"), F.coalesce(F.col("cand"), F.col("comp"))).alias("comp"),
                (F.coalesce(F.col("cand"), F.col("comp")) < F.col("comp")).alias("changed"),
            )
        )

        return new_state, observed_count("changed", n_edges)

    result = eng.run(init, step, max_rounds=max_iter, resume=resume)
    result.state = result.state.select("id", "comp")
    return result
