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
with the reference's dense/sparse frontier switch
(flash_utils.h:36 THRESHOLD = |V|/50; api.h:359-390 EdgeMapDense vs
Sparse): when the frontier is large we join the full state frame
(dense — lets Spark use the big co-partitioned join), when small we
join only the frontier rows (sparse — broadcastable).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from linkgraph.engine import Observed, SuperstepEngine, SuperstepResult
from linkgraph.graph import Graph
from linkgraph.joins import scatter_join, state_join

DENSE_SPARSE_RATIO = 50  # |frontier| > |V|/50 -> dense (flash_utils.h:36)


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
    P = int(spark.conf.get("spark.sql.shuffle.partitions"))

    # undirected message graph: both directions, deduped, no self-loops
    edges = g.simple_undirected()
    n_edges = edges.count()

    verts = g.deduced_vertices()
    n = verts.count()
    # state: (id, comp, changed); init comp = id, everyone in frontier
    init = verts.select("id", F.col("id").alias("comp"), F.lit(True).alias("changed")).repartition(P, "id")
    # lazily recomputed from state so a resumed run rebuilds the
    # frontier size from the checkpointed `changed` column
    frontier_size: dict[str, int | None] = {"n": None}

    def step(state: DataFrame, round_: int):
        if frontier_size["n"] is None:
            frontier_size["n"] = int(
                state.agg(F.sum(F.col("changed").cast("long")).alias("c")).collect()[0]["c"] or 0
            )
        dense = frontier_size["n"] * DENSE_SPARSE_RATIO > n
        senders = state if dense else state.where(F.col("changed"))
        msgs = (
            scatter_join(
                edges,
                senders.select(F.col("id").alias("src"), F.col("comp").alias("cand")),
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

        def to_metrics(agg: dict) -> dict:
            changed = int(agg["c"] or 0)
            frontier_size["n"] = changed
            return {
                "halt": changed == 0,
                "frontier": changed,
                "mode": "dense" if dense else "sparse",
                "edges_processed": n_edges,
            }

        # frontier count rides the truncation action (engine.Observed)
        return new_state, Observed(
            exprs=[F.sum(F.col("changed").cast("long")).alias("c")],
            to_metrics=to_metrics,
        )

    result = eng.run(init, step, max_rounds=max_iter, resume=resume)
    result.state = result.state.select("id", "comp")
    return result
