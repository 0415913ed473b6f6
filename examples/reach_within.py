"""Example custom app for `jobs/run_algo.py --algo custom --app ...`.

The engine's step_fn contract is the PIE/Pregel user surface
(python/graphscope/analytical/udf/decorators.py exposes the same two
phases as @pie/@pregel decorators in the reference; here the contract
is a plain callable — no codegen needed, Catalyst is the codegen):

  make(graph, spark, args) -> (init_state, step_fn)
    init_state : DataFrame          -- PEval input (vertex state)
    step_fn(state, round) -> (new_state, finalize)
      new_state : DataFrame         -- one superstep's declarative plan
      finalize  : engine.Observed   -- the Sum collective + vote-to-halt,
                                       computed by the state's own
                                       materialization (or a plain
                                       {"halt": bool, ...metrics} dict)

This app marks every vertex within --k hops of --source (frontier
BFS with an explicit hop budget):

  python jobs/run_algo.py custom --app examples/reach_within.py \
      --edges <parquet> --source 1 --k 3 --output /tmp/reach
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from linkgraph.engine import Observed


def make(graph, spark, args):
    # the graph's stored simple directed view, freed by graph.release()
    edges = graph.simple_directed()
    k = args.k
    init = graph.deduced_vertices().select(
        "id",
        F.when(F.col("id") == args.source, 0).otherwise(-1).cast("long").alias("hops"),
        (F.col("id") == args.source).alias("fr"),
    )  # handed over as built: the engine lays it out

    def step(state: DataFrame, round_: int):
        frontier = state.where(F.col("fr")).select(F.col("id").alias("src"))
        discovered = (
            edges.join(frontier.hint("SHUFFLE_HASH"), "src")
            .select(F.col("dst").alias("id")).distinct()
        )
        new_state = (
            state.join(discovered.withColumn("hit", F.lit(True)).hint("SHUFFLE_HASH"),
                       "id", "left")
            .select(
                "id",
                F.when((F.col("hops") < 0) & F.col("hit").isNotNull(),
                       F.lit(round_ + 1).cast("long"))
                .otherwise(F.col("hops")).alias("hops"),
                ((F.col("hops") < 0) & F.col("hit").isNotNull()).alias("fr"),
            )
        )

        def to_metrics(agg: dict) -> dict:
            fr = int(agg["frontier"] or 0)
            return {"halt": fr == 0 or round_ + 1 >= k, "frontier": fr}

        return new_state, Observed(
            exprs=[F.sum(F.col("fr").cast("long")).alias("frontier")], to_metrics=to_metrics)

    return init, step
