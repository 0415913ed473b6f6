"""CDLP — community detection by label propagation (LDBC semantics).

Semantics per the reference: python/graphscope/analytical/app/lpa.py:29-54
(`lpa(graph, max_round=10)`, alias cdlp at lpa.py:86) and the Flash
variant apps/flash/clustering/lpa.h:47-77 — init label[v] = v;
synchronous rounds; each vertex adopts the MOST FREQUENT label among
its neighbors with ties broken by MINIMUM label; stop after max_round
rounds or when no label changes. Isolated vertices keep their own
label. Undirected view (both edge directions, DEDUPED — a u↔v pair
counts each neighbor's label once; the numpy oracle and the DuckDB
gate oracle encode the same interpretation).

Spark plan per superstep — two aggregations, no window function:
  edges ⋈ state on src  →  groupBy(dst, label).count()   (histogram)
  →  groupBy(dst).max(struct(cnt, -label))                (argmax)
The struct-max encodes "max count, then min label" deterministically —
never a nondeterministic first() (SURVEY.md §7.3 tie-break risk).
Both aggregations get map-side partial aggregation for free.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from linkgraph.engine import Observed, SuperstepEngine, SuperstepResult
from linkgraph.graph import Graph
from linkgraph.joins import scatter_join, state_join


def cdlp(
    graph: Graph,
    max_round: int = 10,
    engine: SuperstepEngine | None = None,
    resume: bool = False,
) -> SuperstepResult:
    """Returns state (id: long, label: long).

    resume=True continues from the engine's latest durable checkpoint."""
    g = graph.materialized()
    spark = g.edges.sparkSession
    eng = engine or SuperstepEngine(spark)

    # the view is symmetric, so scattering each label along src -> dst
    # and grouping by dst counts every neighbour's label once
    edges = g.simple_undirected()
    n_edges = g.view_size(symmetric=True)
    n_verts = g.num_vertices()

    init = g.deduced_vertices().select("id", F.col("id").alias("label"))

    def step(state: DataFrame, round_: int):
        hist = (
            scatter_join(edges, state.select(F.col("id").alias("src"), "label"), "src", n_verts)
            .groupBy(F.col("dst").alias("id"), "label")
            .agg(F.count("*").alias("cnt"))
        )
        best = (
            hist.groupBy("id")
            .agg(F.max(F.struct(F.col("cnt"), (-F.col("label")).alias("neg"))).alias("b"))
            .select("id", (-F.col("b.neg")).alias("new_label"))
        )
        new_state = (
            state_join(state, best)
            .select(
                "id",
                F.coalesce("new_label", "label").alias("label"),
                (F.coalesce("new_label", "label") != F.col("label")).alias("_chg"),
            )
        )

        def to_metrics(agg: dict) -> dict:
            changed = int(agg["c"] or 0)
            return {
                "halt": changed == 0,
                "changed": changed,
                "edges_processed": n_edges,
            }

        # changed-count rides the truncation action (engine.Observed)
        return new_state, Observed(
            exprs=[F.sum(F.col("_chg").cast("long")).alias("c")],
            to_metrics=to_metrics,
        )

    result = eng.run(init, step, max_rounds=max_round, resume=resume)
    result.state = result.state.select("id", "label")
    return result
