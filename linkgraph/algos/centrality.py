"""Eigenvector and Katz centrality — power-iteration superstep jobs.

Semantics per the reference's networkx-compatible apps
(analytical_engine/apps/centrality/eigenvector/eigenvector_centrality.h,
apps/centrality/katz/katz_centrality.h; registry .gs_conf.yaml:138-149),
which mirror networkx:

  eigenvector:  x_k = L2normalize( x_{k-1} + Aᵀ x_{k-1} )
                stop when Σ|x_k − x_{k-1}| < N·tol
  katz:         x_k = alpha · Aᵀ x_{k-1} + beta
                stop when Σ|x_k − x_{k-1}| < N·tol; final L2 normalize

(Aᵀ x: contributions flow along edge direction u→v.) Like HITS, the
eigenvector job keeps RAW sums in the state and carries the L2 norm
driver-side into the next round's plan — one plan execution per
superstep."""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from linkgraph.engine import Observed, SuperstepEngine, SuperstepResult
from linkgraph.graph import Graph
from linkgraph.joins import scatter_join, state_join


def eigenvector_centrality(
    graph: Graph,
    max_iter: int = 100,
    tol: float = 1e-6,
    engine: SuperstepEngine | None = None,
) -> SuperstepResult:
    """Returns state (id: long, centrality: double), L2-normalized."""
    g = graph.materialized()
    spark = g.edges.sparkSession
    eng = engine or SuperstepEngine(spark)
    # distinct pairs with self-loops, symmetrised on an undirected graph
    edges = g.edge_view(symmetric=not g.directed, loops=True)
    n_edges = g.view_size(symmetric=not g.directed, loops=True)
    verts = g.deduced_vertices()
    n = g.num_vertices()
    if n == 0:
        return SuperstepResult(
            state=verts.select("id", F.lit(0.0).alias("centrality")),
            rounds=0, converged=True,
        )

    init = verts.select("id", F.lit(1.0 / n).alias("x"))
    norm: dict[str, float] = {"v": 1.0}

    def step(state: DataFrame, round_: int):
        state = state.drop("prev")
        s = norm["v"] if norm["v"] > 0 else 1.0
        prev = state.select("id", (F.col("x") / F.lit(s)).alias("xn"))
        msgs = (
            scatter_join(edges, prev.withColumnRenamed("id", "src"), "src", n)
            .groupBy(F.col("dst").alias("id"))
            .agg(F.sum("xn").alias("m"))
        )
        new_state = (
            state_join(prev, msgs)
            .select(
                "id",
                (F.col("xn") + F.coalesce("m", F.lit(0.0))).alias("x"),
                F.col("xn").alias("prev"),
            )
        )

        def to_metrics(g1: dict) -> dict:
            # norm + inner product against the previous (already unit)
            # vector → exactly-one-pass L2 delta
            # ‖x̂−x̂_prev‖₂ = √(2−2·⟨x,x̂_prev⟩/‖x‖), observed during the
            # truncation action; the numpy oracle applies the identical
            # rule (see hits.py docstring)
            s_new = g1["s"] or 1.0
            s_new = s_new if s_new > 0 else 1.0
            norm["v"] = s_new
            eps = max(0.0, 2.0 - 2.0 * (g1["ip"] or 0.0) / s_new) ** 0.5
            return {"halt": eps < n * tol, "l2_delta": eps, "edges_processed": n_edges}

        return new_state, Observed(
            exprs=[
                F.sqrt(F.sum(F.col("x") * F.col("x"))).alias("s"),
                F.sum(F.col("x") * F.col("prev")).alias("ip"),
            ],
            to_metrics=to_metrics,
        )

    result = eng.run(init, step, max_rounds=max_iter)
    s = norm["v"] if norm["v"] else 1.0
    result.state = result.state.select(
        "id", (F.col("x") / F.lit(s if s > 0 else 1.0)).alias("centrality")
    )
    return result


def katz_centrality(
    graph: Graph,
    alpha: float = 0.1,
    beta: float = 1.0,
    max_iter: int = 1000,
    tol: float = 1e-6,
    engine: SuperstepEngine | None = None,
) -> SuperstepResult:
    """Returns state (id: long, centrality: double), L2-normalized at
    the end (per-round values are the raw Katz series)."""
    g = graph.materialized()
    spark = g.edges.sparkSession
    eng = engine or SuperstepEngine(spark)
    # distinct pairs with self-loops, symmetrised on an undirected graph
    edges = g.edge_view(symmetric=not g.directed, loops=True)
    n_edges = g.view_size(symmetric=not g.directed, loops=True)
    verts = g.deduced_vertices()
    n = g.num_vertices()
    if n == 0:
        return SuperstepResult(
            state=verts.select("id", F.lit(0.0).alias("centrality")),
            rounds=0, converged=True,
        )

    init = verts.select("id", F.lit(beta).alias("x"))

    def step(state: DataFrame, round_: int):
        state = state.drop("prev")
        msgs = (
            scatter_join(edges, state.select(F.col("id").alias("src"), "x"), "src", n)
            .groupBy(F.col("dst").alias("id"))
            .agg(F.sum("x").alias("m"))
        )
        new_state = (
            state_join(state, msgs)
            .select(
                "id",
                (F.lit(alpha) * F.coalesce("m", F.lit(0.0)) + F.lit(beta)).alias("x"),
                F.col("x").alias("prev"),
            )
        )

        def to_metrics(g1: dict) -> dict:
            eps = g1["e"] or 0.0
            return {"halt": eps < n * tol, "l1_delta": eps, "edges_processed": n_edges}

        return new_state, Observed(
            exprs=[F.sum(F.abs(F.col("x") - F.col("prev"))).alias("e")],
            to_metrics=to_metrics,
        )

    result = eng.run(init, step, max_rounds=max_iter)
    raw = result.state.select("id", "x")
    s = raw.agg(F.sqrt(F.sum(F.col("x") * F.col("x"))).alias("s")).collect()[0]["s"] or 1.0
    result.state = raw.select("id", (F.col("x") / F.lit(s if s > 0 else 1.0)).alias("centrality"))
    return result
