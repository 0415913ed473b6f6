"""HITS hubs & authorities.

Semantics per analytical_engine/apps/hits/hits.h (gs::HITS, registry
.gs_conf.yaml:123-130): alternating power iteration on the directed
graph, L2 normalization of both vectors every round (the Sum
collectives at hits.h:163-178), stopping when the summed L1 change of
hub+auth falls below `tol` or after max_iter rounds. Init hub=auth=1.

Execution shape: the per-round state carries the RAW (unnormalized)
gather sums; the normalization constants are driver-side scalars
computed in finalize() on the materialized state and folded into the
NEXT round's plan as literals. That keeps each superstep a single
plan execution — no mid-plan collect, no extra persist (the same
trick as PageRank's carried dangling mass).

Convergence metric: the reference stops on the L1 change of both
vectors (hits.h:163-178). An L1 of the *normalized* values cannot be
computed in the same aggregate pass that produces the norms, so this
implementation stops on the exactly-one-pass L2 form instead:
‖x̂−x̂_prev‖₂ = √(2−2·⟨x_raw,x̂_prev⟩/‖x_raw‖) per vector (both unit
vectors, so the inner product is all that's needed). Same fixed
point, one combined aggregate + one collect per superstep; the numpy
oracle (linkgraph/oracle.py) applies the identical rule."""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from linkgraph.engine import Observed, SuperstepEngine, SuperstepResult
from linkgraph.graph import Graph
from linkgraph.joins import scatter_join, state_join


def hits(
    graph: Graph,
    max_iter: int = 100,
    tol: float = 1e-8,
    engine: SuperstepEngine | None = None,
) -> SuperstepResult:
    """Returns state (id: long, hub: double, auth: double), both
    L2-normalized."""
    g = graph.materialized()
    spark = g.edges.sparkSession
    eng = engine or SuperstepEngine(spark)

    # the stored directions as distinct pairs, self-loops kept
    edges = g.edge_view(symmetric=False, loops=True)
    n_edges = g.view_size(symmetric=False, loops=True)
    verts = g.deduced_vertices()
    n = g.num_vertices()
    if n == 0:
        return SuperstepResult(
            state=verts.select("id", F.lit(0.0).alias("hub"), F.lit(0.0).alias("auth")),
            rounds=0, converged=True,
        )

    # raw state: (id, ra, rh, prev_hub, prev_auth); true hub = rh/nh,
    # true auth = ra/na with the norms kept driver-side
    init = verts.select(
        "id",
        F.lit(1.0).alias("ra"),
        F.lit(1.0).alias("rh"),
        F.lit(1.0).alias("prev_hub"),
        F.lit(1.0).alias("prev_auth"),
    )
    norms: dict[str, float] = {"na": 1.0, "nh": 1.0}

    def step(state: DataFrame, round_: int):
        na_p = norms["na"] if norms["na"] > 0 else 1.0
        nh_p = norms["nh"] if norms["nh"] > 0 else 1.0

        hub_prev = state.select(
            "id", (F.col("rh") / F.lit(nh_p)).alias("hub")
        )
        # auth_raw[v] = Σ_{u→v} hub[u]
        ra = (
            scatter_join(edges, hub_prev.withColumnRenamed("id", "src"), "src", n)
            .groupBy(F.col("dst").alias("id"))
            .agg(F.sum("hub").alias("ra_new"))
        )
        with_ra = state_join(
            state.select(
                "id",
                (F.col("rh") / F.lit(nh_p)).alias("prev_hub"),
                (F.col("ra") / F.lit(na_p)).alias("prev_auth"),
            ),
            ra,
        ).withColumn("ra_new", F.coalesce("ra_new", F.lit(0.0)))
        # hub_raw[u] = Σ_{u→v} auth_raw[v] (norms factor out)
        rh = (
            scatter_join(
                edges, with_ra.select(F.col("id").alias("dst"), F.col("ra_new")), "dst", n
            )
            .groupBy(F.col("src").alias("id"))
            .agg(F.sum("ra_new").alias("rh_new"))
        )
        new_state = (
            state_join(with_ra, rh)
            .select(
                "id",
                F.col("ra_new").alias("ra"),
                F.coalesce("rh_new", F.lit(0.0)).alias("rh"),
                "prev_hub",
                "prev_auth",
            )
        )

        def to_metrics(g1: dict) -> dict:
            # both L2 norms + both inner products against the previous
            # normalized vectors — the Sum collectives of
            # hits.h:163-178 — observed during the truncation action
            na = g1["na"] or 1.0
            nh = g1["nh"] or 1.0
            na = na if na > 0 else 1.0
            nh = nh if nh > 0 else 1.0
            norms["na"], norms["nh"] = na, nh
            d_auth = max(0.0, 2.0 - 2.0 * (g1["ipa"] or 0.0) / na) ** 0.5
            d_hub = max(0.0, 2.0 - 2.0 * (g1["iph"] or 0.0) / nh) ** 0.5
            eps = d_auth + d_hub
            return {
                "halt": eps < tol,
                "l2_delta": eps,
                "edges_processed": n_edges,
            }

        return new_state, Observed(
            exprs=[
                F.sqrt(F.sum(F.col("ra") * F.col("ra"))).alias("na"),
                F.sqrt(F.sum(F.col("rh") * F.col("rh"))).alias("nh"),
                F.sum(F.col("ra") * F.col("prev_auth")).alias("ipa"),
                F.sum(F.col("rh") * F.col("prev_hub")).alias("iph"),
            ],
            to_metrics=to_metrics,
        )

    result = eng.run(init, step, max_rounds=max_iter)
    na = norms["na"] if norms["na"] else 1.0
    nh = norms["nh"] if norms["nh"] else 1.0
    result.state = result.state.select(
        "id",
        (F.col("rh") / F.lit(nh if nh > 0 else 1.0)).alias("hub"),
        (F.col("ra") / F.lit(na if na > 0 else 1.0)).alias("auth"),
    )
    return result
