"""Minimum spanning forest — distributed Borůvka.

Transcribed SEMANTICS (not code) from the reference flash app
analytical_engine/apps/flash/measurement/msf.h:46-63 (and its
msf-block.h variant): the reference runs a local Kruskal per fragment
and merges the per-fragment MSTs pairwise through a Reduce tree —
a strategy that assumes each fragment's edge list fits one machine.
Here the classic Borůvka formulation does the same job as a bounded
round loop of keyed joins (the textbook MSF algorithm for
data-parallel engines):

  per round, every component picks its globally minimum outgoing
  edge (deterministic tie-break on (weight, min endpoint, max
  endpoint)); the picked edges merge components (pointer-jumping on
  the hook forest resolves the new labels in O(log) iterations);
  repeat until no cross-component edges remain. Each round at least
  halves the component count → ≤ log2(V) rounds.

The MSF edge SET depends on the tie-break (deterministic here), but
the total WEIGHT is unique for any tie-break — and equals
Σ_{k=0}^{W-1} (C_k − C) where C_k = #components of the subgraph with
edge weight ≤ k and C = #components overall (Kruskal's invariant:
exactly C_k − C MSF edges have weight > k). The DuckDB oracle checks
the weight through that identity, fully independent of Borůvka.

Returns state = the chosen forest edges (src, dst, weight), src<dst.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from linkgraph.engine import SuperstepEngine, SuperstepResult
from linkgraph.graph import Graph, weight_projected


@weight_projected
def msf(
    graph: Graph,
    weight_col: str | None = None,
    engine: SuperstepEngine | None = None,
    max_rounds: int = 100,
) -> SuperstepResult:
    g = graph.materialized()
    spark = g.edges.sparkSession
    P = int(spark.conf.get("spark.sql.shuffle.partitions"))
    # one (src < dst) row per undirected pair, the lightest parallel edge
    edges = g.edge_view(symmetric=True, reduce="min").where(F.col("src") < F.col("dst"))

    verts = g.deduced_vertices()
    comp = verts.select("id", F.col("id").alias("c")) \
                .repartition(P, "id").localCheckpoint(eager=True)
    forest_frames: list[DataFrame] = []
    rounds = 0
    metrics: list[dict] = []
    converged = False  # set once no cross-component edge is left

    while rounds < max_rounds:
        rounds += 1
        cs = comp.select(F.col("id").alias("src"), F.col("c").alias("cs"))
        cd = comp.select(F.col("id").alias("dst"), F.col("c").alias("cd"))
        lab = (
            edges.join(cs.hint("SHUFFLE_HASH"), "src")
            .join(cd.hint("SHUFFLE_HASH"), "dst")
            .where(F.col("cs") != F.col("cd"))
        )
        # min outgoing edge per component, from BOTH sides, with the
        # deterministic (w, src, dst) tie-break
        pick = F.struct("w", "src", "dst").alias("e")
        best = (
            lab.select(F.col("cs").alias("c"), pick)
            .unionByName(lab.select(F.col("cd").alias("c"), pick))
            .groupBy("c")
            .agg(F.min("e").alias("e"))
            .localCheckpoint(eager=True)
        )
        if best.limit(1).count() == 0:
            rounds -= 1
            converged = True
            break
        picked = best.select(F.col("e.w").alias("w"), F.col("e.src").alias("src"),
                             F.col("e.dst").alias("dst")) \
                     .dropDuplicates(["src", "dst"]).localCheckpoint(eager=True)
        forest_frames.append(picked)

        # hook forest over component labels: c -> partner component of
        # its picked edge; symmetric pairs collapse to the min label,
        # then pointer jumping resolves chains in O(log) iterations
        pe = picked.select("src", "dst")
        pcs = comp.select(F.col("id").alias("src"), F.col("c").alias("hcs"))
        pcd = comp.select(F.col("id").alias("dst"), F.col("c").alias("hcd"))
        hooks = (
            pe.join(pcs.hint("SHUFFLE_HASH"), "src").join(pcd.hint("SHUFFLE_HASH"), "dst")
            .select(F.col("hcs").alias("a"), F.col("hcd").alias("b"))
        )
        # the hook graph is tiny (≤ one node per component) but its
        # chains can be long — resolve new labels with the existing
        # delta-frontier min-label wcc rather than naive pointer
        # jumping on a static hook function (which leaves chain tails
        # unmerged)
        from linkgraph.algos.wcc import wcc as _wcc

        hook_graph = Graph.from_edges(
            hooks.select(F.col("a").alias("src"), F.col("b").alias("dst")), directed=False)
        hres = _wcc(hook_graph, engine=engine)
        f = hres.state.select(F.col("id").alias("c"), F.col("comp").alias("f"))
        comp = (
            comp.join(f.hint("SHUFFLE_HASH"), "c", "left")
            .select("id", F.coalesce("f", F.col("c")).alias("c"))
            .repartition(P, "id")
            .localCheckpoint(eager=True)
        )
        hook_graph.release()  # unpersists the view its wcc built
        metrics.append({"round": rounds, "picked": picked.count()})

    if forest_frames:
        forest = forest_frames[0].select("src", "dst", "w")
        for fr in forest_frames[1:]:
            forest = forest.unionByName(fr.select("src", "dst", "w"))
        forest = forest.dropDuplicates(["src", "dst"])
    else:
        forest = edges.limit(0).select("src", "dst", "w")
    return SuperstepResult(
        state=forest.select("src", "dst", F.col("w").alias("weight")),
        rounds=rounds, converged=converged, metrics=metrics,
    )
