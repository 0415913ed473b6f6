"""Louvain community detection — synchronous, deterministic.

Transcribed semantics (NOT ported) from the reference Pregel Louvain,
analytical_engine/apps/pregel/louvain/louvain.h:
  * modularity gain of moving i into community c
    (calculateQualityDelta, louvain.h:284-314):
        ΔQ = k_i_in − k_i · σ_tot(c') / m2
    with k_i_in = w(i→c) (+ internal(i) when c is i's current
    community), k_i = node_weight + internal, σ_tot(c') = community
    total minus k_i when c is current, m2 = Σ_i k_i; ΔQ forced 0 for
    the degenerate stay-in-singleton case.
  * candidate selection (decideBestCommunity, louvain.h:229-275):
    among the neighbor communities PLUS the synthetic (current, ΔQ=0)
    entry, take max ΔQ with ties broken by MIN community id.
  * oscillation guard (louvain.h:262-264): on even rounds moves to a
    SMALLER community id are cancelled, on odd rounds moves to a
    LARGER one — the trick that makes synchronous local moves
    converge instead of two-cycling.
  * phase 2 (louvain.h:41-48): compress each community to one node —
    inter-community edge weights summed, intra-community weight
    folded into the supernode's internal weight (×2: both endpoints)
    — then re-run phase 1 on the coarse graph.

Spark execution: one superstep per local-move round — two shuffles
(community totals V-row agg; neighbor-community histogram E-row agg
with map-side combine) and one argmax via max(struct(ΔQ, -c)), never
a window over a hub key. Coarsening is two joins + one groupBy. The
per-level edge frame shrinks geometrically, AQE coalesces.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from linkgraph.engine import Observed, SuperstepEngine, SuperstepResult
from linkgraph.graph import Graph
from linkgraph.joins import scatter_join, state_join


def louvain_local_move(
    edges: DataFrame,
    nodes: DataFrame,
    m2: float,
    n_nodes: int,
    max_round: int = 10,
    engine: SuperstepEngine | None = None,
) -> SuperstepResult:
    """One phase-1 pass over a (possibly coarsened) graph.

    edges: symmetric (src, dst, w); nodes: (id, k, internal) with
    k = weighted degree + internal; n_nodes: the row count of nodes,
    which also bounds the community count, so it is the V bound of the
    label scatter and of the community-totals join (joins.scatter_join).
    Returns state (id, c, k, internal).
    """
    spark = edges.sparkSession
    eng = engine or SuperstepEngine(spark)

    init = nodes.select("id", F.col("id").alias("c"), "k", "internal")
    # a round with zero moves is NOT a fixpoint by itself: the parity
    # guard may cancel a move on round r that round r+1 would allow —
    # halt only after two consecutive clean rounds (both parities)
    prev_moved = {"n": -1}

    def step(state: DataFrame, round_: int):
        state = state.drop("_chg")
        sig = state.groupBy("c").agg(F.sum("k").alias("sig"))
        # the frame is symmetric: the weight from i to community nc is
        # summed over the edges into i, so the scatter keys on src
        labels = state.select(F.col("id").alias("src"), F.col("c").alias("nc"))
        wic = (
            scatter_join(edges, labels, "src", n_nodes)
            .groupBy(F.col("dst").alias("id"), "nc")
            .agg(F.sum("w").alias("wi"))
        )
        cur = state.select("id", F.col("c").alias("cur"), "k", "internal")
        cand = (
            scatter_join(state_join(wic, cur, how="inner"),
                         sig.withColumnRenamed("c", "nc"), "nc", n_nodes)
            .select(
                "id",
                "nc",
                F.when(
                    (F.col("nc") == F.col("cur"))
                    & (F.col("sig") - F.col("k") == 0.0),
                    F.lit(0.0),
                )
                .otherwise(
                    F.col("wi")
                    + F.when(F.col("nc") == F.col("cur"), F.col("internal")).otherwise(0.0)
                    - F.col("k")
                    * (
                        F.col("sig")
                        - F.when(F.col("nc") == F.col("cur"), F.col("k")).otherwise(0.0)
                    )
                    / F.lit(m2)
                )
                .alias("dq"),
            )
        )
        # synthetic stay-put candidate: (current community, ΔQ = 0)
        synth = cur.select("id", F.col("cur").alias("nc"), F.lit(0.0).alias("dq"))
        best = (
            cand.unionByName(synth)
            .groupBy("id")
            .agg(F.max(F.struct(F.col("dq"), (-F.col("nc")).alias("negc"))).alias("b"))
            .select("id", (-F.col("b.negc")).alias("best"))
        )
        guarded = F.when(
            ((F.col("c") > F.col("best")) & F.lit(round_ % 2 == 0))
            | ((F.col("c") < F.col("best")) & F.lit(round_ % 2 != 0)),
            F.col("c"),
        ).otherwise(F.col("best"))
        new_state = (
            state_join(state, best)
            .select(
                "id",
                guarded.alias("newc"),
                "c",
                "k",
                "internal",
            )
            .select(
                "id",
                F.col("newc").alias("c"),
                "k",
                "internal",
                (F.col("newc") != F.col("c")).alias("_chg"),
            )
        )

        def to_metrics(agg: dict) -> dict:
            chg = int(agg["c"] or 0)
            halt = chg == 0 and prev_moved["n"] == 0
            prev_moved["n"] = chg
            return {"halt": halt, "moved": chg}

        return new_state, Observed(
            exprs=[F.sum(F.col("_chg").cast("long")).alias("c")],
            to_metrics=to_metrics,
        )

    res = eng.run(init, step, max_rounds=max_round)
    res.state = res.state.select("id", "c", "k", "internal")
    return res


def _level0(g: Graph) -> tuple[DataFrame, DataFrame, float]:
    """Level 0 of the cut ``g`` as (edges, nodes, m2): the stored
    weighted undirected view (both directions of every edge — an
    undirected graph stores both —, parallel edges summed, self-loops
    dropped: they become internal weight separately), the persisted
    node frame (id, k, internal = 0) with k the weighted degree (the
    caller unpersists it), and m2 = Σ k (= 2m)."""
    edges = g.edge_view(symmetric=g.directed, reduce="sum")
    deg = edges.groupBy(F.col("src").alias("id")).agg(F.sum("w").alias("k"))
    nodes = (
        g.deduced_vertices()
        .join(deg, "id", "left")
        .select("id", F.coalesce("k", F.lit(0.0)).alias("k"), F.lit(0.0).alias("internal"))
        .persist()
    )
    m2 = nodes.agg(F.sum("k")).collect()[0][0] or 1.0
    return edges, nodes, m2


def louvain_phase1(
    graph: Graph,
    max_round: int = 10,
    engine: SuperstepEngine | None = None,
) -> SuperstepResult:
    """Single-level Louvain (phase-1 local moves only) on the graph's
    weighted undirected view. Returns state (id, community) — the
    deterministic, oracle-checkable core of the full algorithm."""
    g = graph.materialized()
    edges, nodes, m2 = _level0(g)
    res = louvain_local_move(edges, nodes, m2, g.num_vertices(), max_round=max_round,
                             engine=engine)
    nodes.unpersist()
    res.state = res.state.select("id", F.col("c").alias("community"))
    return res


def louvain(
    graph: Graph,
    max_round: int = 10,
    max_levels: int = 5,
    engine: SuperstepEngine | None = None,
    force_all_levels: bool = False,
) -> SuperstepResult:
    """Full multi-level Louvain. Returns state (id: long, community:
    long) mapping every ORIGINAL vertex to its final community (the
    min original vertex id serves as the stable community name at
    every level, so labels are deterministic). ``force_all_levels``
    disables the no-shrink early exit so exactly ``max_levels`` levels
    run — used by the oracle gate, whose SQL twin unrolls a fixed
    level count."""
    g = graph.materialized()
    spark = g.edges.sparkSession
    P = int(spark.conf.get("spark.sql.shuffle.partitions"))

    # level 0 reads the graph's stored view; coarser levels own theirs
    view, nodes, m2 = _level0(g)
    edges = view

    mapping = None  # original id -> current supernode id
    total_rounds = 0
    n_nodes = g.num_vertices()
    for level in range(max_levels):
        res = louvain_local_move(edges, nodes, m2, n_nodes, max_round=max_round,
                                 engine=engine)
        total_rounds += res.rounds
        labels = res.state.select("id", "c").persist()
        n_comms = labels.select("c").distinct().count()
        # fold this level's assignment into the original-id mapping
        if mapping is None:
            mapping = labels.select("id", F.col("c").alias("community"))
        else:
            mapping = (
                mapping.join(
                    labels.withColumnRenamed("id", "community").withColumnRenamed("c", "newc"),
                    "community",
                )
                .select("id", F.col("newc").alias("community"))
            )
        mapping = mapping.localCheckpoint(eager=True)
        if (not force_all_levels and n_comms >= n_nodes) or level == max_levels - 1:
            labels.unpersist()
            break
        # ---- coarsen (phase 2) -------------------------------------
        la = labels.select(F.col("id").alias("src"), F.col("c").alias("ca"))
        lb = labels.select(F.col("id").alias("dst"), F.col("c").alias("cb"))
        joined = edges.join(la, "src").join(lb, "dst")
        inter = (
            joined.where(F.col("ca") != F.col("cb"))
            .groupBy(F.col("ca").alias("src"), F.col("cb").alias("dst"))
            .agg(F.sum("w").alias("w"))
        )
        intra = (
            joined.where(F.col("ca") == F.col("cb"))
            .groupBy(F.col("ca").alias("id"))
            .agg(F.sum("w").alias("intra"))  # both directions => already 2×
        )
        base_int = (
            res.state.groupBy(F.col("c").alias("id")).agg(F.sum("internal").alias("bi"))
        )
        new_nodes = (
            res.state.groupBy(F.col("c").alias("id"))
            .agg(F.sum("k").alias("k"))
            .join(intra, "id", "left")
            .join(base_int, "id", "left")
            .select(
                "id",
                "k",
                (F.coalesce("intra", F.lit(0.0)) + F.coalesce("bi", F.lit(0.0))).alias(
                    "internal"
                ),
            )
        )
        new_edges = inter.repartition(P, "src").persist()
        new_edges.count()
        if edges is not view:
            edges.unpersist()
        edges = new_edges
        nodes_new = new_nodes.persist()
        n_nodes = nodes_new.count()
        nodes.unpersist()
        nodes = nodes_new
        labels.unpersist()

    if edges is not view:
        edges.unpersist()
    nodes.unpersist()
    return SuperstepResult(
        state=mapping.select("id", "community"),
        rounds=total_rounds,
        converged=True,
    )


def modularity(graph: Graph, labels: DataFrame) -> float:
    """Q = Σ_c [ Σ_in(c)/m2 − (Σ_tot(c)/m2)² ] over the weighted
    undirected view; labels = (id, community)."""
    edges, nodes, m2 = _level0(graph.materialized())
    lab = labels.select(F.col(labels.columns[0]).alias("id"),
                        F.col(labels.columns[1]).alias("c"))
    tot = (
        lab.join(nodes, "id", "left")
        .groupBy("c")
        .agg(F.sum(F.coalesce("k", F.lit(0.0))).alias("tot"))
    )
    intra = (
        edges.join(lab.withColumnRenamed("id", "src").withColumnRenamed("c", "ca"), "src")
        .join(lab.withColumnRenamed("id", "dst").withColumnRenamed("c", "cb"), "dst")
        .where(F.col("ca") == F.col("cb"))
        .groupBy(F.col("ca").alias("c"))
        .agg(F.sum("w").alias("win"))
    )
    row = (
        tot.join(intra, "c", "left")
        .agg(
            F.sum(
                F.coalesce("win", F.lit(0.0)) / F.lit(m2)
                - (F.col("tot") / F.lit(m2)) * (F.col("tot") / F.lit(m2))
            ).alias("q")
        )
        .collect()[0]
    )
    nodes.unpersist()
    return float(row["q"] or 0.0)
