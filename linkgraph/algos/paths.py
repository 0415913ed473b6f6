"""Path-family algorithms: multi-source BFS, all-pairs shortest path
lengths, closeness centrality, the SSSP path family (shortest-path
tree / has_path / average path length) and Brandes betweenness
centrality.

Reference semantics (transcribed, NOT ported):
  * closeness — analytical_engine/apps/centrality/closeness/
    closeness_centrality.h:34-140: per-vertex reverse BFS/Dijkstra;
    closeness(v) = (reached-1)/Σdist, optionally ×(reached-1)/(n-1)
    (Wasserman-Faust improvement, closeness_centrality_context.h:41-57).
  * all_pairs_shortest_path_length — apps/apsp/
    all_pairs_shortest_path_length.h (BFS from every vertex).
  * sssp_path — apps/sssp/sssp_path.h:30-174: shortest-path TREE rows
    (predecessor, vertex, distance); predecessor = the relaxation
    winner (made deterministic here: min(dist, pred) struct order),
    read from traversal's single-source relaxation.
  * sssp_has_path / sssp_average_length — apps/sssp/sssp_has_path.h,
    sssp_average_length.h:35-168 (avg of all-pairs sssp lengths; the
    reference notes it is "time consuming" — a sampled-source
    estimator is provided here for scale, full = sources=None).
  * betweenness — apps/centrality/betweenness/
    betweenness_centrality.h:30-240: Brandes forward BFS (depth +
    path-count sigma) then backward dependency accumulation, over the
    first `max_round` sources; norm = (directed ? 1 : 0.5) ×
    1/(K(K-1)) when normalized (betweenness_centrality_context.h:38-67).

Execution model: every distance here is a projection of traversal's
one min-relaxation (``traversal._relax``), run from a source set with
the sparse PAIR frame (s, id, dist, pred) as its state: each superstep
scatters the changed pairs through the cached edge frame
(joins.scatter_join, broadcast while |sources|·V is small) and keeps
the least (dist, pred) candidate per pair. multi_source_bfs is its
unit-weight run, multi_source_sssp its run over the lightest weights,
sssp_path its one-source run; apsp, closeness, harmonic, the average
length, the diameter estimate and k-center aggregate those. Brandes'
forward pass sums path counts instead of taking a min, so betweenness
runs its own two fixpoints through the same join helpers. At 100 TB
scale the pair frame is the product |sources|×|reached| — callers bound
|sources| (landmark / sampled mode, the same contract as the
reference's `max_round` source cap) and the full all-pairs mode stays
O(V·E) by design, exactly like the reference's per-vertex loop.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from linkgraph.algos.traversal import _relax, _seeds
from linkgraph.engine import SuperstepEngine, SuperstepResult, observed_count
from linkgraph.graph import Graph, weight_projected
from linkgraph.joins import scatter_join, state_join


def multi_source_bfs(
    graph: Graph,
    sources=None,
    directed: bool | None = None,
    reverse: bool = False,
    engine: SuperstepEngine | None = None,
    max_iter: int = 10_000,
) -> SuperstepResult:
    """Unweighted BFS from every source simultaneously.

    Returns state (s: long, id: long, dist: long) — one row per
    REACHED (source, vertex) pair (sparse: unreached pairs are
    absent; dist(s,s) = 0 rows are included). ``sources`` is a list
    of ids, a one-column DataFrame, or None for all vertices; ids that
    are not vertices of the graph are not seeded. reverse=True follows
    a directed graph's edges backwards (dist(s, id) = hops from id to s).

    The unit-weight run of traversal's relaxation: a pair's first
    candidate is its final distance, so each round's changed pairs are
    exactly that BFS layer and no pair is relaxed twice.
    """
    res = _relax(graph, None, sources, directed, engine, max_iter, reverse=reverse)
    res.state = res.state.select("s", "id", F.col("dist").cast("long").alias("dist"))
    return res


@weight_projected
def multi_source_sssp(
    graph: Graph,
    sources=None,
    weight_col: str | None = None,
    directed: bool | None = None,
    engine: SuperstepEngine | None = None,
    max_iter: int = 10_000,
) -> SuperstepResult:
    """Weighted SSSP from every source simultaneously (the weighted
    generalization of multi_source_bfs — the per-source Dijkstra loop
    of apps/sssp/sssp_average_length.h:35-168 re-expressed as ONE
    Bellman-Ford-style pair-frame relaxation, traversal's).

    Returns state (s: long, id: long, dist: double) — one row per
    reached (source, vertex) pair, over the lightest of parallel
    edges. Unlike the BFS variant, reached pairs CAN improve (a
    longer-hop lighter path). Same scale contract as
    multi_source_bfs: callers bound |sources|.
    """
    res = _relax(graph, graph.weight_col, sources, directed, engine, max_iter)
    res.state = res.state.select("s", "id", "dist")
    return res


def all_pairs_shortest_path_length(
    graph: Graph,
    sources=None,
    directed: bool | None = None,
    engine: SuperstepEngine | None = None,
) -> SuperstepResult:
    """(src, dst, dist) rows for every reached pair — apps/apsp/
    all_pairs_shortest_path_length.h. ``sources=None`` = true APSP
    (O(V·E) work, like the reference's loop over all vertices);
    pass a source list for the landmark-restricted variant."""
    res = multi_source_bfs(graph, sources=sources, directed=directed, engine=engine)
    res.state = res.state.select(
        F.col("s").alias("src"), F.col("id").alias("dst"), "dist"
    )
    return res


def closeness_centrality(
    graph: Graph,
    sources=None,
    directed: bool | None = None,
    wf_improved: bool = True,
    engine: SuperstepEngine | None = None,
) -> SuperstepResult:
    """Closeness of each vertex in ``sources`` (None = all vertices).

    closeness(v) = (reached-1) / Σ_u dist(u, v) over the vertices
    that can REACH v (reverse BFS, matching closeness_centrality.h's
    reversedDijkstraLength over incoming edges); with wf_improved the
    value is scaled by (reached-1)/(n-1). Vertices reaching nothing
    get 0. Returns state (id: long, closeness: double)."""
    n = graph.materialized().num_vertices()
    res = multi_source_bfs(graph, sources=sources, directed=directed,
                           reverse=True, engine=engine)
    per_source = (
        res.state.groupBy("s")
        .agg(F.count("*").alias("reached"), F.sum("dist").alias("tot"))
    )
    c = F.when(
        (F.col("tot") > 0) & (F.lit(n) > 1),
        (F.col("reached") - 1.0) / F.col("tot"),
    ).otherwise(0.0)
    if wf_improved:
        c = c * (F.col("reached") - 1.0) / F.lit(float(n - 1)) if n > 1 else F.lit(0.0)
    res.state = per_source.select(F.col("s").alias("id"), c.alias("closeness"))
    return res


def harmonic_centrality(
    graph: Graph,
    sources=None,
    directed: bool | None = None,
    engine: SuperstepEngine | None = None,
) -> SuperstepResult:
    """Harmonic centrality of each vertex in ``sources`` (None = all):
    harmonic(v) = Σ_u 1/dist(u, v) over vertices that can reach v —
    the summand of flash/centrality/harmonic.h:72-85 (d.val += 1.0/i
    per newly-seen source at BFS depth i), made deterministic: the
    reference samples 500 rand_r sources with a time(NULL) seed;
    callers here pass an explicit source set. Unnormalized, like the
    reference. Returns state (id: long, harmonic: double)."""
    res = multi_source_bfs(graph, sources=sources, directed=directed,
                           reverse=True, engine=engine)
    res.state = (
        res.state.groupBy("s")
        .agg(
            F.sum(F.when(F.col("dist") > 0, 1.0 / F.col("dist")).otherwise(0.0))
            .alias("harmonic")
        )
        .select(F.col("s").alias("id"), "harmonic")
    )  # the (s, s, 0) self-row keeps unreaching sources at 0.0
    return res


def diameter_approx(
    graph: Graph,
    k: int = 16,
    directed: bool | None = None,
    engine: SuperstepEngine | None = None,
) -> SuperstepResult:
    """Approximate diameter + radius via two k-source BFS phases
    (flash/measurement/diameter-approx.h:45-108): phase 1 BFS from k
    sources gives each vertex an eccentricity lower bound ecc(v) =
    max over sources of dist; phase 2 re-runs BFS from the top-k
    vertices by (ecc, id) — the periphery candidates — accumulating
    into the same ecc. diameter ≈ max ecc, radius ≈ min nonzero ecc.
    The reference samples its phase-1 sources with a time(NULL) seed
    (diameter-approx.h:53-55); here they are the k min ids, making
    both phases deterministic. Returns state = ONE row
    (diameter: long, radius: long); res.rounds = total BFS rounds
    across both phases (each bounded by the true diameter)."""
    srcs1 = graph.materialized().vertices.orderBy("id").limit(k)
    res1 = multi_source_bfs(graph, sources=srcs1, directed=directed, engine=engine)
    ecc1 = res1.state.groupBy("id").agg(F.max("dist").alias("ecc"))
    srcs2 = (
        ecc1.orderBy(F.col("ecc").desc(), F.col("id").asc()).limit(k)
        .select(F.col("id").alias("s"))
    )
    res2 = multi_source_bfs(graph, sources=srcs2, directed=directed, engine=engine)
    ecc2 = res2.state.groupBy("id").agg(F.max("dist").alias("ecc"))
    ecc = (
        ecc1.unionByName(ecc2).groupBy("id").agg(F.max("ecc").alias("ecc"))
    )
    summary = ecc.agg(
        F.max("ecc").cast("long").alias("diameter"),
        F.min(F.when(F.col("ecc") > 0, F.col("ecc"))).cast("long").alias("radius"),
    )
    res2.state = summary
    res2.rounds = res1.rounds + res2.rounds
    res2.metrics = res1.metrics + res2.metrics
    return res2


@weight_projected
def sssp_path(
    graph: Graph,
    source: int,
    weight_col: str | None = None,
    directed: bool | None = None,
    engine: SuperstepEngine | None = None,
    max_iter: int = 10_000,
) -> SuperstepResult:
    """Shortest-path TREE from ``source``: state (id, pred, dist) rows
    for every reached vertex (source row has pred = source, dist 0),
    matching sssp_path.h's [predecessor, node, sssp_length] output.

    The tree is sssp's own relaxation (``traversal._relax``), which
    records the winner of each vertex's last improving relaxation.
    Deterministic predecessor: among equal-distance relaxations the
    minimum (dist, pred) struct wins — the reference keeps whichever
    message arrived last, which is nondeterministic under MPI; a
    fixed tie-break makes the result oracle-checkable."""
    res = _relax(graph, graph.weight_col, [source], directed, engine, max_iter)
    res.state = res.state.select("id", "pred", "dist")
    return res


def sssp_has_path(graph: Graph, source: int, target: int, **kw) -> bool:
    """True iff ``target`` is reachable from ``source``
    (apps/sssp/sssp_has_path.h)."""
    res = sssp_path(graph, source, **kw)
    return res.state.where(F.col("id") == target).count() > 0


def sssp_average_length(
    graph: Graph,
    sources=None,
    weighted: bool = False,
    weight_col: str | None = None,
    directed: bool | None = None,
    engine: SuperstepEngine | None = None,
) -> float:
    """Average shortest-path length over reachable ordered pairs with
    distinct endpoints (apps/sssp/sssp_average_length.h computes
    Σdist / (n(n-1)) on a connected graph; here the denominator is
    the number of reached pairs so disconnected graphs still get the
    conventional estimate). ``sources=None`` = all-pairs (expensive,
    like the reference); a source list gives the sampled estimator."""
    if weighted:
        res = multi_source_sssp(graph, sources=sources, weight_col=weight_col,
                                directed=directed, engine=engine)
    else:
        res = multi_source_bfs(graph, sources=sources, directed=directed, engine=engine)
    row = (
        res.state.where(F.col("dist") > 0)
        .agg(F.sum("dist").alias("tot"), F.count("*").alias("pairs"))
        .collect()[0]
    )
    return float(row["tot"]) / row["pairs"] if row["pairs"] else 0.0


def betweenness_centrality(
    graph: Graph,
    sources=None,
    directed: bool | None = None,
    normalized: bool = True,
    endpoints: bool = False,
    engine: SuperstepEngine | None = None,
) -> SuperstepResult:
    """Brandes betweenness over a source set (unweighted).

    Forward: multi-source layered BFS accumulating per-(s,v) depth and
    shortest-path count sigma (betweenness_centrality.h:73-135).
    Backward: dependency accumulation per descending depth
    (betweenness_centrality.h:140-196):
        delta(s,u) = Σ_{v: u→v, depth(v)=depth(u)+1}
                     sigma(u)/sigma(v) · (1 + delta(v))
    centrality(v) = norm · Σ_s delta(s,v), v ≠ s, where norm =
    (directed ? 1 : 0.5) × [normalized: 1/(K(K-1)) (endpoints False)
    or 1/(K(K+1)) (True)] with K = |sources| — exactly
    betweenness_centrality_context.h:56-67.

    Returns state (id: long, betweenness: double) over all vertices.
    """
    g = graph.materialized()
    spark = g.edges.sparkSession
    eng = engine or SuperstepEngine(spark)
    use_directed = g.directed if directed is None else directed
    edges = g.edge_view(symmetric=not use_directed)
    n_edges = g.view_size(symmetric=not use_directed)
    src_df, _ = _seeds(g, sources)
    k = src_df.count()
    bound = k * g.num_vertices()  # the pair frontier's largest size

    # ---- forward: depth + sigma ------------------------------------
    init = src_df.select(
        "s", F.col("s").alias("id"), F.lit(0).cast("long").alias("depth"),
        F.lit(1.0).alias("sigma"), F.lit(True).alias("fr")
    )

    def fwd_step(state: DataFrame, round_: int):
        frontier = state.where(F.col("fr")).select(
            "s", F.col("id").alias("src"), "sigma"
        )
        # all shortest-path counts into depth round_+1 arrive this round
        cand = (
            scatter_join(edges, frontier, "src", bound)
            .groupBy("s", F.col("dst").alias("id"))
            .agg(F.sum("sigma").alias("sigma"))
        )
        new = (
            state_join(cand, state.select("s", "id"), ["s", "id"], "left_anti")
            .select("s", "id", F.lit(round_ + 1).cast("long").alias("depth"),
                    "sigma", F.lit(True).alias("fr"))
        )
        new_state = state.select("s", "id", "depth", "sigma",
                                 F.lit(False).alias("fr")).unionByName(new)

        return new_state, observed_count("fr", n_edges)

    fwd = eng.run(init, fwd_step, max_rounds=10_000)
    depth_sigma = fwd.state.select("s", "id", "depth", "sigma").persist()
    max_depth = depth_sigma.agg(F.max("depth")).collect()[0][0] or 0

    # ---- backward: dependency accumulation, depth D-1 .. 0 ----------
    # one full-frame superstep per depth (a per-layer loop measured
    # 2.4x slower at 1.3M pairs, BASELINE.md "Betweenness backward-pass
    # A/B")
    binit = depth_sigma.select("s", "id", "depth", "sigma", F.lit(0.0).alias("delta"))

    def bwd_step(state: DataFrame, round_: int):
        d = max_depth - 1 - round_
        succ = state.where(F.col("depth") == d + 1).select(
            "s", F.col("id").alias("dst"), F.col("sigma").alias("sv"),
            F.col("delta").alias("dv"),
        )
        contrib = (
            scatter_join(edges, succ, "dst", bound)
            .groupBy("s", F.col("src").alias("id"))
            .agg(F.sum((1.0 + F.col("dv")) / F.col("sv")).alias("c"))
        )
        new_state = (
            state_join(state, contrib, ["s", "id"])
            .select(
                "s", "id", "depth", "sigma",
                F.when(
                    (F.col("depth") == d) & F.col("c").isNotNull(),
                    F.col("sigma") * F.col("c"),
                ).otherwise(F.col("delta")).alias("delta"),
            )
        )

        return new_state, {"halt": d <= 0, "depth": d, "edges_processed": n_edges}

    if max_depth > 0:
        bwd = eng.run(binit, bwd_step, max_rounds=max_depth)
        deltas = bwd.state.select("s", "id", "delta")
        bwd_rounds = bwd.rounds
    else:
        deltas = binit.select("s", "id", "delta")
        bwd_rounds = 0
    rounds = fwd.rounds + bwd_rounds

    norm = 1.0 if use_directed else 0.5
    if normalized and k > 1:
        norm *= 1.0 / (k * (k + 1)) if endpoints else 1.0 / (k * (k - 1))
    per_vertex = (
        deltas.where(F.col("s") != F.col("id"))
        .groupBy("id")
        .agg((F.sum("delta") * F.lit(norm)).alias("betweenness"))
    )
    verts = g.deduced_vertices()
    state = verts.join(per_vertex, "id", "left").select(
        "id", F.coalesce("betweenness", F.lit(0.0)).alias("betweenness")
    )
    depth_sigma.unpersist()
    return SuperstepResult(state=state, rounds=rounds, converged=True,
                           metrics=fwd.metrics)


def k_center(
    graph: Graph,
    k: int = 4,
    directed: bool | None = None,
    engine: SuperstepEngine | None = None,
) -> SuperstepResult:
    """Greedy k-center / Gonzalez farthest-point selection
    (flash/measurement/k-center.h:42-75): the first center is the
    max-degree vertex; each subsequent BFS folds dis(v) = min(dis,
    dist(center, v)) and the next center is the vertex maximizing dis
    — unreachable (dis = ∞) vertices win first, exactly like the
    reference's INT_MAX init. The reference's ties (its VertexMapSeq
    / TraverseLocal scans keep the first strict max in partition
    order) are made deterministic here: min id wins every tie.

    Returns state (id: long, dis: long) — hops to the nearest of the
    k centers, -1 if unreached; the chosen centers are recorded in
    res.metrics[-1]["centers"]. res.rounds = total BFS rounds.
    """
    g = graph.materialized()
    use_directed = g.directed if directed is None else directed
    verts = g.deduced_vertices()
    first = (
        g.degrees(symmetric=not use_directed)
        .orderBy(F.col("degree").desc(), F.col("id").asc())
        .limit(1)
        .collect()[0]["id"]
    )

    centers = [int(first)]
    dis = None  # (id, dis) — NULL means not yet reached by any center
    total_rounds, all_metrics = 0, []
    for i in range(k):
        res = multi_source_bfs(graph, sources=[centers[-1]], directed=directed, engine=engine)
        total_rounds += res.rounds
        all_metrics.extend(res.metrics)
        d_i = res.state.select("id", F.col("dist").alias("nd"))
        if dis is None:
            dis = verts.select("id").join(d_i, "id", "left") \
                       .select("id", F.col("nd").alias("dis"))
        else:
            dis = (
                dis.join(d_i, "id", "left")
                .select("id", F.least(
                    F.coalesce("dis", F.col("nd")),
                    F.coalesce("nd", F.col("dis"))).alias("dis"))
            )
        dis = dis.localCheckpoint(eager=True)
        if i < k - 1:
            nxt = (
                dis.orderBy(F.col("dis").isNull().desc(),
                            F.col("dis").desc(), F.col("id").asc())
                .limit(1).collect()[0]["id"]
            )
            centers.append(int(nxt))

    all_metrics.append({"centers": centers})
    return SuperstepResult(
        state=dis.select("id", F.coalesce("dis", F.lit(-1)).cast("long").alias("dis")),
        rounds=total_rounds, converged=True, metrics=all_metrics,
    )
