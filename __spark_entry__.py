"""Driver contract for the spark-graft builder (PySpark target).

``queries()`` exposes every implemented operator (SURVEY.md §2) as a
(spark, sf_dir) -> DataFrame callable; ``oracle_sql()`` gives the
DuckDB twin for each. The graph queries run on the canonical derived
link graph (parts co-occurring in an order — the co-change derivation
of linkgraph/etl.py applied to the driver's tables; see
linkgraph/tpch_graph.py). The pipeline queries run on `documents` /
`embeddings`.

Column names and float rounding are aligned on both sides so the
driver's order-insensitive value-hash matches (floats rounded to 8
decimals — cross-engine summation-order noise is ~1e-13).
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import DataFrame, SparkSession, functions as F

from linkgraph import pipeline as pl
from linkgraph.algos.cdlp import cdlp
from linkgraph.algos.cores import kcore
from linkgraph.algos.hits import hits
from linkgraph.algos.pagerank import pagerank
from linkgraph.algos.traversal import bfs, sssp
from linkgraph.algos.triangles import lcc, triangle_corners, triangles
from linkgraph.algos.wcc import wcc
from linkgraph.graph import Graph, _checkpoint
from linkgraph.tpch_graph import PART_EDGES_SQL, part_edges, part_graph

PR_ITERS = 15
PR_ALPHA = 0.85
CDLP_ROUNDS = 10
HITS_ITERS = 20
BFS_LAYERS = 30
KCORE_K = 10
KCORE_LAYERS = 40
EIG_ITERS = 10
KATZ_ITERS = 10
KATZ_ALPHA = 0.005
MSBFS_LAYERS = 16      # unroll for the pair-frame BFS oracles
CLOSENESS_SOURCES = 32
APSP_SOURCES = 48
AVGLEN_SOURCES = 64
BETW_SOURCES = 16
BETW_LAYERS = 12
LOUVAIN_ROUNDS = 4
LOUVAIN_FULL_ROUNDS = 3
LOUVAIN_FULL_LEVELS = 2
PPR_ITERS = 15
PPR_ALPHA = 0.5
MIS_UNROLL = 8        # measured 3 rounds at sf0.01 on the thinned graph
MM_UNROLL = 16        # measured 10
MDS_UNROLL = 24       # measured 9 (15 at sf0.1)
MSF_W_RANGE = 10      # max co-occurrence weight is 3 at sf0.1
HARMONIC_SOURCES = 32
DIAM_K = 16
DIAM_LAYERS = 30      # thinned-graph BFS depth ≤ 9 at sf0.1; 30 is slack
AR_ITERS = 15
AR_DAMPING = 0.85
AVGLEN_W_SOURCES = 16
AVGLEN_W_LAYERS = 28
BOUNDARY_SOURCES = 100
ATTR_CATS = 7
KSHELL_LAYERS = 40
VOTERANK_SEEDS = 16
LPA_U2I_ROUNDS = 2
SAMPLING_V0_CAP = 300
ASP_CUTOFF = 3
S6_HINDEX_LAYERS = 24  # measured 14 H-index rounds at sf0.01 on the %6 graph
DEGEN_UNROLL = 14      # measured 8 peel waves at sf0.01
ONION_UNROLL = 22      # measured 14 layers at sf0.01
MC_P1_UNROLL = 14      # measured 10 threshold rounds at sf0.01 (≤ log2 n + 2)
MC_P2_UNROLL = 8       # measured 4 refinement rounds at sf0.01
COLOR_UNROLL = 18      # greedy-coloring priority-DAG depth budget on the %6 graph
FLUID_S = 6            # fluid-community seed count
FLUID_ROUNDS = 4       # fixed synchronous fluid rounds (iter_max analogue)
KCS_K = 4              # k-core-search k (s6 degeneracy is 14 at sf0.01)
KCENTER_K = 3          # greedy k-center centers on the %24-thinned graph


# ---------------------------------------------------------------------------
# entry: flagship query — "most central parts in the co-purchase link graph"
# ---------------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """PageRank over the derived link graph at sf0.001, top-20."""
    g = part_graph(spark, "/root/testdata/sf0.001")
    res = pagerank(g, alpha=PR_ALPHA, max_iter=20, tol=1e-6)
    g.release()
    return res.state.orderBy(F.col("rank").desc(), F.col("id").asc()).limit(20)


# ---------------------------------------------------------------------------
# Spark-side query callables
# ---------------------------------------------------------------------------

def _stored(result: DataFrame, *graphs: Graph) -> DataFrame:
    """`result` evaluated once and stored, then `graphs` released: the
    returned frame no longer reads their stored views."""
    out = _checkpoint(result)
    for g in graphs:
        g.release()
    return out


def _q_part_edges(spark, sf_dir):
    return part_edges(spark, sf_dir)


def _q_degree_centrality(spark, sf_dir):
    g = part_graph(spark, sf_dir)
    deg = g.degrees(True, loops=True, reduce="all")  # every edge end
    n = g.materialized().num_vertices()
    return _stored(deg.select(
        "id", F.round(F.col("degree") / F.lit(float(n - 1)), 8).alias("centrality")
    ), g)


def _q_pagerank(spark, sf_dir):
    g = part_graph(spark, sf_dir)
    res = pagerank(g, alpha=PR_ALPHA, max_iter=PR_ITERS, tol=0.0)
    g.release()
    return res.state.select("id", F.round("rank", 8).alias("rank"))


def _q_wcc(spark, sf_dir):
    """Delta-frontier WCC against a recursive-CTE oracle."""
    g = part_graph(spark, sf_dir)
    res = wcc(g)
    g.release()
    return res.state.select("id", "comp")


def _q_cdlp(spark, sf_dir):
    """LDBC label propagation (the two-agg join plan of
    linkgraph/algos/cdlp.py) against one unrolled histogram oracle."""
    g = part_graph(spark, sf_dir)
    res = cdlp(g, max_round=CDLP_ROUNDS)
    g.release()
    return res.state.select("id", "label")


def _q_triangles(spark, sf_dir):
    """Per-vertex triangle counts AND local clustering coefficient
    (one multi-column gate — both derive from the same oriented
    wedge-join frame)."""
    g = part_graph(spark, sf_dir)
    t = triangles(g).select("id", "tri")
    l = lcc(g).select("id", F.round("lcc", 8).alias("lcc"))
    return _stored(t.join(l, "id"), g)


def _q_triangle_stats(spark, sf_dir):
    """Scalar triangle family in one row: global count, transitivity,
    average clustering (apps/clustering/{transitivity,avg_clustering}.h)."""
    g = part_graph(spark, sf_dir)
    deg = g.degrees(symmetric=True)
    wedges = deg.agg(F.sum(F.col("degree") * (F.col("degree") - 1) / 2).alias("w"))
    tri = triangle_corners(g).agg(F.count("*").alias("n_triangles"))
    avg = lcc(g).agg(F.round(F.avg("lcc"), 8).alias("avg_clustering"))
    return _stored(
        tri.crossJoin(wedges).crossJoin(avg)
        .select(
            F.col("n_triangles").cast("long").alias("n_triangles"),
            F.round(3.0 * F.col("n_triangles") / F.col("w"), 8).alias("transitivity"),
            "avg_clustering",
        ), g)


def _assert_unroll(res, budget: int, name: str) -> None:
    """The DuckDB oracles unroll a FIXED number of layers while the
    Spark side iterates to fixpoint. If the fixpoint ever needs more
    rounds than the unroll (deeper graph at a different sf), the
    oracle would be silently divergent — fail loudly instead."""
    if res.rounds > budget:
        raise RuntimeError(
            f"{name}: fixpoint took {res.rounds} rounds > oracle unroll "
            f"budget {budget}; regenerate the oracle with more layers"
        )


def _q_bfs(spark, sf_dir):
    """BFS levels (every vertex, -1 unreached) AND the deterministic
    min-parent BFS tree from the min vertex id, undirected view — one
    gate reading both bfs() and bfs_tree() (bfs_generic.h:125-155
    predecessors output), two projections of the one unit-weight
    relaxation (levels, and its predecessor column)."""
    from linkgraph.algos.traversal import bfs_tree

    g = part_graph(spark, sf_dir)
    source = _min_vertex(g)
    res = bfs(g, source=source, directed=False)
    _assert_unroll(res, BFS_LAYERS, "bfs")
    rest = bfs_tree(g, source=source, directed=False)
    _assert_unroll(rest, BFS_LAYERS, "bfs_tree")
    par = rest.state.select("id", F.coalesce("parent", F.col("id")).alias("parent"))
    g.release()
    return (
        res.state.select("id", "level")
        .join(par, "id", "left")
        .select("id", F.coalesce("parent", F.col("id")).alias("parent"), "level")
    )


def _q_sssp(spark, sf_dir):
    """Weighted SSSP from the min vertex id over the undirected
    co-occurrence graph — one engine path, the frontier relaxation
    with its deterministic min-(dist, pred) predecessor, read through
    both of its projections: sssp() (column dist_bf) and the
    predecessor tree sssp_path() (columns pred/dist,
    apps/sssp/sssp_path.h semantics). The oracle derives the distance
    through two independent recurrences."""
    from linkgraph.algos.paths import sssp_path

    edges = part_edges(spark, sf_dir)
    g = Graph.from_edges(edges, directed=False, weight_col="weight")
    source = _min_vertex(g)
    res = sssp(g, source=source, weight_col="weight", directed=False)
    _assert_unroll(res, BFS_LAYERS, "sssp")
    resp = sssp_path(g, source=source, weight_col="weight", directed=False)
    _assert_unroll(resp, BFS_LAYERS, "sssp_path")
    g.release()
    return (
        resp.state.select("id", "pred", F.round("dist", 8).alias("dist"))
        .join(res.state.select("id", F.round("dist", 8).alias("dist_bf")), "id")
    )


def _q_hits(spark, sf_dir):
    g = part_graph(spark, sf_dir)
    res = hits(g, max_iter=HITS_ITERS, tol=0.0)
    g.release()
    return res.state.select(
        "id", F.round("hub", 8).alias("hub"), F.round("auth", 8).alias("auth")
    )


def _q_kshell(spark, sf_dir):
    """Core (shell) number for EVERY vertex via the iterated H-index
    fixpoint (apps/kshell/kshell.h output) AND the k=KCORE_K core
    membership through kcore()'s peel waves — one gate, two fixpoints
    (H-index and peel) of the same core decomposition."""
    from linkgraph.algos.cores import kshell

    g = part_graph(spark, sf_dir)
    res = kshell(g)
    _assert_unroll(res, KSHELL_LAYERS, "kshell")
    resc = kcore(g, k=KCORE_K)
    _assert_unroll(resc, KCORE_LAYERS, "kcore")
    g.release()
    return res.state.select("id", "shell").join(
        resc.state.select("id", "in_core"), "id"
    )


def _q_eig_katz(spark, sf_dir):
    """Eigenvector + Katz centrality as one two-column gate (both are
    fixed-iteration linear recurrences over the same directed edge
    set; merged to keep the registry inside the driver's 50-query
    window without losing either per-vertex value check)."""
    from linkgraph.algos.centrality import eigenvector_centrality, katz_centrality

    g = part_graph(spark, sf_dir)
    res = eigenvector_centrality(g, max_iter=EIG_ITERS, tol=0.0)
    resk = katz_centrality(g, alpha=KATZ_ALPHA, beta=1.0, max_iter=KATZ_ITERS, tol=0.0)
    g.release()
    return res.state.select("id", F.round("centrality", 8).alias("eig")).join(
        resk.state.select("id", F.round("centrality", 8).alias("katz")), "id"
    )


def _min_vertex(g):
    """The least vertex id, read from the cut the algorithms take."""
    return int(g.materialized().deduced_vertices().agg(F.min("id")).collect()[0][0])


def _min_sources(g, k):
    """The k least vertex ids, read from the cut the algorithms take."""
    return g.materialized().deduced_vertices().orderBy("id").limit(k)


def _q_closeness(spark, sf_dir):
    """Closeness (Wasserman-Faust, closeness_centrality.h) AND
    harmonic centrality (flash/centrality/harmonic.h:72-85) of the
    same K min-id source set — both are aggregates of one
    multi-source BFS, so they share an oracle distance chain."""
    from linkgraph.algos.paths import closeness_centrality, harmonic_centrality

    g = part_graph(spark, sf_dir)
    srcs = _min_sources(g, CLOSENESS_SOURCES)
    res = closeness_centrality(g, sources=srcs, directed=False, wf_improved=True)
    _assert_unroll(res, MSBFS_LAYERS, "closeness")
    resh = harmonic_centrality(g, sources=srcs, directed=False)
    _assert_unroll(resh, MSBFS_LAYERS, "harmonic")
    g.release()
    return res.state.select("id", F.round("closeness", 8).alias("closeness")).join(
        resh.state.select("id", F.round("harmonic", 8).alias("harmonic")), "id"
    )


def _q_apsp(spark, sf_dir):
    """All-pairs shortest path lengths restricted to K min-id sources
    (apps/apsp/all_pairs_shortest_path_length.h), undirected view."""
    from linkgraph.algos.paths import all_pairs_shortest_path_length

    g = part_graph(spark, sf_dir)
    res = all_pairs_shortest_path_length(
        g, sources=_min_sources(g, APSP_SOURCES), directed=False
    )
    _assert_unroll(res, MSBFS_LAYERS, "apsp")
    g.release()
    return res.state.select("src", "dst", "dist")


def _q_avg_length(spark, sf_dir):
    """Sampled average shortest-path length, UNWEIGHTED (64 min-id
    sources) and WEIGHTED (16 min-id sources) in one two-column row —
    both modes of apps/sssp/sssp_average_length.h."""
    from linkgraph.algos.paths import multi_source_bfs, multi_source_sssp

    g = part_graph(spark, sf_dir)
    res = multi_source_bfs(g, sources=_min_sources(g, AVGLEN_SOURCES), directed=False)
    _assert_unroll(res, MSBFS_LAYERS, "sssp_avg_length")
    g.release()
    uw = (
        res.state.where(F.col("dist") > 0)
        .agg(F.round(F.sum("dist") / F.count("*"), 8).alias("avg_length"))
    )
    edges = part_edges(spark, sf_dir)
    gw = Graph.from_edges(edges, directed=False, weight_col="weight")
    resw = multi_source_sssp(
        gw, sources=_min_sources(gw, AVGLEN_W_SOURCES),
        weight_col="weight", directed=False,
    )
    _assert_unroll(resw, AVGLEN_W_LAYERS, "sssp_avg_length_w")
    gw.release()
    w = (
        resw.state.where(F.col("dist") > 0)
        .agg(F.round(F.sum("dist") / F.count("*"), 8).alias("avg_length_w"))
    )
    return uw.crossJoin(w)


def _q_betweenness(spark, sf_dir):
    """Brandes betweenness over the K min-id sources, undirected,
    normalized with the reference's norm (0.5 / K(K-1))."""
    from linkgraph.algos.paths import betweenness_centrality

    g = part_graph(spark, sf_dir)
    res = betweenness_centrality(
        g, sources=_min_sources(g, BETW_SOURCES), directed=False, normalized=True
    )
    _assert_unroll(res, 2 * BETW_LAYERS + 1, "betweenness")
    g.release()
    return res.state.select("id", F.round("betweenness", 8).alias("betweenness"))


def _q_louvain_full(spark, sf_dir):
    """FULL multi-level Louvain (local moves + phase-2 coarsening +
    label fold-back, apps/pregel/louvain/louvain.h:41-48) with a fixed
    round/level budget so the DuckDB twin can unroll the exact same
    computation — coarsening arithmetic included."""
    from linkgraph.algos.louvain import louvain

    edges = part_edges(spark, sf_dir)
    g = Graph.from_edges(edges, directed=True, weight_col="weight")
    res = louvain(g, max_round=LOUVAIN_FULL_ROUNDS,
                  max_levels=LOUVAIN_FULL_LEVELS, force_all_levels=True)
    g.release()
    return res.state.select("id", "community")


def _q_scc(spark, sf_dir):
    """Strongly connected components (flash/connectivity/scc.h:28-84,
    multi-pivot fwd/bwd colouring; label = min SCC member id) on the
    parity-directed co-occurrence graph: edge (src,dst) keeps its
    src<dst orientation when (src+dst) is even, flips otherwise —
    a deterministic direction rule both engines express identically,
    giving real directed cycles (the raw src<dst set is a DAG)."""
    from linkgraph.algos.scc import scc

    e = part_edges(spark, sf_dir).select("src", "dst")
    even = (F.col("src") + F.col("dst")) % 2 == 0
    de = e.select(
        F.when(even, F.col("src")).otherwise(F.col("dst")).alias("src"),
        F.when(even, F.col("dst")).otherwise(F.col("src")).alias("dst"),
    )
    g = Graph.from_edges(de, directed=True)
    res = scc(g)
    g.release()
    return res.state.select("id", "scc")


def _thinned_graph(spark, sf_dir):
    """Deterministic hash-thinned co-occurrence graph for the
    biconnectivity gates: the full graph is one dense biconnected
    core (0 bridges / 0 cut vertices — a trivial gate), so both
    engines keep edge {src,dst} iff (src*1000003 + dst) % 24 == 0,
    which at gate scales leaves bridges, cut vertices AND nontrivial
    blocks (e.g. sf0.001: 363 edges, 14 bridges, 29 blocks)."""
    e = part_edges(spark, sf_dir).select("src", "dst")
    th = e.where((F.col("src") * 1000003 + F.col("dst")) % 24 == 0)
    # directed=True = honest storage flag (one row per src<dst pair,
    # like part_graph); undirected algorithms symmetrize on traversal
    return Graph.from_edges(th, directed=True)


def _q_bridges(spark, sf_dir):
    """Bridge edges (flash/connectivity/bridge.h:45-149) on the
    thinned undirected co-occurrence graph. The oracle derives
    bridges from first principles: deterministic BFS forest + for
    each tree edge (x, parent x), count non-tree edges with exactly
    one endpoint in subtree(x) via ancestor-list symmetric
    difference — zero means removing the edge disconnects
    subtree(x)."""
    from linkgraph.algos.biconnectivity import biconnectivity

    g = _thinned_graph(spark, sf_dir)
    return _stored(biconnectivity(g).bridges, g)


def _q_articulation(spark, sf_dir):
    """Cut vertices (flash/connectivity/cut-point.h:45-153): v is cut
    iff a tree child's block group differs from v's own (root: its
    children span >= 2 groups)."""
    from linkgraph.algos.biconnectivity import biconnectivity

    g = _thinned_graph(spark, sf_dir)
    return _stored(biconnectivity(g).cut_points, g)


def _q_bcc(spark, sf_dir):
    """Biconnected-component vertex groups (flash/connectivity/
    bcc.h:44-141): group(v) = block containing tree edge (v, parent),
    canonicalized to the min member id (the reference's union-find
    root ids are arbitrary; the partition is the semantics)."""
    from linkgraph.algos.biconnectivity import biconnectivity

    g = _thinned_graph(spark, sf_dir)
    return _stored(biconnectivity(g).bcc, g)


def _q_matching_family(spark, sf_dir):
    """The greedy matching family on the shared thinned graph in one
    per-vertex frame: maximal independent set
    (flash/matching/mis.h:47-82), maximal matching (mm.h:48-75,
    mutual-max-id pairing — run on the SPARSE thinned set where it
    takes ~10 rounds like the reference's test graphs), greedy
    minimal dominating set (min-dominating-set.h:50-96), and the
    minimal edge-cover size derived from the matching
    (min-edge-cover.h:43-105: n_nonisolated − |M|) as a constant
    column."""
    from linkgraph.algos.matching import (
        maximal_matching, min_dominating_set, min_edge_cover_size, mis,
    )

    g = _thinned_graph(spark, sf_dir)
    r1 = mis(g)
    _assert_unroll(r1, MIS_UNROLL, "mis")
    r2 = maximal_matching(g)
    _assert_unroll(r2, MM_UNROLL, "maximal_matching")
    r3 = min_dominating_set(g)
    _assert_unroll(r3, MDS_UNROLL, "min_dominating_set")
    ec = min_edge_cover_size(g, matching=r2)
    g.release()
    return (
        r1.state.select("id", "in_mis")
        .join(r2.state.select("id", "match"), "id")
        .join(r3.state.select("id", "in_mds"), "id")
        .withColumn("ec", F.lit(ec).cast("long"))
    )


def _q_msf(spark, sf_dir):
    """Minimum-spanning-forest total weight
    (flash/measurement/msf.h:46-63) over the weighted co-occurrence
    graph. The oracle computes the SAME weight through the Kruskal
    threshold identity Σ_k (C_k − C) — fully independent of the
    engine's Borůvka."""
    from linkgraph.algos.msf import msf

    e = part_edges(spark, sf_dir)
    th = e.where((F.col("src") * 1000003 + F.col("dst")) % 24 == 0)
    g = Graph.from_edges(th, directed=False, weight_col="weight")
    res = msf(g, weight_col="weight")
    g.release()
    return res.state.agg(F.round(F.sum("weight"), 8).alias("msf_weight"))


def _q_diameter(spark, sf_dir):
    """Two-phase approximate diameter + radius
    (flash/measurement/diameter-approx.h:45-108, deterministic min-id
    phase-1 sources) on the thinned graph (the full co-occurrence
    graph has diameter ~3 — trivial), PLUS greedy k-center
    (flash/measurement/k-center.h:42-75) on the same graph: per-vertex
    distance-to-nearest-center rows carrying the diameter/radius
    scalars as constant columns."""
    from linkgraph.algos.paths import diameter_approx, k_center

    g = _thinned_graph(spark, sf_dir)
    res = diameter_approx(g, k=DIAM_K, directed=False)
    _assert_unroll(res, 2 * DIAM_LAYERS, "diameter_approx")
    resk = k_center(g, k=KCENTER_K, directed=False)
    _assert_unroll(resk, KCENTER_K * DIAM_LAYERS, "k_center")
    g.release()
    return resk.state.select("id", "dis").crossJoin(F.broadcast(res.state))


def _q_rank_family(spark, sf_dir):
    """Personalized PageRank from the min vertex id (undirected,
    alpha = 0.5, flash/ranking/ppr.h:41-73) AND ArticleRank (directed,
    damping 0.85, flash/ranking/articlerank.h:40-72) as one
    two-column gate — both fixed-iteration rank recurrences over the
    same graph, merged for the 50-entry driver window."""
    from linkgraph.algos.pagerank import articlerank, ppr

    g = part_graph(spark, sf_dir)
    res = ppr(g, source=_min_vertex(g), alpha=PPR_ALPHA, max_iter=PPR_ITERS)
    resa = articlerank(g, max_iter=AR_ITERS, damping=AR_DAMPING)
    g.release()
    return res.state.select("id", F.round("rank", 8).alias("ppr")).join(
        resa.state.select("id", F.round("rank", 8).alias("articlerank")), "id"
    )


def _q_coloring(spark, sf_dir):
    """Greedy graph coloring (flash/clustering/color.h:47-85) on the
    %6-thinned graph — the unique Jones-Plassmann fixpoint along the
    (degree, id) priority order, so per-vertex colors are exactly
    checkable."""
    from linkgraph.algos.coloring import greedy_color

    g = _subgraph_graph(spark, sf_dir)
    res = greedy_color(g)
    _assert_unroll(res, COLOR_UNROLL, "greedy_color")
    g.release()
    return res.state.select("id", "color")


def _q_fluid(spark, sf_dir):
    """Fluid communities (flash/clustering/fluid-community.h:43-105),
    deterministic synchronous variant: seeds = the FLUID_S smallest
    ids, FLUID_ROUNDS fixed rounds, count-then-divide densities so the
    argmax compares bit-identical doubles in both engines."""
    from linkgraph.algos.coloring import fluid_community

    g = part_graph(spark, sf_dir)
    res = fluid_community(g, n_communities=FLUID_S, max_round=FLUID_ROUNDS)
    g.release()
    return res.state.select("id", "lab")


def _q_clustering_directed(spark, sf_dir):
    """Fagiolo directed clustering coefficient on the directed
    co-occurrence edge set (apps/clustering/clustering.h:258-267)."""
    from linkgraph.algos.structure import clustering_directed

    g = part_graph(spark, sf_dir)
    return _stored(clustering_directed(g).select(
        "id", F.round("clustering", 8).alias("clustering")
    ), g)


def _q_assortativity(spark, sf_dir):
    """Degree assortativity (Pearson over edge endpoint degrees,
    undirected view — apps/assortativity/degree_assortativity_coefficient.h)
    and categorical attribute assortativity with cat = id % ATTR_CATS
    (attribute_assortativity.h), one two-column scalar row."""
    from linkgraph.algos.structure import (
        attribute_assortativity,
        degree_assortativity,
    )

    g = part_graph(spark, sf_dir)
    r = degree_assortativity(g, directed=False)
    attr = g.deduced_vertices().select("id", (F.col("id") % ATTR_CATS).alias("cat"))
    r2 = attribute_assortativity(g, attr)
    g.release()
    return spark.createDataFrame(
        [(round(r, 8), round(r2, 8))],
        "degree_assortativity double, attr_assortativity double",
    )


def _q_avg_degree_connectivity(spark, sf_dir):
    """k_nn(k) per source degree, undirected view
    (apps/assortativity/average_degree_connectivity.h)."""
    from linkgraph.algos.structure import average_degree_connectivity

    g = part_graph(spark, sf_dir)
    return _stored(average_degree_connectivity(g, directed=False).select(
        "degree", F.round("avg_nbr_degree", 8).alias("avg_nbr_degree")
    ), g)


def _q_boundary(spark, sf_dir):
    """Edge boundary of the K min-id vertex set (edge_boundary.h) with
    the node boundary (node_boundary.h:72-86) verified alongside:
    dst_in_nb flags membership of each boundary edge's dst in
    node_boundary()'s output (node boundary = distinct dsts of the
    edge boundary, so the oracle emits TRUE), and n_node_boundary is
    its size (catching extra rows the flag alone would miss)."""
    from linkgraph.algos.structure import edge_boundary, node_boundary

    g = part_graph(spark, sf_dir).materialized()
    srcs = _min_sources(g, BOUNDARY_SOURCES)
    eb = edge_boundary(g, srcs).select("src", "dst")
    nb = node_boundary(g, srcs).select("id")
    nb_flag = nb.select(F.col("id").alias("dst"), F.lit(True).alias("dst_in_nb"))
    nb_n = nb.agg(F.count("*").alias("n_node_boundary"))
    return (
        eb.join(nb_flag, "dst", "left")
        .select("src", "dst", F.coalesce("dst_in_nb", F.lit(False)).alias("dst_in_nb"))
        .crossJoin(nb_n)
    )


def _q_voterank(spark, sf_dir):
    """VoteRank seed election on the undirected view, integer-exact
    voting abilities (apps/voterank/voterank.h:58-200)."""
    from linkgraph.algos.ranking import voterank

    g = part_graph(spark, sf_dir)
    return _stored(voterank(g, num_seeds=VOTERANK_SEEDS, directed=False), g)


def _q_lpa_u2i(spark, sf_dir):
    """Bipartite user→item label propagation (apps/lpa/lpa_u2i.h) on
    the customer–part purchase graph; seeds from custkey % 19."""
    from linkgraph.algos.bipartite import lpa_u2i
    from linkgraph.tpch_graph import read_table

    orders = read_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("ok"), F.col("o_custkey").alias("user")
    )
    li = read_table(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("item")
    )
    be = orders.join(li, "ok").select("user", "item").dropDuplicates(["user", "item"])
    users = be.select("user").distinct()
    seeds = users.select(
        "user",
        F.when(F.col("user") % 19 == 0, 1.0)
        .when(F.col("user") % 19 == 1, 0.0)
        .otherwise(0.5)
        .alias("label"),
    )
    res = lpa_u2i(be, seeds, max_round=LPA_U2I_ROUNDS)
    return res.state.select("user", F.round("label", 8).alias("label"))


def _q_sampling_path(spark, sf_dir):
    """Label-pattern path enumeration (apps/sampling_path/
    sampling_path.h): vlabel = id % 3, pattern [0, 1, 2], start
    vertices capped at id < SAMPLING_V0_CAP."""
    from linkgraph.algos.pathenum import sampling_path

    g = part_graph(spark, sf_dir)
    vl = g.deduced_vertices().select("id", (F.col("id") % 3).alias("vl"))
    return sampling_path(
        g, vl, [0, 1, 2], start_filter=F.col("v0") < SAMPLING_V0_CAP
    )


def _q_simple_paths(spark, sf_dir):
    """All simple paths between the two smallest vertex ids with
    cutoff 3 (apps/simple_path/all_simple_paths.h), undirected, plus
    the is_simple_path.h predicate on the three smallest ids as a
    constant column — one gate for the simple-path family."""
    from linkgraph.algos.pathenum import all_simple_paths, is_simple_path

    g = part_graph(spark, sf_dir)
    ids = [r["id"] for r in g.deduced_vertices().orderBy("id").limit(3).collect()]
    ok = is_simple_path(g, ids, directed=False)
    out = all_simple_paths(g, ids[0], ids[1], cutoff=ASP_CUTOFF, directed=False)
    return _stored(out.select(
        F.concat_ws("-", F.col("path").cast("array<string>")).alias("path"),
        F.lit(bool(ok)).alias("probe_is_path"),
    ), g)


def _q_dfs(spark, sf_dir):
    """DFS preorder from the min vertex id (apps/dfs/dfs.h) — the
    ORDER itself has no tractable SQL twin (pytest-checked against a
    sequential python DFS), but its SQL-decidable INVARIANTS are
    oracle-gated here: the ranks of the reached set form a 0..R-1
    permutation, the root has rank 0 and is its own parent, every
    non-root (parent, id) is a graph edge, and every parent precedes
    its child in preorder. The oracle computes the same summary from
    reachability alone (all violation counts provably 0)."""
    from linkgraph.algos.pathenum import dfs

    g = part_graph(spark, sf_dir)
    source = int(g.deduced_vertices().agg(F.min("id")).collect()[0][0])
    t = dfs(g, source, directed=False).persist()
    und = (
        g.symmetrized_edges().select("src", "dst")
        .where(F.col("src") != F.col("dst")).dropDuplicates(["src", "dst"])
    )
    nonroot = t.where(F.col("rank") > 0)
    bad_edges = nonroot.join(
        und, (nonroot["parent"] == und["src"]) & (nonroot["id"] == und["dst"]),
        "left_anti",
    ).count()
    pr = t.select(F.col("id").alias("parent"), F.col("rank").alias("prank"))
    bad_order = (
        nonroot.join(pr, "parent").where(F.col("prank") >= F.col("rank")).count()
    )
    summary = t.agg(
        F.count("*").alias("reached"),
        F.min("rank").alias("rank_min"),
        F.max("rank").alias("rank_max"),
        F.countDistinct("rank").alias("n_ranks"),
        F.sum(F.when((F.col("rank") == 0)
                     & (F.col("id") == source)
                     & (F.col("parent") == source), 1).otherwise(0)).alias("root_ok"),
    ).select(
        "reached", "rank_min", "rank_max", "n_ranks", "root_ok",
        F.lit(int(bad_edges)).cast("long").alias("bad_edges"),
        F.lit(int(bad_order)).cast("long").alias("bad_order"),
    )
    t.unpersist()
    return summary


def _q_doc_features(spark, sf_dir):
    """Text-analysis family in one per-document frame: whitespace
    token count, heuristic quality score, and marker-based language id
    (pipeline.py token_count / quality_score / lang_id)."""
    tc = pl.token_count(spark, sf_dir)
    qs = pl.quality_score(spark, sf_dir)
    li = pl.lang_id(spark, sf_dir)
    return tc.join(qs, "doc_id").join(li, "doc_id")


def _q_blob_stats(spark, sf_dir):
    """Multimodal path: binary blob column → Arrow-batched mapInPandas
    kernel (linkgraph/multimodal.py); sha256 is the per-row invariant."""
    from linkgraph.multimodal import blob_stats

    return blob_stats(spark, sf_dir)


def _subgraph_graph(spark, sf_dir):
    """%6-thinned co-occurrence graph for the subgraph/motif/ordering
    gates: sparser than the near-clique full graph but — unlike the
    %24 biconnectivity thinning — still rich in triangles, 4/5-cliques
    and multi-layer cores (sf0.01: 19 380 edges, 4 097 triangles,
    400 4-cliques, degeneracy 14, 14 onion layers)."""
    e = part_edges(spark, sf_dir).select("src", "dst")
    th = e.where((F.col("src") * 1000003 + F.col("dst")) % 6 == 0)
    return Graph.from_edges(th, directed=True)


def _q_kclique(spark, sf_dir):
    """Global k-clique counts for k = 3, 4, 5 in one row
    (flash/subgraph/k-clique.h:44-95) — the reference's per-vertex
    recursive out-set intersection re-expressed as k-2 oriented
    equi-join extension stages."""
    from linkgraph.algos.subgraph import kclique_counts

    g = _subgraph_graph(spark, sf_dir)
    return _stored(kclique_counts(g, ks=(3, 4, 5)), g)


def _q_motif_census(spark, sf_dir):
    """Directed triangle census + undirected motif counts in one row
    (flash/subgraph/{acyclic,cyclic,in,out,tailed}-triangle.h,
    3-path.h, rectangle.h, diamond.h). Directed gate edges: pairs
    with co-occurrence weight ≥ 2 become RECIPROCAL (both
    directions); lighter pairs keep a parity direction — a
    deterministic rule both engines express identically that yields
    real cycles, transitive triangles and reciprocal pairs."""
    from linkgraph.algos.subgraph import motif_census

    e = part_edges(spark, sf_dir)
    th = e.where((F.col("src") * 1000003 + F.col("dst")) % 6 == 0)
    heavy = th.where(F.col("weight") >= 2).select("src", "dst")
    even = (F.col("src") + F.col("dst")) % 2 == 0
    light = th.where(F.col("weight") < 2).select(
        F.when(even, F.col("src")).otherwise(F.col("dst")).alias("src"),
        F.when(even, F.col("dst")).otherwise(F.col("src")).alias("dst"),
    )
    de = (
        heavy.unionByName(
            heavy.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        ).unionByName(light)
    )
    g = Graph.from_edges(de, directed=True)
    return _stored(motif_census(g), g)


def _q_densest(spark, sf_dir):
    """Densest-subgraph 2-approximation = average degree of the
    max-core subgraph (flash/subgraph/densest-sub-2-approx.h:39-98),
    on the full co-occurrence graph (shares the kshell H-index
    fixpoint substrate)."""
    from linkgraph.algos.subgraph import densest_subgraph

    g = part_graph(spark, sf_dir)
    return _stored(densest_subgraph(g), g)


def _q_subgraph_census(spark, sf_dir):
    """Consolidated one-row subgraph family (kclique + motif census +
    densest — three single-row frames cross-joined, the registry-cap
    consolidation pattern): every underlying engine path still runs."""
    return (
        _q_kclique(spark, sf_dir)
        .crossJoin(_q_motif_census(spark, sf_dir))
        .crossJoin(_q_densest(spark, sf_dir))
    )


def _q_pattern_match(spark, sf_dir):
    """Generic declarative pattern matching (GIE Pattern,
    interactive_engine/executor/ir/proto/algebra.proto:407, planned as
    ExtendIntersect) — match_pattern compiles arbitrary small labeled
    patterns to the kclique-style equi-join stages. Gate: (1) a
    4-vertex LABELED tailed triangle a–b–c(–a), c–d with
    size_class(a)=0 and size_class(d)=1 over the %6 graph with part
    p_size%3 vertex labels; (2) a directed transitive triangle
    x→y→z, x→z over the stored directions. One row
    (n_tailed_labeled, n_trans_dir)."""
    from linkgraph.algos.patterns import match_pattern

    e = part_edges(spark, sf_dir).select("src", "dst")
    th = e.where((F.col("src") * 1000003 + F.col("dst")) % 6 == 0)
    labels = (
        spark.read.parquet(f"{sf_dir}/part.parquet")
        .select(
            F.col("p_partkey").cast("long").alias("id"),
            (F.col("p_size") % 3).cast("long").alias("size_class"),
        )
    )
    g = Graph.from_edges(th, vertices=labels, directed=True)
    m1 = match_pattern(
        g,
        [("a", "b"), ("b", "c"), ("a", "c"), ("c", "d")],
        vertex_predicates={
            "a": F.col("size_class") == 0,
            "d": F.col("size_class") == 1,
        },
    )
    m2 = match_pattern(g, [("x", "y"), ("y", "z"), ("x", "z")], directed=True)
    c1 = m1.agg(F.count("*").cast("long").alias("n_tailed_labeled"))
    c2 = m2.agg(F.count("*").cast("long").alias("n_trans_dir"))
    return c1.crossJoin(c2)


def _q_project_labels(spark, sf_dir):
    """Multi-label property-graph layer (graph_schema.py:32-249,
    graph.py:816-868; the twin-label v2_e2 analog of
    tests/conftest.py:85-231): build a 3-label / 2-relation graph from
    the TPC-H tables — (customer)-[placed]->(order)-[contains]->(part)
    with namespaced global ids — project TWO different simple graphs,
    and run wcc + degrees on each. Rows: (g, id, label, comp,
    degree) for every vertex of both projections."""
    from linkgraph.labels import PropertyGraph, namespaced_id
    from linkgraph.algos.wcc import wcc as _wcc

    cust = spark.read.parquet(f"{sf_dir}/customer.parquet").select(
        namespaced_id("c_custkey", 0, 3),
        F.col("c_nationkey").cast("long").alias("nationkey"),
    )
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    ordv = orders.select(namespaced_id("o_orderkey", 1, 3))
    partv = spark.read.parquet(f"{sf_dir}/part.parquet").select(
        namespaced_id("p_partkey", 2, 3),
        F.col("p_size").cast("long").alias("size"),
    )
    placed = orders.select(
        (F.col("o_custkey").cast("long") * 3 + 0).alias("src"),
        (F.col("o_orderkey").cast("long") * 3 + 1).alias("dst"),
    )
    contains = (
        spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        .select(
            (F.col("l_orderkey").cast("long") * 3 + 1).alias("src"),
            (F.col("l_partkey").cast("long") * 3 + 2).alias("dst"),
        )
        .dropDuplicates(["src", "dst"])
    )
    pg = (
        PropertyGraph(directed=True)
        .add_vertices("customer", cust)
        .add_vertices("order", ordv)
        .add_vertices("part", partv)
        .add_edges("placed", placed, "customer", "order")
        .add_edges("contains", contains, "order", "part")
    )
    assert pg.schema()["edges"]["placed"]["relation"] == ("customer", "order")
    out, graphs = None, []
    for tag, gsel in (
        ("g1", pg.project(vertices={"customer": [], "order": []},
                          edges={"placed": []})),
        ("g2", pg.project(vertices={"order": [], "part": []},
                          edges={"contains": []})),
    ):
        graphs.append(gsel)
        comp = _wcc(gsel).state
        degs = gsel.degrees(True, loops=True, reduce="all")  # every edge end
        r = (
            gsel.vertices.select("id", "label")
            .join(comp, "id", "left")
            .join(degs, "id", "left")
            .select(
                F.lit(tag).alias("g"), "id", "label",
                F.coalesce("comp", F.col("id")).alias("comp"),
                F.coalesce("degree", F.lit(0)).cast("long").alias("degree"),
            )
        )
        out = r if out is None else out.unionByName(r)
    return _stored(out, *graphs)


def _q_ordering(spark, sf_dir):
    """Degeneracy ordering + onion-layer ordering per vertex
    (flash/core/{degeneracy-ordering.h:44-113,
    onion-layer-ordering.h:44-110}) on the %6-thinned graph; the
    shared core numbers are computed once (H-index fixpoint) and
    emitted as a third column, and the k=KCS_K core membership
    (flash/core/k-core-search.h:48-64) as a fourth. One peel-wave
    path runs the two orderings and kcore(); the oracle derives
    membership independently from the H-index core numbers
    (core >= k)."""
    from linkgraph.algos.cores import kshell
    from linkgraph.algos.ordering import degeneracy_ordering, onion_layers

    g = _subgraph_graph(spark, sf_dir)
    rsh = kshell(g)
    _assert_unroll(rsh, S6_HINDEX_LAYERS, "s6 kshell")
    sh = rsh.state
    r1 = degeneracy_ordering(g, shell=sh)
    _assert_unroll(r1, DEGEN_UNROLL, "degeneracy_ordering")
    r2 = onion_layers(g, shell=sh)
    _assert_unroll(r2, ONION_UNROLL, "onion_layers")
    rk = kcore(g, k=KCS_K)
    g.release()
    return (
        sh.select("id", F.col("shell").cast("long").alias("core"))
        .join(r1.state.select("id", F.col("rank").alias("deg_rank")), "id")
        .join(r2.state.select("id", F.col("layer").alias("onion_layer")), "id")
        .join(rk.state.select("id", F.col("in_core").alias("in_kcore")), "id")
    )


def _q_covers(spark, sf_dir):
    """Greedy 2-phase minimal vertex cover per vertex
    (flash/matching/min-cover.h:43-116) on the %6-thinned graph."""
    from linkgraph.algos.matching import min_vertex_cover

    g = _subgraph_graph(spark, sf_dir)
    r = min_vertex_cover(g)
    _assert_unroll(r, MC_P1_UNROLL + MC_P2_UNROLL, "min_vertex_cover")
    g.release()
    return r.state.select("id", "in_cover")


def _q_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash + SimHash + winnowed rolling-hash document fingerprints
    consolidated into one gate (registry stays ≤50): one row per
    (doc_id, seed) carrying the seed's minhash, the doc's 32-bit
    simhash, and the doc's winnowing-fingerprint-set summary
    (count / sum / min of the distinct Rabin–Karp winnow fingerprints,
    pipeline.rolling_fingerprints) alongside."""
    mh = pl.minhash_signatures(spark, sf_dir)
    sh = pl.simhash(spark, sf_dir)
    rsum = (
        pl.rolling_fingerprints(spark, sf_dir)
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("winnow_n"),
            F.sum("fp").alias("winnow_sum"),
            F.min("fp").alias("winnow_min"),
        )
    )
    return (
        mh.join(sh, "doc_id")
        .join(rsum, "doc_id", "left")
        .select(
            "doc_id", "seed", "minhash", "simhash",
            "winnow_n", "winnow_sum", "winnow_min",
        )
    )


# pinned IVF gate geometry (the DuckDB twin embeds the centroid
# literals in a static SQL string; the library default is data-sized
# pl.ivf_auto_params)
IVF_GATE_C, IVF_GATE_P = 16, 4


def _q_embedding_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Similarity-search gate: exact brute-force top-10 UNION the IVF
    (inverted-file) approximate top-10, tagged by a method column —
    both paths hash-verified against the same static SQL twin."""
    exact = pl.embedding_topk(spark, sf_dir)
    ivf = pl.embedding_ivf_topk(
        spark, sf_dir, n_centroids=IVF_GATE_C, n_probe=IVF_GATE_P
    )
    return exact.select(
        F.lit("exact").alias("method"), "q", "vec_id", "rank", "sim"
    ).unionByName(
        ivf.select(F.lit("ivf").alias("method"), "q", "vec_id", "rank", "sim")
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """≤50 entries by design: the round-3 driver capped its oracle run
    at the first 50 registry keys, so sibling operators that share a
    frame are consolidated into multi-column gates (each gate still
    drives every underlying engine code path) and every family —
    including the 13 training-data pipeline ops — sits inside the
    checked window. Functions folded into a sibling gate: lcc/
    triangle_count/transitivity/avg_clustering → triangles/
    triangle_stats, bfs_tree → bfs, sssp_path → sssp, kcore → kshell
    and ordering (k-core search, in_kcore column), harmonic →
    closeness, sssp_avg_length_w → sssp_avg_length, louvain ⊂
    louvain_full, mis/maximal_matching/min_dominating_set →
    matching_family, degree/attr assortativity → assortativity,
    node/edge boundary → boundary, is_simple_path/all_simple_paths →
    simple_paths, doc_sha ⊂ blob_stats, token_count/quality_score/
    lang_id → doc_features, lsh_candidates ⊂ fingerprints +
    dedup_clusters, minhash_signatures/simhash → fingerprints,
    embedding_ivf_topk → embedding_topk (method column),
    eigenvector/katz → eig_katz, ppr/articlerank → rank_family,
    k_center → diameter_approx (dis column)."""
    return {
        # graph ETL + flagship algorithms (SURVEY.md §2.2)
        "part_edges": _q_part_edges,
        "degree_centrality": _q_degree_centrality,
        "pagerank": _q_pagerank,
        "wcc": _q_wcc,
        "cdlp": _q_cdlp,
        "triangles": _q_triangles,
        "triangle_stats": _q_triangle_stats,
        "bfs": _q_bfs,
        "sssp": _q_sssp,
        "hits": _q_hits,
        "kshell": _q_kshell,
        "eig_katz": _q_eig_katz,
        "closeness": _q_closeness,
        "apsp": _q_apsp,
        "sssp_avg_length": _q_avg_length,
        "betweenness": _q_betweenness,
        "louvain_full": _q_louvain_full,
        "scc": _q_scc,
        "bridges": _q_bridges,
        "articulation_points": _q_articulation,
        "bcc": _q_bcc,
        "matching_family": _q_matching_family,
        "msf": _q_msf,
        "diameter_approx": _q_diameter,
        "rank_family": _q_rank_family,
        "coloring": _q_coloring,
        "fluid": _q_fluid,
        "clustering_directed": _q_clustering_directed,
        "assortativity": _q_assortativity,
        "avg_degree_connectivity": _q_avg_degree_connectivity,
        "boundary": _q_boundary,
        "voterank": _q_voterank,
        "lpa_u2i": _q_lpa_u2i,
        "sampling_path": _q_sampling_path,
        "simple_paths": _q_simple_paths,
        "dfs": _q_dfs,
        # r5 consolidation: kclique + motif_census + densest fold into
        # one single-row gate, freeing registry slots for the two new
        # r5 capabilities below (cap stays at exactly 50)
        "subgraph_census": _q_subgraph_census,
        "pattern_match": _q_pattern_match,
        "project_labels": _q_project_labels,
        "ordering": _q_ordering,
        "covers": _q_covers,
        # training-data pipeline operators (documents/embeddings)
        "blob_stats": _q_blob_stats,
        "dedup_exact": pl.dedup_exact,
        "doc_features": _q_doc_features,
        "ngram_jaccard": pl.ngram_jaccard_pairs,
        "fingerprints": _q_fingerprints,
        "embedding_topk": _q_embedding_topk,
        # SHIPPED-DEFAULT auto geometry (bits=None → pl.ann_auto_params
        # from the parquet footer row count): oracle_sql() generates
        # the DuckDB twin from the same computed (bits, tables), so the
        # gate verifies the path users actually run (VERDICT r4 ask 3)
        "embedding_ann": lambda spark, sf_dir: pl.embedding_ann(spark, sf_dir),
        # embedding-cosine near-dup pairs: threshold 0.3 because the
        # synthetic embeddings are i.i.d. random (max pairwise cosine
        # ~0.5 at sf0.01) — a production 0.9 would gate an empty frame;
        # pytest plants real duplicates and checks recall at 0.9
        "embedding_near_dup": lambda spark, sf_dir: pl.embedding_near_dup(
            spark, sf_dir, threshold=0.3),
        "dedup_clusters": pl.dedup_clusters,
    }


# ---------------------------------------------------------------------------
# DuckDB oracle SQL
# ---------------------------------------------------------------------------

def _pagerank_sql(iters: int = PR_ITERS, alpha: float = PR_ALPHA) -> str:
    parts = [
        f"WITH {PART_EDGES_SQL}",
        ", nn AS MATERIALIZED (SELECT CAST(count(*) AS DOUBLE) AS n FROM verts)",
        ", outd AS MATERIALIZED (SELECT src AS id, count(*) AS deg FROM edges GROUP BY src)",
        ", deg AS MATERIALIZED (SELECT v.id, coalesce(o.deg, 0) AS deg FROM verts v"
        " LEFT JOIN outd o ON o.id = v.id)",
        ", r0 AS MATERIALIZED (SELECT id, deg, 1.0/(SELECT n FROM nn) AS rank FROM deg)",
    ]
    for k in range(1, iters + 1):
        p = k - 1
        parts.append(
            f""", r{k} AS MATERIALIZED (
  SELECT d.id, d.deg,
    (1-{alpha})/(SELECT n FROM nn)
    + {alpha} * coalesce(m.msg, 0)
    + {alpha} * (SELECT coalesce(sum(rank),0) FROM r{p} WHERE deg = 0)
        / (SELECT n FROM nn) AS rank
  FROM deg d LEFT JOIN (
    SELECT e.dst AS id, sum(r.rank / r.deg) AS msg
    FROM edges e JOIN r{p} r ON r.id = e.src AND r.deg > 0
    GROUP BY e.dst) m ON m.id = d.id)"""
        )
    parts.append(f"SELECT id, round(rank, 8) AS rank FROM r{iters}")
    return "\n".join(parts)


def _cdlp_sql(rounds: int = CDLP_ROUNDS) -> str:
    parts = [
        f"WITH {PART_EDGES_SQL}",
        ", l0 AS MATERIALIZED (SELECT id, id AS label FROM verts)",
    ]
    for k in range(1, rounds + 1):
        p = k - 1
        parts.append(
            f""", h{k} AS MATERIALIZED (
  SELECT s.src AS id, l.label AS label, count(*) AS cnt
  FROM sym s JOIN l{p} l ON l.id = s.dst GROUP BY s.src, l.label)
, b{k} AS MATERIALIZED (
  SELECT id, min(label) AS new_label FROM (
    SELECT id, label, cnt, max(cnt) OVER (PARTITION BY id) AS mx FROM h{k})
  WHERE cnt = mx GROUP BY id)
, l{k} AS MATERIALIZED (
  SELECT l.id, coalesce(b.new_label, l.label) AS label
  FROM l{p} l LEFT JOIN b{k} b ON b.id = l.id)"""
        )
    parts.append(f"SELECT id, label FROM l{rounds}")
    return "\n".join(parts)


def _bfs_level_chain(layers: int, big: int) -> str:
    """Shared unrolled min-level relaxation producing CTE d{layers}
    (undirected view, source = min vertex id, unreached = big)."""
    parts = [
        f", d0 AS MATERIALIZED (SELECT id, CASE WHEN id = (SELECT min(id) FROM verts)"
        f" THEN 0 ELSE {big} END AS d FROM verts)",
    ]
    for k in range(1, layers + 1):
        p = k - 1
        parts.append(
            f""", d{k} AS MATERIALIZED (
  SELECT v.id, least(v.d, coalesce(m.cand, {big})) AS d
  FROM d{p} v LEFT JOIN (
    SELECT s.dst AS id, min(r.d + 1) AS cand
    FROM sym s JOIN d{p} r ON r.id = s.src WHERE r.d < {big}
    GROUP BY s.dst) m ON m.id = v.id)"""
        )
    return "\n".join(parts)


def _bfs_sql(layers: int = BFS_LAYERS) -> str:
    """BFS levels via unrolled min-level relaxation (every vertex,
    unreached = -1) PLUS the deterministic BFS tree: parent(v) =
    min u with level(u)+1 = level(v) and {u,v} an edge; root and
    unreached vertices are their own parent (matching the gate's
    NULL-coalesce)."""
    big = 10**15
    return (
        f"WITH {PART_EDGES_SQL}"
        + _bfs_level_chain(layers, big)
        + f"""
, lv AS MATERIALIZED (
  SELECT id, CAST(d AS BIGINT) AS level FROM d{layers} WHERE d < {big})
, par AS (
  SELECT s.dst AS id, min(s.src) AS parent
  FROM sym s JOIN lv a ON a.id = s.src JOIN lv b ON b.id = s.dst
  WHERE a.level + 1 = b.level
  GROUP BY s.dst)
SELECT v.id, coalesce(p.parent, v.id) AS parent,
       coalesce(l.level, -1) AS level
FROM verts v LEFT JOIN lv l ON l.id = v.id LEFT JOIN par p ON p.id = v.id"""
    )


def _sssp_sql(layers: int = BFS_LAYERS) -> str:
    """Two independent recurrences over one weighted undirected edge
    set: the plain unrolled Bellman-Ford (column dist_bf) and the
    frontier-style relaxation with deterministic min-(dist, pred)
    predecessor tracking (columns pred/dist) — twinning the gate's two
    engine paths (sssp() and sssp_path())."""
    big = 1e18
    parts = [
        f"WITH {PART_EDGES_SQL}",
        ", symw AS MATERIALIZED (SELECT src, dst, weight FROM edges"
        " UNION SELECT dst AS src, src AS dst, weight FROM edges)",
        ", s0 AS MATERIALIZED (SELECT id, CASE WHEN id = (SELECT min(id) FROM verts)"
        " THEN 0.0 ELSE CAST('inf' AS DOUBLE) END AS d FROM verts)",
    ]
    for k in range(1, layers + 1):
        p = k - 1
        parts.append(
            f""", s{k} AS MATERIALIZED (
  SELECT v.id, least(v.d, coalesce(m.cand, CAST('inf' AS DOUBLE))) AS d
  FROM s{p} v LEFT JOIN (
    SELECT e.dst AS id, min(r.d + e.weight) AS cand
    FROM symw e JOIN s{p} r ON r.id = e.src WHERE isfinite(r.d)
    GROUP BY e.dst) m ON m.id = v.id)"""
        )
    parts.append(
        f""", t0 AS MATERIALIZED (SELECT id,
    CASE WHEN id = (SELECT min(id) FROM verts) THEN 0.0 ELSE {big} END AS d,
    CASE WHEN id = (SELECT min(id) FROM verts) THEN id ELSE NULL END AS pred,
    id = (SELECT min(id) FROM verts) AS chg
  FROM verts)"""
    )
    for kk in range(1, layers + 1):
        p = kk - 1
        parts.append(
            f""", c{kk} AS MATERIALIZED (
  SELECT id, cd, pp FROM (
    SELECT e.dst AS id, r.d + e.weight AS cd, e.src AS pp,
           row_number() OVER (PARTITION BY e.dst ORDER BY r.d + e.weight, e.src) AS rn
    FROM symw e JOIN t{p} r ON r.id = e.src AND r.chg)
  WHERE rn = 1)
, t{kk} AS MATERIALIZED (
  SELECT t.id,
    CASE WHEN c.cd < t.d THEN c.cd ELSE t.d END AS d,
    CASE WHEN c.cd < t.d THEN c.pp ELSE t.pred END AS pred,
    coalesce(c.cd < t.d, FALSE) AS chg
  FROM t{p} t LEFT JOIN c{kk} c ON c.id = t.id)"""
        )
    parts.append(
        f"""SELECT t.id, t.pred, round(t.d, 8) AS dist, round(s.d, 8) AS dist_bf
FROM t{layers} t JOIN s{layers} s ON s.id = t.id WHERE t.d < {big} / 2"""
    )
    return "\n".join(parts)


def _hits_sql(iters: int = HITS_ITERS) -> str:
    """Unrolled HITS power iteration with per-round L2 normalization
    on the directed edge set (hub from out-edges, auth from in-edges)."""
    parts = [
        f"WITH {PART_EDGES_SQL}",
        ", x0 AS MATERIALIZED (SELECT id, 1.0 AS hub, 1.0 AS auth FROM verts)",
    ]
    for k in range(1, iters + 1):
        p = k - 1
        parts.append(
            f""", ra{k} AS MATERIALIZED (
  SELECT v.id, coalesce(m.s, 0.0) AS ra
  FROM x{p} v LEFT JOIN (
    SELECT e.dst AS id, sum(r.hub) AS s FROM edges e JOIN x{p} r ON r.id = e.src
    GROUP BY e.dst) m ON m.id = v.id)
, rh{k} AS MATERIALIZED (
  SELECT v.id, v.ra, coalesce(m.s, 0.0) AS rh
  FROM ra{k} v LEFT JOIN (
    SELECT e.src AS id, sum(r.ra) AS s FROM edges e JOIN ra{k} r ON r.id = e.dst
    GROUP BY e.src) m ON m.id = v.id)
, x{k} AS MATERIALIZED (
  SELECT id,
         rh / (SELECT CASE WHEN sqrt(sum(rh*rh)) > 0 THEN sqrt(sum(rh*rh)) ELSE 1.0 END FROM rh{k}) AS hub,
         ra / (SELECT CASE WHEN sqrt(sum(ra*ra)) > 0 THEN sqrt(sum(ra*ra)) ELSE 1.0 END FROM rh{k}) AS auth
  FROM rh{k})"""
        )
    parts.append(
        f"SELECT id, round(hub, 8) AS hub, round(auth, 8) AS auth FROM x{iters}"
    )
    return "\n".join(parts)


def _kcore_chain(k: int = KCORE_K, layers: int = KCORE_LAYERS) -> str:
    """Unrolled degree-prune producing CTE v{layers}: survivors_i =
    vertices with degree ≥ k in the subgraph induced on
    survivors_{i-1}."""
    parts = [
        ", v0 AS MATERIALIZED (SELECT id FROM verts)",
        ", e0 AS MATERIALIZED (SELECT src, dst FROM sym)",
    ]
    for i in range(1, layers + 1):
        p = i - 1
        parts.append(
            f""", v{i} AS MATERIALIZED (
  SELECT e.src AS id FROM e{p} e GROUP BY e.src HAVING count(*) >= {k})
, e{i} AS MATERIALIZED (
  SELECT e.src, e.dst FROM e{p} e
  JOIN v{i} a ON a.id = e.src JOIN v{i} b ON b.id = e.dst)"""
        )
    return "\n".join(parts)


def _eigenvector_sql(iters: int = EIG_ITERS) -> str:
    """Unrolled shifted power iteration x' = normalize(x + Aᵀx) on the
    directed edge set."""
    parts = [
        f"WITH {PART_EDGES_SQL}",
        ", nn AS MATERIALIZED (SELECT CAST(count(*) AS DOUBLE) AS n FROM verts)",
        ", y0 AS MATERIALIZED (SELECT id, 1.0/(SELECT n FROM nn) AS x FROM verts)",
    ]
    for k in range(1, iters + 1):
        p = k - 1
        parts.append(
            f""", raw{k} AS MATERIALIZED (
  SELECT v.id, v.x + coalesce(m.s, 0.0) AS x
  FROM y{p} v LEFT JOIN (
    SELECT e.dst AS id, sum(r.x) AS s FROM edges e JOIN y{p} r ON r.id = e.src
    GROUP BY e.dst) m ON m.id = v.id)
, y{k} AS MATERIALIZED (
  SELECT id, x / (SELECT CASE WHEN sqrt(sum(x*x)) > 0 THEN sqrt(sum(x*x)) ELSE 1.0 END FROM raw{k}) AS x
  FROM raw{k})"""
        )
    parts.append(f"SELECT id, round(x, 8) AS centrality FROM y{iters}")
    return "\n".join(parts)


def _katz_sql(iters: int = KATZ_ITERS, alpha: float = KATZ_ALPHA, beta: float = 1.0) -> str:
    """Unrolled Katz series x' = alpha·Aᵀx + beta, final L2 normalize."""
    parts = [
        f"WITH {PART_EDGES_SQL}",
        f", z0 AS MATERIALIZED (SELECT id, {beta} AS x FROM verts)",
    ]
    for k in range(1, iters + 1):
        p = k - 1
        parts.append(
            f""", z{k} AS MATERIALIZED (
  SELECT v.id, CAST({alpha} AS DOUBLE) * coalesce(m.s, 0.0) + CAST({beta} AS DOUBLE) AS x
  FROM z{p} v LEFT JOIN (
    SELECT e.dst AS id, sum(r.x) AS s FROM edges e JOIN z{p} r ON r.id = e.src
    GROUP BY e.dst) m ON m.id = v.id)"""
        )
    parts.append(
        f"SELECT id, round(x / (SELECT CASE WHEN sqrt(sum(x*x)) > 0"
        f" THEN sqrt(sum(x*x)) ELSE 1.0 END FROM z{iters}), 8) AS centrality FROM z{iters}"
    )
    return "\n".join(parts)


def _msbfs_layers(n_sources: int, layers: int = MSBFS_LAYERS) -> str:
    """Unrolled multi-source BFS over the undirected view: pair state
    (s, id, d); each layer expands the pairs discovered exactly at the
    previous depth. Produces CTE r{layers}."""
    parts = [
        f", srcs AS MATERIALIZED (SELECT id AS s FROM verts ORDER BY id LIMIT {n_sources})",
        ", r0 AS MATERIALIZED (SELECT s, s AS id, CAST(0 AS BIGINT) AS d FROM srcs)",
    ]
    for k in range(1, layers + 1):
        p = k - 1
        parts.append(
            f""", r{k} AS MATERIALIZED (
  SELECT s, id, min(d) AS d FROM (
    SELECT s, id, d FROM r{p}
    UNION ALL
    SELECT r.s, e.dst AS id, r.d + 1 AS d
    FROM sym e JOIN r{p} r ON r.id = e.src AND r.d = {p}
  ) GROUP BY s, id)"""
        )
    return "\n".join(parts)


def _closeness_sql(k: int = CLOSENESS_SOURCES, layers: int = MSBFS_LAYERS) -> str:
    """Closeness (Wasserman-Faust) AND harmonic centrality of the same
    K min-id sources — two aggregates of one unrolled multi-source BFS
    distance chain, twinning the gate's two engine runs."""
    return (
        f"WITH {PART_EDGES_SQL}"
        + _msbfs_layers(k, layers)
        + f"""
, agg AS (SELECT s, count(*) AS reached, sum(d) AS tot,
          sum(CASE WHEN d > 0 THEN 1.0 / d ELSE 0.0 END) AS harm
          FROM r{layers} GROUP BY s)
, nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM verts)
SELECT s AS id,
       round(CASE WHEN tot > 0 AND (SELECT n FROM nn) > 1
             THEN (reached - 1.0) / tot * (reached - 1.0) / ((SELECT n FROM nn) - 1.0)
             ELSE 0.0 END, 8) AS closeness,
       round(harm, 8) AS harmonic
FROM agg"""
    )


def _apsp_sql(k: int = APSP_SOURCES, layers: int = MSBFS_LAYERS) -> str:
    return (
        f"WITH {PART_EDGES_SQL}"
        + _msbfs_layers(k, layers)
        + f"\nSELECT s AS src, id AS dst, d AS dist FROM r{layers}"
    )


def _avg_length_sql(
    k: int = AVGLEN_SOURCES,
    layers: int = MSBFS_LAYERS,
    kw: int = AVGLEN_W_SOURCES,
    wlayers: int = AVGLEN_W_LAYERS,
) -> str:
    """Sampled average shortest-path length, unweighted (k min-id
    sources, BFS pair chain) and weighted (kw min-id sources,
    relaxation pair chain) — one two-column scalar row twinning the
    gate's two engine runs."""
    parts = [
        f"WITH {PART_EDGES_SQL}",
        _msbfs_layers(k, layers),
        ", symw AS MATERIALIZED (SELECT src, dst, weight FROM edges"
        " UNION SELECT dst AS src, src AS dst, weight FROM edges)",
        f", wsrcs AS MATERIALIZED (SELECT id AS s FROM verts ORDER BY id LIMIT {kw})",
        ", w0 AS MATERIALIZED (SELECT s, s AS id, 0.0 AS d FROM wsrcs)",
    ]
    for i in range(1, wlayers + 1):
        p = i - 1
        parts.append(
            f""", w{i} AS MATERIALIZED (
  SELECT s, id, min(d) AS d FROM (
    SELECT s, id, d FROM w{p}
    UNION ALL
    SELECT r.s, e.dst AS id, r.d + e.weight AS d
    FROM symw e JOIN w{p} r ON r.id = e.src
  ) GROUP BY s, id)"""
        )
    parts.append(
        f"""SELECT
  (SELECT round(CAST(sum(d) AS DOUBLE) / count(*), 8)
   FROM r{layers} WHERE d > 0) AS avg_length,
  (SELECT round(sum(d) / count(*), 8)
   FROM w{wlayers} WHERE d > 0) AS avg_length_w"""
    )
    return "\n".join(parts)


def _betweenness_sql(k: int = BETW_SOURCES, layers: int = BETW_LAYERS) -> str:
    """Unrolled Brandes over the undirected view: forward layered BFS
    accumulating (depth, sigma) pair rows, then backward dependency
    accumulation walking depths layers-1 .. 0 (no-op for depths beyond
    the true eccentricity)."""
    norm = 0.5 / (k * (k - 1))
    parts = [
        f"WITH {PART_EDGES_SQL}",
        f", srcs AS MATERIALIZED (SELECT id AS s FROM verts ORDER BY id LIMIT {k})",
        ", f0 AS MATERIALIZED (SELECT s, s AS id, CAST(0 AS BIGINT) AS depth,"
        " 1.0 AS sigma FROM srcs)",
    ]
    for kk in range(1, layers + 1):
        p = kk - 1
        parts.append(
            f""", f{kk} AS MATERIALIZED (
  SELECT s, id, depth, sigma FROM f{p}
  UNION ALL
  SELECT s, id, CAST({kk} AS BIGINT) AS depth, sigma FROM (
    SELECT r.s AS s, e.dst AS id, sum(r.sigma) AS sigma
    FROM sym e JOIN f{p} r ON r.id = e.src AND r.depth = {p}
    GROUP BY r.s, e.dst) n
  WHERE NOT EXISTS (SELECT 1 FROM f{p} x WHERE x.s = n.s AND x.id = n.id))"""
        )
    parts.append(
        f", b{layers} AS MATERIALIZED (SELECT s, id, depth, sigma, 0.0 AS delta"
        f" FROM f{layers})"
    )
    for d in range(layers - 1, -1, -1):
        q = d + 1
        parts.append(
            f""", b{d} AS MATERIALIZED (
  SELECT p.s, p.id, p.depth, p.sigma,
    CASE WHEN p.depth = {d} AND c.c IS NOT NULL THEN p.sigma * c.c ELSE p.delta END AS delta
  FROM b{q} p LEFT JOIN (
    SELECT t.s AS s, e.src AS id, sum((1.0 + t.delta) / t.sigma) AS c
    FROM sym e JOIN b{q} t ON t.id = e.dst AND t.depth = {q}
    GROUP BY t.s, e.src) c ON c.s = p.s AND c.id = p.id)"""
        )
    parts.append(
        f"""SELECT v.id, round(coalesce(x.b, 0.0), 8) AS betweenness
FROM verts v LEFT JOIN (
  SELECT id, sum(delta) * {norm!r} AS b FROM b0 WHERE s <> id GROUP BY id) x
  ON x.id = v.id"""
    )
    return "\n".join(parts)


def _kshell_sql(layers: int = KSHELL_LAYERS) -> str:
    """Unrolled iterated-H-index fixpoint: h0 = degree; each layer
    recomputes every vertex's H-index of its neighbors' h values via
    a per-vertex descending running sum over the (h, count) histogram."""
    parts = [
        f"WITH {PART_EDGES_SQL}",
        """, h0 AS MATERIALIZED (
  SELECT v.id, CAST(coalesce(d.deg, 0) AS BIGINT) AS h
  FROM verts v LEFT JOIN (
    SELECT src AS id, count(*) AS deg FROM sym GROUP BY src) d ON d.id = v.id)""",
    ]
    for k in range(1, layers + 1):
        p = k - 1
        parts.append(
            f""", h{k} AS MATERIALIZED (
  SELECT s.id, CAST(coalesce(x.hn, 0) AS BIGINT) AS h
  FROM h{p} s LEFT JOIN (
    SELECT id, max(least(h, cum)) AS hn FROM (
      SELECT id, h, sum(c) OVER (PARTITION BY id ORDER BY h DESC
                                 ROWS UNBOUNDED PRECEDING) AS cum
      FROM (SELECT e.src AS id, r.h AS h, count(*) AS c
            FROM sym e JOIN h{p} r ON r.id = e.dst GROUP BY e.src, r.h))
    GROUP BY id) x ON x.id = s.id)"""
        )
    # k=KCORE_K membership through the independent degree-prune chain
    # (the gate runs kcore() alongside kshell())
    parts.append(_kcore_chain())
    parts.append(
        f"SELECT s.id, s.h AS shell, (m.id IS NOT NULL) AS in_core"
        f" FROM h{layers} s LEFT JOIN v{KCORE_LAYERS} m ON m.id = s.id"
    )
    return "\n".join(parts)


def _voterank_sql(seeds: int = VOTERANK_SEEDS) -> str:
    """Unrolled VoteRank rounds with integer abilities in units of
    1/|sym|: score sums are order-independent integers, so the
    per-round (score DESC, id ASC) argmax is bit-identical."""
    parts = [
        f"WITH {PART_EDGES_SQL}",
        ", w0 AS MATERIALIZED (SELECT id, (SELECT count(*) FROM sym) AS wi FROM verts)",
        ", el0 AS MATERIALIZED (SELECT CAST(NULL AS BIGINT) AS id,"
        " CAST(NULL AS BIGINT) AS rnk WHERE 1 = 0)",
    ]
    for r in range(1, seeds + 1):
        p = r - 1
        parts.append(
            f""", sc{r} AS MATERIALIZED (
  SELECT e.src AS id, sum(w.wi) AS s
  FROM sym e JOIN w{p} w ON w.id = e.dst
  WHERE e.src NOT IN (SELECT id FROM el{p} WHERE id IS NOT NULL)
  GROUP BY e.src)
, top{r} AS MATERIALIZED (
  SELECT id, s FROM sc{r} WHERE s >= 1 ORDER BY s DESC, id ASC LIMIT 1)
, el{r} AS MATERIALIZED (
  SELECT id, rnk FROM el{p} UNION ALL SELECT id, {r} AS rnk FROM top{r})
, w{r} AS MATERIALIZED (
  SELECT w.id,
    CASE WHEN w.id = (SELECT id FROM top{r}) THEN 0
         WHEN EXISTS (SELECT 1 FROM sym e WHERE e.src = (SELECT id FROM top{r})
                      AND e.dst = w.id)
           THEN greatest(w.wi - (SELECT count(*) FROM verts), 0)
         ELSE w.wi END AS wi
  FROM w{p} w)"""
        )
    parts.append(
        f"SELECT id, CAST(rnk AS BIGINT) AS vote_rank FROM el{seeds} WHERE id IS NOT NULL"
    )
    return "\n".join(parts)


def _lpa_u2i_sql(rounds: int = LPA_U2I_ROUNDS) -> str:
    parts = [
        """WITH be AS MATERIALIZED (
  SELECT DISTINCT o_custkey AS u, l_partkey AS it
  FROM orders JOIN lineitem ON l_orderkey = o_orderkey)
, od AS MATERIALIZED (SELECT u, CAST(count(*) AS DOUBLE) AS od FROM be GROUP BY u)
, idg AS MATERIALIZED (SELECT it, CAST(count(*) AS DOUBLE) AS idg FROM be GROUP BY it)
, ns AS MATERIALIZED (
  SELECT b.u, sum(g.idg) AS ns FROM be b JOIN idg g ON g.it = b.it GROUP BY b.u)
, ul0 AS MATERIALIZED (
  SELECT u, CASE WHEN u % 19 = 0 THEN 1.0 WHEN u % 19 = 1 THEN 0.0
                 ELSE 0.5 END AS lab
  FROM (SELECT DISTINCT u FROM be))""",
    ]
    for r in range(1, rounds + 1):
        p = r - 1
        parts.append(
            f""", il{r} AS MATERIALIZED (
  SELECT b.it, sum(l.lab) AS il FROM be b JOIN ul{p} l ON l.u = b.u GROUP BY b.it)
, tmp{r} AS MATERIALIZED (
  SELECT b.u, sum(i.il) AS t FROM be b JOIN il{r} i ON i.it = b.it GROUP BY b.u)
, ul{r} AS MATERIALIZED (
  SELECT l.u,
    CASE WHEN l.lab = 0 OR l.lab = 1 THEN l.lab
         WHEN n.ns <> o.od THEN (coalesce(t.t, 0) - o.od * l.lab) / (n.ns - o.od)
         ELSE l.lab END AS lab
  FROM ul{p} l JOIN od o ON o.u = l.u JOIN ns n ON n.u = l.u
  LEFT JOIN tmp{r} t ON t.u = l.u)"""
        )
    parts.append(f'SELECT u AS "user", round(lab, 8) AS label FROM ul{rounds}')
    return "\n".join(parts)


def _clustering_directed_sql() -> str:
    return (
        f"WITH {PART_EDGES_SQL}"
        """, bsym AS MATERIALIZED (
  SELECT src, dst, CAST(count(*) AS DOUBLE) AS m FROM (
    SELECT src, dst FROM edges UNION ALL SELECT dst AS src, src AS dst FROM edges)
  GROUP BY src, dst)
, dtot AS MATERIALIZED (
  SELECT id, CAST(count(*) AS DOUBLE) AS dt FROM (
    SELECT src AS id FROM edges UNION ALL SELECT dst AS id FROM edges) GROUP BY id)
, drec AS (SELECT src AS id, CAST(count(*) AS DOUBLE) AS dr FROM bsym WHERE m = 2 GROUP BY src)
, supdeg AS (SELECT src AS id, count(*) AS sd FROM bsym GROUP BY src)
, orid AS MATERIALIZED (
  SELECT b.src, b.dst, b.m FROM bsym b
  JOIN supdeg a ON a.id = b.src JOIN supdeg c ON c.id = b.dst
  WHERE a.sd < c.sd OR (a.sd = c.sd AND b.src < b.dst))
, trid AS MATERIALIZED (
  SELECT e1.src AS x, e1.dst AS y, e2.dst AS z, e1.m * e2.m * e3.m AS t
  FROM orid e1 JOIN orid e2 ON e2.src = e1.dst
  JOIN orid e3 ON e3.src = e1.src AND e3.dst = e2.dst)
, crn AS (SELECT id, sum(t) AS t FROM (
    SELECT x AS id, t FROM trid UNION ALL SELECT y AS id, t FROM trid
    UNION ALL SELECT z AS id, t FROM trid) GROUP BY id)
SELECT v.id,
       round(CASE WHEN coalesce(d.dt, 0) * (coalesce(d.dt, 0) - 1)
                       - 2 * coalesce(r.dr, 0) > 0
             THEN coalesce(c.t, 0.0)
                  / (d.dt * (d.dt - 1) - 2 * coalesce(r.dr, 0))
             ELSE 0.0 END, 8) AS clustering
FROM verts v LEFT JOIN crn c ON c.id = v.id
LEFT JOIN dtot d ON d.id = v.id LEFT JOIN drec r ON r.id = v.id"""
    )


def _louvain_sql(rounds: int = LOUVAIN_ROUNDS) -> str:
    """Unrolled deterministic Louvain phase-1: per round compute
    community totals, neighbor-community weights, the ΔQ candidates
    (plus the synthetic stay-put row), argmax by (ΔQ desc, community
    asc) and the parity oscillation guard. All arithmetic is exact
    (integer-valued doubles; one IEEE division) so ties are
    reproduced bit-identically across engines."""
    parts = [
        f"WITH {PART_EDGES_SQL}",
        ", symw AS MATERIALIZED (SELECT src, dst, weight AS w FROM edges"
        " UNION ALL SELECT dst AS src, src AS dst, weight AS w FROM edges)",
        ", ki AS MATERIALIZED (SELECT src AS id, sum(w) AS k FROM symw GROUP BY src)",
        ", m2 AS (SELECT sum(k) AS v FROM ki)",
        ", l0 AS MATERIALIZED (SELECT v.id, v.id AS c, coalesce(kk.k, 0.0) AS k"
        " FROM verts v LEFT JOIN ki kk ON kk.id = v.id)",
    ]
    for r in range(rounds):
        even = 1 if r % 2 == 0 else 0
        parts.append(
            f""", sig{r} AS MATERIALIZED (SELECT c, sum(k) AS sig FROM l{r} GROUP BY c)
, wic{r} AS MATERIALIZED (
  SELECT e.src AS id, l.c AS nc, sum(e.w) AS wi
  FROM symw e JOIN l{r} l ON l.id = e.dst GROUP BY e.src, l.c)
, cand{r} AS MATERIALIZED (
  SELECT w.id, w.nc,
    CASE WHEN w.nc = cur.c AND s.sig - cur.k = 0 THEN 0.0
         ELSE w.wi - cur.k * (s.sig - CASE WHEN w.nc = cur.c THEN cur.k ELSE 0.0 END)
              / (SELECT v FROM m2)
    END AS dq
  FROM wic{r} w JOIN l{r} cur ON cur.id = w.id JOIN sig{r} s ON s.c = w.nc
  UNION ALL
  SELECT id, c AS nc, 0.0 AS dq FROM l{r})
, best{r} AS MATERIALIZED (
  SELECT id, nc AS best FROM (
    SELECT id, nc, dq,
           row_number() OVER (PARTITION BY id ORDER BY dq DESC, nc ASC) AS rn
    FROM cand{r}) WHERE rn = 1)
, l{r + 1} AS MATERIALIZED (
  SELECT l.id,
    CASE WHEN (l.c > b.best AND {even} = 1) OR (l.c < b.best AND {even} = 0)
         THEN l.c ELSE b.best END AS c,
    l.k
  FROM l{r} l JOIN best{r} b ON b.id = l.id)"""
        )
    parts.append(f"SELECT id, c AS community FROM l{rounds}")
    return "\n".join(parts)


def _louvain_full_sql(
    rounds: int = LOUVAIN_FULL_ROUNDS, levels: int = LOUVAIN_FULL_LEVELS
) -> str:
    """Unrolled FULL multi-level Louvain: per level, ``rounds``
    deterministic local-move rounds (the _louvain_sql recurrence plus
    the supernode-internal-weight term, which is 0 at level 0), then
    the phase-2 coarsening (inter-community weights summed into the
    coarse edge frame; intra weights — already ×2 via the symmetric
    frame — plus carried internals become the supernode internal), and
    the original-id → community mapping fold. All weights stay
    integer-valued doubles; ΔQ has a single IEEE division by the
    level-0 m2, so both engines tie-break identically."""
    parts = [
        f"WITH {PART_EDGES_SQL}",
        ", ew0 AS MATERIALIZED (SELECT src, dst, weight AS w FROM edges"
        " UNION ALL SELECT dst AS src, src AS dst, weight AS w FROM edges)",
        ", n0 AS MATERIALIZED (SELECT v.id, coalesce(kk.k, 0.0) AS k, 0.0 AS internal"
        " FROM verts v LEFT JOIN (SELECT src AS id, sum(w) AS k FROM ew0 GROUP BY src) kk"
        " ON kk.id = v.id)",
        ", m2 AS (SELECT sum(k) AS v FROM n0)",
    ]
    for lv in range(levels):
        parts.append(
            f", l{lv}s0 AS MATERIALIZED (SELECT id, id AS c, k, internal FROM n{lv})"
        )
        for r in range(rounds):
            even = 1 if r % 2 == 0 else 0
            parts.append(
                f""", l{lv}sig{r} AS MATERIALIZED (SELECT c, sum(k) AS sig FROM l{lv}s{r} GROUP BY c)
, l{lv}wic{r} AS MATERIALIZED (
  SELECT e.src AS id, l.c AS nc, sum(e.w) AS wi
  FROM ew{lv} e JOIN l{lv}s{r} l ON l.id = e.dst GROUP BY e.src, l.c)
, l{lv}cand{r} AS MATERIALIZED (
  SELECT w.id, w.nc,
    CASE WHEN w.nc = cur.c AND s.sig - cur.k = 0 THEN 0.0
         ELSE w.wi + CASE WHEN w.nc = cur.c THEN cur.internal ELSE 0.0 END
              - cur.k * (s.sig - CASE WHEN w.nc = cur.c THEN cur.k ELSE 0.0 END)
              / (SELECT v FROM m2)
    END AS dq
  FROM l{lv}wic{r} w JOIN l{lv}s{r} cur ON cur.id = w.id
  JOIN l{lv}sig{r} s ON s.c = w.nc
  UNION ALL
  SELECT id, c AS nc, 0.0 AS dq FROM l{lv}s{r})
, l{lv}best{r} AS MATERIALIZED (
  SELECT id, nc AS best FROM (
    SELECT id, nc, dq,
           row_number() OVER (PARTITION BY id ORDER BY dq DESC, nc ASC) AS rn
    FROM l{lv}cand{r}) WHERE rn = 1)
, l{lv}s{r + 1} AS MATERIALIZED (
  SELECT l.id,
    CASE WHEN (l.c > b.best AND {even} = 1) OR (l.c < b.best AND {even} = 0)
         THEN l.c ELSE b.best END AS c,
    l.k, l.internal
  FROM l{lv}s{r} l JOIN l{lv}best{r} b ON b.id = l.id)"""
            )
        fin = f"l{lv}s{rounds}"
        if lv == 0:
            parts.append(f", map1 AS MATERIALIZED (SELECT id, c AS community FROM {fin})")
        else:
            parts.append(
                f""", map{lv + 1} AS MATERIALIZED (
  SELECT m.id, s.c AS community
  FROM map{lv} m JOIN {fin} s ON s.id = m.community)"""
            )
        if lv < levels - 1:
            parts.append(
                f""", cx{lv} AS MATERIALIZED (
  SELECT e.src, e.dst, e.w, la.c AS ca, lb.c AS cb
  FROM ew{lv} e JOIN {fin} la ON la.id = e.src JOIN {fin} lb ON lb.id = e.dst)
, ew{lv + 1} AS MATERIALIZED (
  SELECT ca AS src, cb AS dst, sum(w) AS w FROM cx{lv} WHERE ca <> cb GROUP BY ca, cb)
, n{lv + 1} AS MATERIALIZED (
  SELECT g.id, g.k, coalesce(i.intra, 0.0) + g.bi AS internal
  FROM (SELECT c AS id, sum(k) AS k, sum(internal) AS bi FROM {fin} GROUP BY c) g
  LEFT JOIN (SELECT ca AS id, sum(w) AS intra FROM cx{lv} WHERE ca = cb GROUP BY ca) i
    ON i.id = g.id)"""
            )
    parts.append(f"SELECT id, community FROM map{levels}")
    return "\n".join(parts)


def _scc_sql() -> str:
    """Mutual-reachability fixpoint: scc(v) = min u with u⇝v and v⇝u
    over the parity-directed edge set (the recursive CTE is the SQL
    twin of the fwd/bwd colouring — same min-label semantics)."""
    return f"""WITH RECURSIVE {PART_EDGES_SQL}
, de AS MATERIALIZED (
  SELECT CASE WHEN (src + dst) % 2 = 0 THEN src ELSE dst END AS src,
         CASE WHEN (src + dst) % 2 = 0 THEN dst ELSE src END AS dst
  FROM edges)
, reach AS (
  SELECT id AS a, id AS b FROM verts
  UNION
  SELECT r.a, e.dst AS b FROM reach r JOIN de e ON e.src = r.b)
SELECT f.b AS id, min(f.a) AS scc
FROM reach f JOIN reach g ON g.a = f.b AND g.b = f.a
GROUP BY f.b"""


# deterministic hash-thinned edge set shared by the biconnectivity
# and matching-family gates (the full co-occurrence graph is one
# dense near-clique; thinning leaves multi-round greedy structure)
_THIN_SQL = """
, bedges AS MATERIALIZED (
    SELECT src, dst FROM edges WHERE (src * 1000003 + dst) % 24 = 0)
, bverts AS MATERIALIZED (
    SELECT DISTINCT id FROM (SELECT src AS id FROM bedges UNION ALL SELECT dst FROM bedges))
, bsym AS MATERIALIZED (SELECT src, dst FROM bedges UNION SELECT dst, src FROM bedges)"""


def _mis_chain(rounds: int = MIS_UNROLL, x: str = "mi") -> str:
    """Unrolled greedy MIS (mis.h) CTE chain, prefix-namespaced: per
    round the active local minima of r = deg·n + id join, their
    neighbours leave. Expects bverts/bsym/bdeg in scope; produces
    {x}a{rounds} with columns (id, r, active, sel)."""
    parts = [
        ", bn AS (SELECT count(*) AS n FROM bverts)",
        f", {x}a0 AS MATERIALIZED (SELECT v.id,"
        " coalesce(d.d, 0) * (SELECT n FROM bn) + v.id AS r,"
        " TRUE AS active, FALSE AS sel"
        " FROM bverts v LEFT JOIN bdeg d ON d.id = v.id)",
    ]
    for k in range(1, rounds + 1):
        p = k - 1
        parts.append(
            f""", {x}n{k} AS MATERIALIZED (
  SELECT e.dst AS id, min(s.r) AS nm
  FROM bsym e JOIN {x}a{p} s ON s.id = e.src AND s.active
  JOIN {x}a{p} t ON t.id = e.dst AND t.active
  GROUP BY e.dst)
, {x}s{k} AS MATERIALIZED (
  SELECT a.id FROM {x}a{p} a LEFT JOIN {x}n{k} m ON m.id = a.id
  WHERE a.active AND (m.nm IS NULL OR a.r < m.nm))
, {x}d{k} AS MATERIALIZED (
  SELECT DISTINCT e.dst AS id FROM bsym e JOIN {x}s{k} s ON s.id = e.src)
, {x}a{k} AS MATERIALIZED (
  SELECT a.id, a.r,
         a.active AND s.id IS NULL AND d.id IS NULL AS active,
         a.sel OR s.id IS NOT NULL AS sel
  FROM {x}a{p} a LEFT JOIN {x}s{k} s ON s.id = a.id LEFT JOIN {x}d{k} d ON d.id = a.id)"""
        )
    return "\n".join(parts)


def _mm_chain(rounds: int = MM_UNROLL, x: str = "mm") -> str:
    """Unrolled maximal matching (mm.h) CTE chain, prefix-namespaced:
    mutual-max-id active pairs match each round. Produces {x}a{rounds}
    with columns (id, match)."""
    parts = [
        f", {x}a0 AS MATERIALIZED (SELECT id, CAST(NULL AS BIGINT) AS match FROM bverts)",
    ]
    for k in range(1, rounds + 1):
        p = k - 1
        parts.append(
            f""", {x}p{k} AS MATERIALIZED (
  SELECT e.dst AS id, max(e.src) AS p
  FROM bsym e JOIN {x}a{p} s ON s.id = e.src AND s.match IS NULL
  JOIN {x}a{p} t ON t.id = e.dst AND t.match IS NULL
  GROUP BY e.dst)
, {x}m{k} AS MATERIALIZED (
  SELECT x.id AS u, x.p AS v FROM {x}p{k} x JOIN {x}p{k} y ON y.id = x.p AND y.p = x.id
  WHERE x.id < x.p)
, {x}a{k} AS MATERIALIZED (
  SELECT a.id, coalesce(a.match, mm2.mat) AS match
  FROM {x}a{p} a LEFT JOIN (
    SELECT u AS id, v AS mat FROM {x}m{k} UNION ALL SELECT v, u FROM {x}m{k}) mm2
  ON mm2.id = a.id)"""
        )
    return "\n".join(parts)


def _mds_chain(rounds: int = MDS_UNROLL, x: str = "md") -> str:
    """Unrolled greedy dominating set (min-dominating-set.h) CTE
    chain, prefix-namespaced: two closed-neighbourhood (cnt, id)
    argmax layers per round (the reference's double `local`), self-
    argmax vertices join. Priority encoded as cnt·10^12 + id
    (lexicographic, ids < 10^12). Produces {x}a{rounds} with columns
    (id, cnt, active, sel)."""
    B = 10**12
    parts = [
        f", {x}a0 AS MATERIALIZED (SELECT v.id, coalesce(d.d, 0) AS cnt,"
        " TRUE AS active, FALSE AS sel"
        " FROM bverts v LEFT JOIN bdeg d ON d.id = v.id)",
    ]
    for k in range(1, rounds + 1):
        p = k - 1
        parts.append(
            f""", {x}m1_{k} AS MATERIALIZED (
  SELECT t.id, max(t.v) AS m FROM (
    SELECT id, cnt * {B} + id AS v FROM {x}a{p} WHERE active
    UNION ALL
    SELECT e.dst AS id, s.cnt * {B} + s.id AS v
    FROM bsym e JOIN {x}a{p} s ON s.id = e.src AND s.active
    JOIN {x}a{p} t2 ON t2.id = e.dst AND t2.active
  ) t GROUP BY t.id)
, {x}m2_{k} AS MATERIALIZED (
  SELECT t.id, max(t.v) AS m FROM (
    SELECT id, m AS v FROM {x}m1_{k}
    UNION ALL
    SELECT e.dst AS id, s.m AS v
    FROM bsym e JOIN {x}m1_{k} s ON s.id = e.src
    JOIN {x}a{p} t2 ON t2.id = e.dst AND t2.active
  ) t GROUP BY t.id)
, {x}s{k} AS MATERIALIZED (SELECT id FROM {x}m2_{k} WHERE m % {B} = id)
, {x}d{k} AS MATERIALIZED (
  SELECT id FROM {x}s{k}
  UNION
  SELECT e.dst AS id FROM bsym e JOIN {x}s{k} s ON s.id = e.src)
, {x}rem{k} AS MATERIALIZED (
  SELECT a.id FROM {x}a{p} a LEFT JOIN {x}d{k} d ON d.id = a.id
  WHERE a.active AND d.id IS NULL)
, {x}rc{k} AS MATERIALIZED (
  SELECT e.dst AS id, count(*) AS c
  FROM bsym e JOIN {x}rem{k} r1 ON r1.id = e.src JOIN {x}rem{k} r2 ON r2.id = e.dst
  GROUP BY e.dst)
, {x}a{k} AS MATERIALIZED (
  SELECT a.id, coalesce(c.c, 0) AS cnt,
         r.id IS NOT NULL AS active,
         a.sel OR s.id IS NOT NULL AS sel
  FROM {x}a{p} a LEFT JOIN {x}rem{k} r ON r.id = a.id
  LEFT JOIN {x}rc{k} c ON c.id = a.id LEFT JOIN {x}s{k} s ON s.id = a.id)"""
        )
    return "\n".join(parts)


def _matching_family_sql(
    mis_rounds: int = MIS_UNROLL,
    mm_rounds: int = MM_UNROLL,
    mds_rounds: int = MDS_UNROLL,
) -> str:
    """The three greedy unrolls over one shared thinned edge set,
    joined per-vertex — the oracle twin of _q_matching_family."""
    return (
        f"WITH {PART_EDGES_SQL}{_THIN_SQL}"
        + "\n, bdeg AS MATERIALIZED (SELECT src AS id, count(*) AS d FROM bsym GROUP BY src)"
        + "\n" + _mis_chain(mis_rounds, "mi")
        + "\n" + _mm_chain(mm_rounds, "mm")
        + "\n" + _mds_chain(mds_rounds, "md")
        + f"""
SELECT v.id, mi.sel AS in_mis, coalesce(mm.match, -1) AS match, md.sel AS in_mds,
  CAST((SELECT count(*) FROM bverts)
       - (SELECT count(*) FROM mma{mm_rounds} WHERE match IS NOT NULL) / 2
       AS BIGINT) AS ec
FROM bverts v
JOIN mia{mis_rounds} mi ON mi.id = v.id
JOIN mma{mm_rounds} mm ON mm.id = v.id
JOIN mda{mds_rounds} md ON md.id = v.id"""
    )


# shared %6-thinned edge set for the subgraph/motif/ordering/cover
# gates (sparser than the near-clique full graph, denser than the
# %24 biconnectivity thinning — keeps cliques and multi-layer cores)
_S6_SQL = """
, s6e AS MATERIALIZED (
    SELECT src, dst, CAST(weight AS BIGINT) AS w FROM edges
    WHERE (src * 1000003 + dst) % 6 = 0)
, s6verts AS MATERIALIZED (
    SELECT DISTINCT id FROM (SELECT src AS id FROM s6e UNION ALL SELECT dst FROM s6e))
, s6sym AS MATERIALIZED (SELECT src, dst FROM s6e UNION SELECT dst AS src, src AS dst FROM s6e)
, s6deg AS MATERIALIZED (SELECT src AS id, count(*) AS d FROM s6sym GROUP BY src)
, s6o AS MATERIALIZED (
    SELECT s.src, s.dst FROM s6sym s
    JOIN s6deg d1 ON d1.id = s.src JOIN s6deg d2 ON d2.id = s.dst
    WHERE (d1.d < d2.d) OR (d1.d = d2.d AND s.src < s.dst))"""


def _hindex_chain(layers: int, sym: str = "sym", verts: str = "verts",
                  x: str = "h") -> str:
    """Unrolled iterated-H-index core-number fixpoint (same recurrence
    as _kshell_sql) parametrized over the edge/vertex CTE names, so
    the densest/ordering gates can run it on other edge sets.
    Produces {x}{layers} with columns (id, h)."""
    parts = [
        f""", {x}0 AS MATERIALIZED (
  SELECT v.id, CAST(coalesce(d.deg, 0) AS BIGINT) AS h
  FROM {verts} v LEFT JOIN (
    SELECT src AS id, count(*) AS deg FROM {sym} GROUP BY src) d ON d.id = v.id)"""
    ]
    for k in range(1, layers + 1):
        p = k - 1
        parts.append(
            f""", {x}{k} AS MATERIALIZED (
  SELECT s.id, CAST(coalesce(q.hn, 0) AS BIGINT) AS h
  FROM {x}{p} s LEFT JOIN (
    SELECT id, max(least(h, cum)) AS hn FROM (
      SELECT id, h, sum(c) OVER (PARTITION BY id ORDER BY h DESC
                                 ROWS UNBOUNDED PRECEDING) AS cum
      FROM (SELECT e.src AS id, r.h AS h, count(*) AS c
            FROM {sym} e JOIN {x}{p} r ON r.id = e.dst GROUP BY e.src, r.h))
    GROUP BY id) q ON q.id = s.id)"""
        )
    return "\n".join(parts)


def _clique_count_sql(k: int, tbl: str = "s6o") -> str:
    """Scalar k-clique count as one (k choose 2)-way self-join on the
    degree-ordered oriented edge table: v1..vk ascend in (deg, id)
    order, vj is introduced by edge e1j and pinned to every earlier
    member by edge eij — each k-clique matched exactly once."""
    parts = [f"SELECT count(*) FROM {tbl} e12"]
    for j in range(3, k + 1):
        parts.append(f"JOIN {tbl} e1{j} ON e1{j}.src = e12.src")
        for i in range(2, j):
            vi = "e12.dst" if i == 2 else f"e1{i}.dst"
            parts.append(
                f"JOIN {tbl} e{i}{j} ON e{i}{j}.src = {vi} AND e{i}{j}.dst = e1{j}.dst"
            )
    return " ".join(parts)


def _kclique_sql() -> str:
    return (
        f"WITH {PART_EDGES_SQL}{_S6_SQL}\n"
        f"SELECT CAST(({_clique_count_sql(3)}) AS BIGINT) AS n_3,\n"
        f"       CAST(({_clique_count_sql(4)}) AS BIGINT) AS n_4,\n"
        f"       CAST(({_clique_count_sql(5)}) AS BIGINT) AS n_5"
    )


def _motif_census_sql() -> str:
    """Directed census over the parity+weight-directed %6 edge set and
    undirected motif counts over its underlying simple graph — each
    count the same closed-form join as the Spark side (see
    linkgraph/algos/subgraph.py motif_census)."""
    return f"""WITH {PART_EDGES_SQL}{_S6_SQL}
, de6 AS MATERIALIZED (
    SELECT src, dst FROM s6e WHERE w >= 2
    UNION SELECT dst AS src, src AS dst FROM s6e WHERE w >= 2
    UNION SELECT CASE WHEN (src + dst) % 2 = 0 THEN src ELSE dst END AS src,
                 CASE WHEN (src + dst) % 2 = 0 THEN dst ELSE src END AS dst
          FROM s6e WHERE w < 2)
, recip6 AS MATERIALIZED (
    SELECT a.src, a.dst FROM de6 a JOIN de6 b ON b.src = a.dst AND b.dst = a.src
    WHERE a.src < a.dst)
, recipo6 AS MATERIALIZED (
    SELECT a.src, a.dst FROM de6 a JOIN de6 b ON b.src = a.dst AND b.dst = a.src)
, corn6 AS MATERIALIZED (
    SELECT e1.src AS x, e1.dst AS y, e2.dst AS z
    FROM s6o e1 JOIN s6o e2 ON e2.src = e1.dst
    JOIN s6o e3 ON e3.src = e1.src AND e3.dst = e2.dst)
, tv6 AS MATERIALIZED (
    SELECT id, count(*) AS tri FROM (
      SELECT x AS id FROM corn6 UNION ALL SELECT y FROM corn6
      UNION ALL SELECT z FROM corn6)
    GROUP BY id)
, te6 AS MATERIALIZED (
    SELECT a, b, count(*) AS t FROM (
      SELECT least(x, y) AS a, greatest(x, y) AS b FROM corn6
      UNION ALL SELECT least(y, z), greatest(y, z) FROM corn6
      UNION ALL SELECT least(x, z), greatest(x, z) FROM corn6)
    GROUP BY a, b)
, wed6 AS MATERIALIZED (
    SELECT a.src AS v, o.dst AS o, count(*) AS c
    FROM s6sym a JOIN s6o o ON o.src = a.dst
    JOIN s6deg dv ON dv.id = a.src JOIN s6deg dd ON dd.id = o.dst
    WHERE (dd.d > dv.d) OR (dd.d = dv.d AND o.dst > a.src)
    GROUP BY a.src, o.dst)
SELECT
  (SELECT count(*) FROM de6 e1 JOIN de6 e2 ON e2.src = e1.dst
     JOIN de6 e3 ON e3.src = e1.src AND e3.dst = e2.dst) AS n_trans,
  CAST((SELECT count(*) FROM de6 e1 JOIN de6 e2 ON e2.src = e1.dst
     JOIN de6 e3 ON e3.src = e2.dst AND e3.dst = e1.src) / 3 AS BIGINT) AS n_cyclic,
  (SELECT count(*) FROM recip6 r JOIN de6 a ON a.src = r.src
     JOIN de6 b ON b.src = r.dst AND b.dst = a.dst) AS n_in_plus,
  (SELECT count(*) FROM recip6 r JOIN de6 a ON a.dst = r.src
     JOIN de6 b ON b.dst = r.dst AND b.src = a.src) AS n_out_plus,
  (SELECT count(*) FROM recipo6 r JOIN de6 a ON a.dst = r.src
     JOIN de6 b ON b.src = r.dst AND b.dst = a.src) AS n_cycle_plus,
  CAST(coalesce((SELECT sum(t.tri * (d.d - 2)) FROM tv6 t
     JOIN s6deg d ON d.id = t.id), 0) AS BIGINT) AS n_tailed,
  CAST((SELECT coalesce(sum((d1.d - 1) * (d2.d - 1)), 0) FROM s6e e
        JOIN s6deg d1 ON d1.id = e.src JOIN s6deg d2 ON d2.id = e.dst)
       - 3 * (SELECT count(*) FROM corn6) AS BIGINT) AS n_paths3,
  CAST(coalesce((SELECT sum(c * (c - 1) / 2) FROM wed6), 0) AS BIGINT) AS n_rect,
  CAST(coalesce((SELECT sum(t * (t - 1) / 2) FROM te6), 0) AS BIGINT) AS n_diamond"""


def _densest_sql(layers: int = KSHELL_LAYERS) -> str:
    """Max-core average degree over the full co-occurrence graph; core
    numbers via the same unrolled H-index fixpoint as the kshell gate."""
    return (
        f"WITH {PART_EDGES_SQL}"
        + _hindex_chain(layers, "sym", "verts", "dh")
        + f"""
, dcm AS (SELECT max(h) AS m FROM dh{layers})
, ds AS MATERIALIZED (SELECT id FROM dh{layers} WHERE h = (SELECT m FROM dcm))
, de AS (SELECT count(*) AS ne FROM sym e
         JOIN ds a ON a.id = e.src JOIN ds b ON b.id = e.dst)
SELECT (SELECT count(*) FROM ds) AS n_sub,
       (SELECT ne FROM de) AS deg_sum,
       round((SELECT ne FROM de) * 1.0 / (SELECT count(*) FROM ds), 8) AS density"""
    )


def _ordering_sql(
    hlayers: int = S6_HINDEX_LAYERS,
    degr: int = DEGEN_UNROLL,
    onr: int = ONION_UNROLL,
) -> str:
    """Unrolled degeneracy + onion peel waves over the %6 graph; extra
    rounds beyond the data's actual wave count are no-ops (an already-
    stamped vertex keeps its stamp, an empty wave decrements nothing),
    so a generous fixed unroll equals the Spark fixpoint."""
    parts = [f"WITH {PART_EDGES_SQL}{_S6_SQL}"]
    parts.append(_hindex_chain(hlayers, "s6sym", "s6verts", "sh"))
    parts.append(f", s6core AS MATERIALIZED (SELECT id, h AS core FROM sh{hlayers})")
    parts.append(", dgv AS (SELECT max(core) AS dg FROM s6core)")
    parts.append(""", dg0 AS MATERIALIZED (
  SELECT v.id, CAST(coalesce(d.d, 0) AS BIGINT) AS d, CAST(NULL AS BIGINT) AS rnk
  FROM s6verts v LEFT JOIN s6deg d ON d.id = v.id)""")
    for k in range(1, degr + 1):
        p = k - 1
        parts.append(f""", dgr{k} AS MATERIALIZED (
  SELECT id FROM dg{p} WHERE rnk IS NULL AND d <= (SELECT dg FROM dgv))
, dg{k} AS MATERIALIZED (
  SELECT s.id, s.d - coalesce(q.c, 0) AS d,
         CASE WHEN s.rnk IS NOT NULL THEN s.rnk
              WHEN s.d <= (SELECT dg FROM dgv) THEN {p} END AS rnk
  FROM dg{p} s LEFT JOIN (
    SELECT e.src AS id, count(*) AS c FROM s6sym e JOIN dgr{k} r ON r.id = e.dst
    GROUP BY e.src) q ON q.id = s.id)""")
    parts.append(""", on0 AS MATERIALIZED (
  SELECT c.id, c.core, CAST(coalesce(q.d, 0) AS BIGINT) AS d,
         CAST(NULL AS BIGINT) AS layer
  FROM s6core c LEFT JOIN (
    SELECT e.src AS id, count(*) AS d FROM s6sym e
    JOIN s6core cs ON cs.id = e.src JOIN s6core cd ON cd.id = e.dst
    WHERE cd.core >= cs.core GROUP BY e.src) q ON q.id = c.id)""")
    for k in range(1, onr + 1):
        p = k - 1
        parts.append(f""", onr{k} AS MATERIALIZED (
  SELECT id, core FROM on{p} WHERE layer IS NULL AND d <= core)
, on{k} AS MATERIALIZED (
  SELECT s.id, s.core, s.d - coalesce(q.c, 0) AS d,
         CASE WHEN s.layer IS NOT NULL THEN s.layer
              WHEN s.d <= s.core THEN {p} END AS layer
  FROM on{p} s LEFT JOIN (
    SELECT e.src AS id, count(*) AS c FROM s6sym e
    JOIN onr{k} r ON r.id = e.dst
    JOIN s6core cs ON cs.id = e.src
    WHERE cs.core = r.core GROUP BY e.src) q ON q.id = s.id)""")
    # in_kcore: the k-core-search gate column, derived INDEPENDENTLY
    # of the engine's push-decrement wave — membership of the k-core
    # is exactly core number >= k
    parts.append(f"""SELECT c.id, c.core,
  CAST(coalesce(d.rnk, -1) AS BIGINT) AS deg_rank,
  CAST(coalesce(o.layer, -1) AS BIGINT) AS onion_layer,
  (c.core >= {KCS_K}) AS in_kcore
FROM s6core c JOIN dg{degr} d ON d.id = c.id JOIN on{onr} o ON o.id = c.id""")
    return "\n".join(parts)


def _covers_sql(p1: int = MC_P1_UNROLL, p2: int = MC_P2_UNROLL) -> str:
    """Unrolled 2-phase greedy vertex cover over the %6 graph
    (min-cover.h): phase-1 round k admits active vertices with
    residual degree ≥ floor(n/2^k); phase-2 rounds drop redundant
    cover vertices with no higher-id redundant neighbour. Extra
    rounds at either fixpoint are no-ops."""
    parts = [
        f"WITH {PART_EDGES_SQL}{_S6_SQL}",
        ", n6 AS (SELECT count(*) AS n FROM s6verts)",
        """, mc0 AS MATERIALIZED (
  SELECT v.id, CAST(coalesce(d.d, 0) AS BIGINT) AS d, FALSE AS c
  FROM s6verts v LEFT JOIN s6deg d ON d.id = v.id)""",
    ]
    for k in range(1, p1 + 1):
        p = k - 1
        parts.append(f""", mcs{k} AS MATERIALIZED (
  SELECT id FROM mc{p}
  WHERE NOT c AND d > 0
    AND d >= CAST(floor((SELECT n FROM n6) / {2 ** k}) AS BIGINT))
, mc{k} AS MATERIALIZED (
  SELECT s.id, s.d - coalesce(q.cnt, 0) AS d,
         (s.c OR m.id IS NOT NULL) AS c
  FROM mc{p} s
  LEFT JOIN mcs{k} m ON m.id = s.id
  LEFT JOIN (
    SELECT e.src AS id, count(*) AS cnt FROM s6sym e JOIN mcs{k} r ON r.id = e.dst
    GROUP BY e.src) q ON q.id = s.id)""")
    parts.append(f", cv0 AS MATERIALIZED (SELECT id FROM mc{p1} WHERE c)")
    for j in range(1, p2 + 1):
        p = j - 1
        parts.append(f""", unc{j} AS MATERIALIZED (
  SELECT DISTINCT e.src AS id FROM s6sym e LEFT JOIN cv{p} t ON t.id = e.dst
  WHERE t.id IS NULL)
, rb{j} AS MATERIALIZED (
  SELECT c.id FROM cv{p} c LEFT JOIN unc{j} u ON u.id = c.id WHERE u.id IS NULL)
, rh{j} AS MATERIALIZED (
  SELECT DISTINCT e.dst AS id FROM s6sym e
  JOIN rb{j} x ON x.id = e.src JOIN rb{j} y ON y.id = e.dst
  WHERE e.src > e.dst)
, rd{j} AS MATERIALIZED (
  SELECT b.id FROM rb{j} b LEFT JOIN rh{j} h ON h.id = b.id WHERE h.id IS NULL)
, cv{j} AS MATERIALIZED (
  SELECT c.id FROM cv{p} c LEFT JOIN rd{j} r ON r.id = c.id WHERE r.id IS NULL)""")
    parts.append(f"""SELECT v.id, (c.id IS NOT NULL) AS in_cover
FROM s6verts v LEFT JOIN cv{p2} c ON c.id = v.id""")
    return "\n".join(parts)


def _msf_sql(wrange: int = MSF_W_RANGE) -> str:
    """MSF total weight via the Kruskal threshold identity — for
    integer weights, MSF weight = Σ_{{k=0}}^{{W-1}} (C_k − C) where
    C_k = #components of the ≤k-weight subgraph (exactly C_k − C
    forest edges weigh more than k). Completely independent of the
    engine's Borůvka edge choices."""
    return f"""WITH RECURSIVE {PART_EDGES_SQL}
, wedges AS MATERIALIZED (
    SELECT src, dst, CAST(weight AS BIGINT) AS w FROM edges
    WHERE (src * 1000003 + dst) % 24 = 0)
, wverts AS MATERIALIZED (
    SELECT DISTINCT id FROM (SELECT src AS id FROM wedges UNION ALL SELECT dst FROM wedges))
, symw AS MATERIALIZED (
    SELECT src, dst, w FROM wedges
    UNION ALL
    SELECT dst AS src, src AS dst, w FROM wedges)
, ks AS (SELECT unnest(generate_series(0, {wrange - 1})) AS k)
, lab(k, id, comp) AS (
    SELECT ks.k, v.id, v.id FROM ks, wverts v
    UNION
    SELECT l.k, e.dst, l.comp
    FROM lab l JOIN symw e ON e.src = l.id AND e.w <= l.k
    WHERE l.comp < e.dst)
, mins AS MATERIALIZED (SELECT k, id, min(comp) AS c FROM lab GROUP BY k, id)
, cks AS MATERIALIZED (SELECT k, count(DISTINCT c) AS ck FROM mins GROUP BY k)
, ctot AS (SELECT count(DISTINCT c) AS c FROM mins WHERE k = {wrange - 1})
SELECT round(CAST(sum(ck - (SELECT c FROM ctot)) AS DOUBLE), 8) AS msf_weight FROM cks"""


def _diameter_sql(k: int = DIAM_K, layers: int = DIAM_LAYERS) -> str:
    """Two unrolled k-source BFS phases over the thinned graph: the
    second phase's sources are the top-k (ecc desc, id asc) of the
    first; diameter = max accumulated ecc, radius = min nonzero."""

    def bfs_layers(prefix: str, src_cte: str) -> list[str]:
        parts = [f", {prefix}0 AS MATERIALIZED (SELECT s, s AS id,"
                 f" CAST(0 AS BIGINT) AS d FROM {src_cte})"]
        for i in range(1, layers + 1):
            p = i - 1
            parts.append(
                f""", {prefix}{i} AS MATERIALIZED (
  SELECT s, id, min(d) AS d FROM (
    SELECT s, id, d FROM {prefix}{p}
    UNION ALL
    SELECT r.s, e.dst AS id, r.d + 1 AS d
    FROM bsym e JOIN {prefix}{p} r ON r.id = e.src AND r.d = {p}
  ) GROUP BY s, id)"""
            )
        return parts

    parts = [f"WITH {PART_EDGES_SQL}{_THIN_SQL}",
             f", s1 AS MATERIALIZED (SELECT id AS s FROM bverts ORDER BY id LIMIT {k})"]
    parts += bfs_layers("r", "s1")
    parts.append(
        f""", e1 AS MATERIALIZED (SELECT id, max(d) AS ecc FROM r{layers} GROUP BY id)
, s2 AS MATERIALIZED (SELECT id AS s FROM e1 ORDER BY ecc DESC, id ASC LIMIT {k})"""
    )
    parts += bfs_layers("q", "s2")
    parts.append(
        f""", e2 AS MATERIALIZED (SELECT id, max(d) AS ecc FROM q{layers} GROUP BY id)
, ecc AS (SELECT id, max(ecc) AS ecc FROM (SELECT * FROM e1 UNION ALL SELECT * FROM e2) GROUP BY id)
, diam AS MATERIALIZED (
  SELECT CAST(max(ecc) AS BIGINT) AS diameter,
         CAST(min(CASE WHEN ecc > 0 THEN ecc END) AS BIGINT) AS radius
  FROM ecc)
, bdeg2 AS MATERIALIZED (SELECT src AS id, count(*) AS d FROM bsym GROUP BY src)
, kc1 AS MATERIALIZED (
  SELECT v.id FROM bverts v JOIN bdeg2 d ON d.id = v.id
  ORDER BY d.d DESC, v.id ASC LIMIT 1)"""
    )
    # greedy k-center (k-center.h): kc centers chosen sequentially —
    # each single-source BFS folds dis = min(dis, dist(center, ·));
    # the next center maximizes dis with unreachable (NULL) first,
    # min id on ties — mirroring the Spark k_center() rule exactly
    for j in range(1, KCENTER_K + 1):
        parts.append(
            f", k{j}b0 AS MATERIALIZED (SELECT id, CAST(0 AS BIGINT) AS d FROM kc{j})"
        )
        for i in range(1, layers + 1):
            p = i - 1
            parts.append(f""", k{j}b{i} AS MATERIALIZED (
  SELECT id, min(d) AS d FROM (
    SELECT id, d FROM k{j}b{p}
    UNION ALL
    SELECT e.dst AS id, r.d + 1 AS d
    FROM bsym e JOIN k{j}b{p} r ON r.id = e.src AND r.d = {p}
  ) GROUP BY id)""")
        prev = (
            f"SELECT v.id, b.d AS dis FROM bverts v LEFT JOIN k{j}b{layers} b ON b.id = v.id"
            if j == 1
            else f"""SELECT s.id,
    CASE WHEN s.dis IS NULL THEN b.d
         WHEN b.d IS NULL THEN s.dis
         ELSE least(s.dis, b.d) END AS dis
  FROM dis{j - 1} s LEFT JOIN k{j}b{layers} b ON b.id = s.id"""
        )
        parts.append(f", dis{j} AS MATERIALIZED (\n  {prev})")
        if j < KCENTER_K:
            parts.append(f""", kc{j + 1} AS MATERIALIZED (
  SELECT id FROM dis{j}
  ORDER BY (dis IS NULL) DESC, dis DESC, id ASC LIMIT 1)""")
    parts.append(
        f"""SELECT s.id, CAST(coalesce(s.dis, -1) AS BIGINT) AS dis, d.diameter, d.radius
FROM dis{KCENTER_K} s CROSS JOIN diam d"""
    )
    return "\n".join(parts)


def _biconn_sql_body(layers: int = BFS_LAYERS) -> str:
    """Shared oracle body for bridges / articulation_points / bcc —
    derived from FIRST PRINCIPLES rather than re-walking the engine's
    construction: deterministic BFS forest (wcc-min roots, min-parent),
    ancestor-or-self closure, then per non-tree edge {a,b} the
    symmetric difference of the endpoints' ancestor lists = exactly
    the vertices x whose subtree contains ONE endpoint (i.e. whose
    parent edge lies on the a..b tree path); the intersection's max
    depth is the LCA. crossing(x)=0 → bridge; a crossing edge whose
    LCA is strictly above parent(x) keeps (x, parent x) inside its
    block (hs), and min-label components of non-tree ∪ such tree
    edges are the biconnected groups."""
    return f"""WITH RECURSIVE {PART_EDGES_SQL}{_THIN_SQL}
, lab(id, comp) AS (
    SELECT id, id FROM bverts
    UNION
    SELECT s.dst, l.comp FROM lab l JOIN bsym s ON s.src = l.id WHERE l.comp < s.dst)
, roots AS MATERIALIZED (SELECT id FROM (SELECT id, min(comp) AS c FROM lab GROUP BY id) WHERE id = c)
, reach(id, d) AS (
    SELECT id, 0 FROM roots
    UNION
    SELECT s.dst, r.d + 1 FROM reach r JOIN bsym s ON s.src = r.id WHERE r.d < {layers})
, lv AS MATERIALIZED (SELECT id, min(d) AS d FROM reach GROUP BY id)
, par AS MATERIALIZED (
    SELECT b.dst AS id, min(b.src) AS parent
    FROM bsym b JOIN lv x ON x.id = b.src JOIN lv y ON y.id = b.dst
    WHERE x.d + 1 = y.d GROUP BY b.dst)
, tree AS MATERIALIZED (SELECT l.id, p.parent, l.d FROM lv l LEFT JOIN par p ON p.id = l.id)
, nt AS MATERIALIZED (
    SELECT src AS a, dst AS b FROM (
      SELECT src, dst FROM bedges
      EXCEPT
      SELECT least(id, parent), greatest(id, parent) FROM tree WHERE parent IS NOT NULL))
, ancp(v, x, dx) AS (
    SELECT id, id, d FROM tree
    UNION ALL
    SELECT a.v, t.parent, t.d - 1 FROM ancp a JOIN tree t ON t.id = a.x
    WHERE t.parent IS NOT NULL)
, sdall AS MATERIALIZED (
    SELECT a, b, x, dx, count(*) AS cnt FROM (
      SELECT n.a, n.b, p.x, p.dx FROM nt n JOIN ancp p ON p.v = n.a
      UNION ALL
      SELECT n.a, n.b, p.x, p.dx FROM nt n JOIN ancp p ON p.v = n.b
    ) GROUP BY a, b, x, dx)
, sd AS MATERIALIZED (SELECT a, b, x, dx FROM sdall WHERE cnt = 1)
, lca AS MATERIALIZED (SELECT a, b, max(dx) AS ld FROM sdall WHERE cnt = 2 GROUP BY a, b)
, crossing AS MATERIALIZED (SELECT x AS id, count(*) AS cr FROM sd GROUP BY x)
, deepc AS MATERIALIZED (
    SELECT s.x AS id, count(*) AS dp
    FROM sd s JOIN lca l ON l.a = s.a AND l.b = s.b
    WHERE l.ld < s.dx - 1 GROUP BY s.x)
, hs AS MATERIALIZED (
    SELECT a AS src, b AS dst FROM nt
    UNION
    SELECT t.id, t.parent FROM tree t JOIN deepc dc ON dc.id = t.id
    WHERE t.parent IS NOT NULL AND dc.dp > 0)
, hsym AS MATERIALIZED (SELECT src, dst FROM hs UNION SELECT dst, src FROM hs)
, hlab(id, g) AS (
    SELECT id, id FROM bverts
    UNION
    SELECT s.dst, l.g FROM hlab l JOIN hsym s ON s.src = l.id WHERE l.g < s.dst)
, grp AS MATERIALIZED (SELECT id, min(g) AS g FROM hlab GROUP BY id)"""


def _bridges_sql() -> str:
    return (
        _biconn_sql_body()
        + """
SELECT least(t.id, t.parent) AS src, greatest(t.id, t.parent) AS dst
FROM tree t LEFT JOIN crossing c ON c.id = t.id
WHERE t.parent IS NOT NULL AND coalesce(c.cr, 0) = 0"""
    )


def _articulation_sql() -> str:
    return (
        _biconn_sql_body()
        + """
, childg AS (
    SELECT t.parent AS pid, g.g AS cg FROM tree t JOIN grp g ON g.id = t.id
    WHERE t.parent IS NOT NULL)
, cagg AS (
    SELECT c.pid AS id, count(DISTINCT c.cg) AS ncg,
           max(CASE WHEN c.cg != pg.g THEN 1 ELSE 0 END) AS ad
    FROM childg c JOIN grp pg ON pg.id = c.pid GROUP BY c.pid)
SELECT t.id, CASE WHEN a.ncg IS NULL THEN false
                  WHEN t.parent IS NULL THEN a.ncg >= 2
                  ELSE a.ad = 1 END AS is_cut
FROM tree t LEFT JOIN cagg a ON a.id = t.id"""
    )


def _bcc_sql() -> str:
    return _biconn_sql_body() + "\nSELECT id, g AS bcc FROM grp"


def _ppr_sql(iters: int = PPR_ITERS, alpha: float = PPR_ALPHA) -> str:
    """Unrolled personalized-PageRank recurrence (ppr.h:41-73):
    undirected degree, restart mass (1-alpha) at the source only."""
    parts = [
        f"WITH {PART_EDGES_SQL}",
        ", srcv AS (SELECT min(id) AS s FROM verts)",
        ", degu AS MATERIALIZED (SELECT src AS id, count(*) AS deg FROM sym GROUP BY src)",
        ", p0 AS MATERIALIZED (SELECT v.id, coalesce(d.deg, 0) AS deg,"
        " CASE WHEN v.id = (SELECT s FROM srcv) THEN 1.0 ELSE 0.0 END AS rank"
        " FROM verts v LEFT JOIN degu d ON d.id = v.id)",
    ]
    for k in range(1, iters + 1):
        p = k - 1
        parts.append(
            f""", p{k} AS MATERIALIZED (
  SELECT d.id, d.deg,
    CASE WHEN d.id = (SELECT s FROM srcv) THEN {1.0 - alpha} ELSE 0.0 END
    + {alpha} * coalesce(m.msg, 0) AS rank
  FROM p{p} d LEFT JOIN (
    SELECT e.dst AS id, sum(r.rank / r.deg) AS msg
    FROM sym e JOIN p{p} r ON r.id = e.src AND r.deg > 0
    GROUP BY e.dst) m ON m.id = d.id)"""
        )
    parts.append(f"SELECT id, round(rank, 8) AS rank FROM p{iters}")
    return "\n".join(parts)


def _articlerank_sql(iters: int = AR_ITERS, damping: float = AR_DAMPING) -> str:
    """Unrolled ArticleRank recurrence (articlerank.h:40-72): directed
    out-degree, +mean-out-degree damping in the denominator."""
    parts = [
        f"WITH {PART_EDGES_SQL}",
        ", outd AS MATERIALIZED (SELECT src AS id, count(*) AS deg FROM edges GROUP BY src)",
        ", deg AS MATERIALIZED (SELECT v.id, coalesce(o.deg, 0) AS deg FROM verts v"
        " LEFT JOIN outd o ON o.id = v.id)",
        ", avgd AS (SELECT CAST(sum(deg) AS DOUBLE) / count(*) AS a FROM deg)",
        ", a0 AS MATERIALIZED (SELECT id, deg, 0.0 AS rank FROM deg)",
    ]
    for k in range(1, iters + 1):
        p = k - 1
        parts.append(
            f""", a{k} AS MATERIALIZED (
  SELECT d.id, d.deg, {1.0 - damping} + coalesce(m.msg, 0) AS rank
  FROM a{p} d LEFT JOIN (
    SELECT e.dst AS id,
           sum({damping} * r.rank / (r.deg + (SELECT a FROM avgd))) AS msg
    FROM edges e JOIN a{p} r ON r.id = e.src
    GROUP BY e.dst) m ON m.id = d.id)"""
        )
    parts.append(f"SELECT id, round(rank, 8) AS rank FROM a{iters}")
    return "\n".join(parts)


def _merge_gate_sqls(first: str, second: str, final: str) -> str:
    """Splice two self-contained oracle SQLs (each of the form
    ``WITH {PART_EDGES_SQL} <CTE chain> SELECT ...``) into one query:
    keep the first's CTE chain, append the second's chain (their CTE
    names are disjoint by construction), and replace both trailing
    SELECTs with ``final``. Used by the merged two-column gates so
    each member keeps its original single-purpose SQL builder."""
    head = first.rsplit("\nSELECT", 1)[0]
    tail = second.rsplit("\nSELECT", 1)[0]
    prefix = f"WITH {PART_EDGES_SQL}"
    assert tail.startswith(prefix), "second oracle must start with the shared prefix"
    return head + tail[len(prefix):] + "\n" + final


def _eig_katz_sql() -> str:
    return _merge_gate_sqls(
        _eigenvector_sql(),
        _katz_sql(),
        f"""SELECT y.id, round(y.x, 8) AS eig,
  round(z.x / (SELECT CASE WHEN sqrt(sum(x*x)) > 0 THEN sqrt(sum(x*x))
                ELSE 1.0 END FROM z{KATZ_ITERS}), 8) AS katz
FROM y{EIG_ITERS} y JOIN z{KATZ_ITERS} z ON z.id = y.id""",
    )


def _rank_family_sql() -> str:
    return _merge_gate_sqls(
        _ppr_sql(),
        _articlerank_sql(),
        f"""SELECT p.id, round(p.rank, 8) AS ppr, round(a.rank, 8) AS articlerank
FROM p{PPR_ITERS} p JOIN a{AR_ITERS} a ON a.id = p.id""",
    )


def _coloring_sql(rounds: int = COLOR_UNROLL) -> str:
    """Unrolled greedy-coloring fixpoint on the %6 graph (color.h):
    per round every vertex takes the mex of its HIGHER-(deg, id)-
    priority neighbors' colors; extra rounds at the fixpoint are
    no-ops, so a generous fixed unroll equals the Spark fixpoint
    (guarded by _assert_unroll on the Spark side)."""
    parts = [f"WITH {PART_EDGES_SQL}{_S6_SQL}"]
    parts.append(""", chi AS MATERIALIZED (
  SELECT s.src, s.dst FROM s6sym s
  JOIN s6deg a ON a.id = s.src JOIN s6deg b ON b.id = s.dst
  WHERE (a.d > b.d) OR (a.d = b.d AND s.src > s.dst))""")
    parts.append(
        ", col0 AS MATERIALIZED (SELECT id, CAST(0 AS BIGINT) AS c FROM s6verts)"
    )
    for k in range(1, rounds + 1):
        p = k - 1
        parts.append(f""", cu{k} AS MATERIALIZED (
  SELECT o.dst AS id, list(DISTINCT s.c) AS used
  FROM chi o JOIN col{p} s ON s.id = o.src GROUP BY o.dst)
, col{k} AS MATERIALIZED (
  SELECT v.id, CASE WHEN u.used IS NULL THEN v.c
    ELSE list_min(list_filter(range(0, len(u.used) + 1),
                              x -> NOT list_contains(u.used, x)))
  END AS c
  FROM col{p} v LEFT JOIN cu{k} u ON u.id = v.id)""")
    parts.append(f"SELECT id, CAST(c AS BIGINT) AS color FROM col{rounds}")
    return "\n".join(parts)


def _fluid_sql(s: int = FLUID_S, rounds: int = FLUID_ROUNDS, eps: float = 1e-10) -> str:
    """Unrolled synchronous fluid-community rounds
    (fluid-community.h, deterministic variant): density = count/cnt
    computed as ONE division so both engines compare bit-identical
    doubles; argmax ties -> smallest label; strict +eps improvement
    to switch."""
    parts = [
        f"WITH {PART_EDGES_SQL}",
        f", fsd AS MATERIALIZED (SELECT id FROM verts ORDER BY id LIMIT {s})",
        ", fl0 AS MATERIALIZED (SELECT v.id,"
        " CAST(CASE WHEN f.id IS NOT NULL THEN v.id ELSE -1 END AS BIGINT) AS lab"
        " FROM verts v LEFT JOIN fsd f ON f.id = v.id)",
    ]
    for k in range(1, rounds + 1):
        p = k - 1
        parts.append(f""", fn{k} AS MATERIALIZED (
  SELECT lab, count(*) AS n FROM fl{p} WHERE lab >= 0 GROUP BY lab)
, fc{k} AS MATERIALIZED (
  SELECT t.id, t.lab, count(*) AS c FROM (
    SELECT e.dst AS id, s.lab FROM sym e JOIN fl{p} s ON s.id = e.src AND s.lab >= 0
    UNION ALL
    SELECT id, lab FROM fl{p} WHERE lab >= 0) t
  GROUP BY t.id, t.lab)
, fd{k} AS MATERIALIZED (
  SELECT c.id, c.lab, CAST(c.c AS DOUBLE) / n.n AS d
  FROM fc{k} c JOIN fn{k} n ON n.lab = c.lab)
, fb{k} AS MATERIALIZED (
  SELECT m.id, m.bd, min(x.lab) AS blab
  FROM (SELECT id, max(d) AS bd FROM fd{k} GROUP BY id) m
  JOIN fd{k} x ON x.id = m.id AND x.d = m.bd GROUP BY m.id, m.bd)
, fl{k} AS MATERIALIZED (
  SELECT s.id, CAST(CASE
    WHEN s.lab = -1 THEN (CASE WHEN b.bd > {eps} THEN b.blab ELSE -1 END)
    WHEN b.bd > coalesce(cd.d, 0.0) + {eps} THEN b.blab
    ELSE s.lab END AS BIGINT) AS lab
  FROM fl{p} s LEFT JOIN fb{k} b ON b.id = s.id
  LEFT JOIN fd{k} cd ON cd.id = s.id AND cd.lab = s.lab)""")
    parts.append(f"SELECT id, lab FROM fl{rounds}")
    return "\n".join(parts)


def _dfs_invariants_sql(layers: int = BFS_LAYERS) -> str:
    """The oracle's half of the DFS invariant gate: from reachability
    alone (undirected BFS from the min id), the preorder summary is
    fully determined — R reached vertices, ranks a 0..R-1 permutation,
    root ok, zero violations."""
    big = 10**15
    parts = [
        f"WITH {PART_EDGES_SQL}",
        f", d0 AS MATERIALIZED (SELECT id, CASE WHEN id = (SELECT min(id) FROM verts)"
        f" THEN 0 ELSE {big} END AS d FROM verts)",
    ]
    for k in range(1, layers + 1):
        p = k - 1
        parts.append(
            f""", d{k} AS MATERIALIZED (
  SELECT v.id, least(v.d, coalesce(m.cand, {big})) AS d
  FROM d{p} v LEFT JOIN (
    SELECT s.dst AS id, min(r.d + 1) AS cand
    FROM sym s JOIN d{p} r ON r.id = s.src WHERE r.d < {big}
    GROUP BY s.dst) m ON m.id = v.id)"""
        )
    parts.append(
        f""", rr AS (SELECT CAST(count(*) AS BIGINT) AS r FROM d{layers} WHERE d < {big})
SELECT r AS reached,
       CAST(0 AS BIGINT) AS rank_min,
       r - 1 AS rank_max,
       r AS n_ranks,
       CAST(1 AS BIGINT) AS root_ok,
       CAST(0 AS BIGINT) AS bad_edges,
       CAST(0 AS BIGINT) AS bad_order
FROM rr"""
    )
    return "\n".join(parts)


_TRI_SQL_BODY = """
, degt AS MATERIALIZED (SELECT src AS id, count(*) AS degree FROM sym GROUP BY src)
, ori AS MATERIALIZED (
    SELECT u.src, u.dst FROM sym u
    JOIN degt a ON a.id = u.src JOIN degt b ON b.id = u.dst
    WHERE a.degree < b.degree OR (a.degree = b.degree AND u.src < u.dst))
, tri AS MATERIALIZED (
    SELECT e1.src AS x, e1.dst AS y, e2.dst AS z
    FROM ori e1
    JOIN ori e2 ON e2.src = e1.dst
    JOIN ori e3 ON e3.src = e1.src AND e3.dst = e2.dst)
"""

_TOKS_SQL = r"""
toks AS MATERIALIZED (
    SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS tok
    FROM documents)
"""

_GRAMS_SQL = r"""
toksarr AS (
    SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS arr FROM documents),
grams AS MATERIALIZED (
    SELECT DISTINCT doc_id, gram FROM (
        SELECT doc_id,
               unnest([arr[i] || ' ' || arr[i+1] || ' ' || arr[i+2]
                       for i in generate_series(1, len(arr) - 2)]) AS gram
        FROM toksarr))
"""

_MINHASH_SQL = (
    "WITH "
    + _GRAMS_SQL
    + """,
seeds AS (SELECT unnest(generate_series(0, 15)) AS seed),
sig AS MATERIALIZED (
    SELECT g.doc_id, s.seed,
           min(CAST('0x' || substr(md5(s.seed || '|' || g.gram), 1, 15) AS BIGINT)) AS minhash
    FROM grams g CROSS JOIN seeds s
    GROUP BY g.doc_id, s.seed)
"""
)


def oracle_sql(sf_dir: str | None = None) -> dict[str, str]:
    """DuckDB twin of every queries() entry. `sf_dir` is the corpus
    the twins are compared on (default: $SPARK_GRAFT_ORACLE_SF_DIR,
    else the sf0.01 gate corpus); the embedding_ann geometry is
    derived from its embeddings footer, as the Spark auto path does."""
    sql = {}
    sql["part_edges"] = f"WITH {PART_EDGES_SQL} SELECT src, dst, weight FROM edges"
    sql["degree_centrality"] = (
        f"WITH {PART_EDGES_SQL}"
        ", deg AS (SELECT src AS id, count(*) AS d FROM sym GROUP BY src)"
        ", nn AS (SELECT count(*) AS n FROM verts)"
        " SELECT v.id, round(coalesce(d.d, 0) / CAST((SELECT n - 1 FROM nn) AS DOUBLE), 8)"
        " AS centrality FROM verts v LEFT JOIN deg d ON d.id = v.id"
    )
    sql["pagerank"] = _pagerank_sql()
    sql["wcc"] = (
        f"WITH RECURSIVE {PART_EDGES_SQL}"
        """, lab(id, comp) AS (
    SELECT id, id FROM verts
    UNION
    SELECT s.dst, l.comp FROM lab l JOIN sym s ON s.src = l.id WHERE l.comp < s.dst)
SELECT id, min(comp) AS comp FROM lab GROUP BY id"""
    )
    sql["cdlp"] = _cdlp_sql()
    sql["triangles"] = (
        f"WITH {PART_EDGES_SQL}{_TRI_SQL_BODY}"
        """, corners AS (
    SELECT x AS id FROM tri UNION ALL SELECT y FROM tri UNION ALL SELECT z FROM tri)
, pv AS (SELECT id, count(*) AS tri FROM corners GROUP BY id)
SELECT v.id, coalesce(pv.tri, 0) AS tri,
       round(CASE WHEN coalesce(d.degree, 0) >= 2
             THEN 2.0 * coalesce(pv.tri, 0) / (d.degree * (d.degree - 1))
             ELSE 0.0 END, 8) AS lcc
FROM verts v LEFT JOIN pv ON pv.id = v.id LEFT JOIN degt d ON d.id = v.id"""
    )
    sql["triangle_stats"] = (
        f"WITH {PART_EDGES_SQL}{_TRI_SQL_BODY}"
        """, corners AS (
    SELECT x AS id FROM tri UNION ALL SELECT y FROM tri UNION ALL SELECT z FROM tri)
, pv AS (SELECT id, count(*) AS tri FROM corners GROUP BY id)
, percoef AS (
    SELECT CASE WHEN coalesce(d.degree, 0) >= 2
           THEN 2.0 * coalesce(pv.tri, 0) / (d.degree * (d.degree - 1))
           ELSE 0.0 END AS lcc
    FROM verts v LEFT JOIN pv ON pv.id = v.id LEFT JOIN degt d ON d.id = v.id)
SELECT CAST((SELECT count(*) FROM tri) AS BIGINT) AS n_triangles,
       round(3.0 * (SELECT count(*) FROM tri)
             / (SELECT sum(degree * (degree - 1) / 2) FROM degt), 8) AS transitivity,
       (SELECT round(avg(lcc), 8) FROM percoef) AS avg_clustering"""
    )
    sql["bfs"] = _bfs_sql()
    sql["sssp"] = _sssp_sql()
    sql["hits"] = _hits_sql()
    sql["kshell"] = _kshell_sql()
    sql["eig_katz"] = _eig_katz_sql()
    sql["closeness"] = _closeness_sql()
    sql["apsp"] = _apsp_sql()
    sql["sssp_avg_length"] = _avg_length_sql()
    sql["betweenness"] = _betweenness_sql()
    sql["louvain_full"] = _louvain_full_sql()
    sql["scc"] = _scc_sql()
    sql["bridges"] = _bridges_sql()
    sql["articulation_points"] = _articulation_sql()
    sql["bcc"] = _bcc_sql()
    sql["matching_family"] = _matching_family_sql()
    sql["subgraph_census"] = (
        f"SELECT * FROM ({_kclique_sql()}) "
        f"CROSS JOIN ({_motif_census_sql()}) "
        f"CROSS JOIN ({_densest_sql()})"
    )
    sql["pattern_match"] = f"""WITH {PART_EDGES_SQL}{_S6_SQL}
, pcls AS MATERIALIZED (SELECT p_partkey AS id, p_size % 3 AS sc FROM part)
SELECT
  CAST((SELECT count(*)
        FROM s6sym ab JOIN s6sym bc ON bc.src = ab.dst
        JOIN s6sym ac ON ac.src = ab.src AND ac.dst = bc.dst
        JOIN s6sym cd ON cd.src = bc.dst
        JOIN pcls pa ON pa.id = ab.src AND pa.sc = 0
        JOIN pcls pd ON pd.id = cd.dst AND pd.sc = 1
        WHERE cd.dst <> ab.src AND cd.dst <> ab.dst) AS BIGINT) AS n_tailed_labeled,
  CAST((SELECT count(*)
        FROM s6e e1 JOIN s6e e2 ON e2.src = e1.dst
        JOIN s6e e3 ON e3.src = e1.src AND e3.dst = e2.dst) AS BIGINT) AS n_trans_dir"""
    sql["project_labels"] = """WITH RECURSIVE
cv AS MATERIALIZED (SELECT c_custkey * 3 + 0 AS id, 'customer' AS label FROM customer),
ov AS MATERIALIZED (SELECT o_orderkey * 3 + 1 AS id, 'order' AS label FROM orders),
pv AS MATERIALIZED (SELECT p_partkey * 3 + 2 AS id, 'part' AS label FROM part),
e1 AS MATERIALIZED (
    SELECT o_custkey * 3 + 0 AS src, o_orderkey * 3 + 1 AS dst FROM orders),
e2 AS MATERIALIZED (
    SELECT DISTINCT l_orderkey * 3 + 1 AS src, l_partkey * 3 + 2 AS dst FROM lineitem),
v1 AS (SELECT * FROM cv UNION ALL SELECT * FROM ov),
v2 AS (SELECT * FROM ov UNION ALL SELECT * FROM pv),
s1 AS MATERIALIZED (SELECT src, dst FROM e1 UNION SELECT dst, src FROM e1),
s2 AS MATERIALIZED (SELECT src, dst FROM e2 UNION SELECT dst, src FROM e2),
lab1(id, comp) AS (
    SELECT id, id FROM v1
    UNION
    SELECT s.dst, l.comp FROM lab1 l JOIN s1 s ON s.src = l.id WHERE l.comp < s.dst),
lab2(id, comp) AS (
    SELECT id, id FROM v2
    UNION
    SELECT s.dst, l.comp FROM lab2 l JOIN s2 s ON s.src = l.id WHERE l.comp < s.dst),
c1 AS (SELECT id, min(comp) AS comp FROM lab1 GROUP BY id),
c2 AS (SELECT id, min(comp) AS comp FROM lab2 GROUP BY id),
d1 AS (SELECT id, count(*) AS degree FROM (
    SELECT src AS id FROM e1 UNION ALL SELECT dst FROM e1) GROUP BY id),
d2 AS (SELECT id, count(*) AS degree FROM (
    SELECT src AS id FROM e2 UNION ALL SELECT dst FROM e2) GROUP BY id)
SELECT 'g1' AS g, v.id, v.label, c.comp, CAST(coalesce(d.degree, 0) AS BIGINT) AS degree
FROM v1 v JOIN c1 c ON c.id = v.id LEFT JOIN d1 d ON d.id = v.id
UNION ALL
SELECT 'g2' AS g, v.id, v.label, c.comp, CAST(coalesce(d.degree, 0) AS BIGINT) AS degree
FROM v2 v JOIN c2 c ON c.id = v.id LEFT JOIN d2 d ON d.id = v.id"""
    sql["ordering"] = _ordering_sql()
    sql["covers"] = _covers_sql()
    sql["msf"] = _msf_sql()
    sql["diameter_approx"] = _diameter_sql()
    sql["rank_family"] = _rank_family_sql()
    sql["coloring"] = _coloring_sql()
    sql["fluid"] = _fluid_sql()
    sql["dfs"] = _dfs_invariants_sql()
    sql["clustering_directed"] = _clustering_directed_sql()
    sql["assortativity"] = (
        f"WITH {PART_EDGES_SQL}"
        f""", degt AS (SELECT src AS id, CAST(count(*) AS DOUBLE) AS deg FROM sym GROUP BY src)
, da AS (SELECT round(corr(a.deg, b.deg), 8) AS v
         FROM sym e JOIN degt a ON a.id = e.src JOIN degt b ON b.id = e.dst)
, mix AS MATERIALIZED (
  SELECT (src % {ATTR_CATS}) AS ca, (dst % {ATTR_CATS}) AS cb,
         CAST(count(*) AS DOUBLE) AS n
  FROM edges GROUP BY 1, 2)
, tot AS (SELECT sum(n) AS t FROM mix)
, tr AS (SELECT coalesce(sum(n), 0) / (SELECT t FROM tot) AS v FROM mix WHERE ca = cb)
, av AS (SELECT ca, sum(n) / (SELECT t FROM tot) AS a FROM mix GROUP BY ca)
, bv AS (SELECT cb, sum(n) / (SELECT t FROM tot) AS b FROM mix GROUP BY cb)
, ab AS (SELECT coalesce(sum(av.a * bv.b), 0) AS s FROM av JOIN bv ON bv.cb = av.ca)
SELECT (SELECT v FROM da) AS degree_assortativity,
       round(((SELECT v FROM tr) - (SELECT s FROM ab)) / (1 - (SELECT s FROM ab)), 8)
       AS attr_assortativity"""
    )
    sql["avg_degree_connectivity"] = (
        f"WITH {PART_EDGES_SQL}"
        ", degt AS (SELECT src AS id, CAST(count(*) AS DOUBLE) AS deg FROM sym GROUP BY src)"
        " SELECT CAST(a.deg AS BIGINT) AS degree, round(avg(b.deg), 8) AS avg_nbr_degree"
        " FROM sym e JOIN degt a ON a.id = e.src JOIN degt b ON b.id = e.dst"
        " GROUP BY 1"
    )
    sql["boundary"] = (
        f"WITH {PART_EDGES_SQL}"
        f", srcs AS (SELECT id FROM verts ORDER BY id LIMIT {BOUNDARY_SOURCES})"
        ", eb AS MATERIALIZED (SELECT e.src, e.dst FROM edges e"
        " WHERE e.src IN (SELECT id FROM srcs) AND e.dst NOT IN (SELECT id FROM srcs))"
        " SELECT src, dst, TRUE AS dst_in_nb,"
        " (SELECT CAST(count(DISTINCT dst) AS BIGINT) FROM eb) AS n_node_boundary"
        " FROM eb"
    )
    sql["voterank"] = _voterank_sql()
    sql["lpa_u2i"] = _lpa_u2i_sql()
    sql["sampling_path"] = (
        f"WITH {PART_EDGES_SQL}"
        f""" SELECT a.id AS v0, e1.dst AS v1, e2.dst AS v2
FROM verts a
JOIN edges e1 ON e1.src = a.id
JOIN edges e2 ON e2.src = e1.dst
WHERE a.id % 3 = 0 AND a.id < {SAMPLING_V0_CAP}
  AND e1.dst % 3 = 1 AND e2.dst % 3 = 2"""
    )
    sql["simple_paths"] = (
        f"WITH {PART_EDGES_SQL}"
        """, p AS (SELECT id, row_number() OVER (ORDER BY id) AS rn
       FROM (SELECT id FROM verts ORDER BY id LIMIT 3))
, hops AS (SELECT a.id AS src, b.id AS dst FROM p a JOIN p b ON b.rn = a.rn + 1)
, probe AS (
  SELECT (SELECT count(*) FROM hops h JOIN sym s ON s.src = h.src AND s.dst = h.dst)
         = (SELECT count(*) FROM hops) AS ok)
, st AS (SELECT min(id) AS s FROM verts)
, tg AS (SELECT id AS t FROM verts ORDER BY id LIMIT 1 OFFSET 1)
, ns_ AS MATERIALIZED (SELECT dst AS a FROM sym WHERE src = (SELECT s FROM st))
, nt_ AS MATERIALIZED (SELECT src AS b FROM sym WHERE dst = (SELECT t FROM tg))
, l1 AS (SELECT CAST((SELECT s FROM st) AS VARCHAR) || '-' ||
                CAST((SELECT t FROM tg) AS VARCHAR) AS path
         FROM ns_ WHERE a = (SELECT t FROM tg))
, l2 AS (SELECT CAST((SELECT s FROM st) AS VARCHAR) || '-' ||
                CAST(a AS VARCHAR) || '-' || CAST((SELECT t FROM tg) AS VARCHAR) AS path
         FROM ns_ WHERE a IN (SELECT b FROM nt_)
           AND a <> (SELECT s FROM st) AND a <> (SELECT t FROM tg))
, l3 AS (SELECT CAST((SELECT s FROM st) AS VARCHAR) || '-' ||
                CAST(n1.a AS VARCHAR) || '-' || CAST(e.dst AS VARCHAR) || '-'
                || CAST((SELECT t FROM tg) AS VARCHAR) AS path
         FROM ns_ n1 JOIN sym e ON e.src = n1.a
         JOIN nt_ n2 ON n2.b = e.dst
         WHERE n1.a <> (SELECT s FROM st) AND n1.a <> (SELECT t FROM tg)
           AND e.dst <> (SELECT s FROM st) AND e.dst <> (SELECT t FROM tg)
           AND e.dst <> n1.a)
SELECT path, (SELECT ok FROM probe) AS probe_is_path FROM (
  SELECT path FROM l1 UNION ALL SELECT path FROM l2 UNION ALL SELECT path FROM l3)"""
    )
    sql["blob_stats"] = (
        "SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,"
        " sha256(text) AS content_sha FROM documents"
    )
    sql["dedup_exact"] = (
        "SELECT sha256(text) AS content_sha, min(doc_id) AS doc_id,"
        " count(*) AS n_dups FROM documents GROUP BY sha256(text)"
    )
    stop_list = ", ".join(f"'{s}'" for s in pl.STOPWORDS)
    marker_values = ", ".join(f"('{l}', '{m}')" for l, m in pl.LANG_MARKERS)
    sql["doc_features"] = (
        "WITH "
        + _TOKS_SQL
        + rf""",
stats AS (
    SELECT doc_id, count(*) AS n,
           sum(CASE WHEN tok IN ({stop_list}) THEN 1 ELSE 0 END) AS n_stop,
           count(DISTINCT tok) AS n_uniq
    FROM toks GROUP BY doc_id),
markers(lang, marker) AS (VALUES {marker_values}),
hits AS (
    SELECT doc_id, lang, count(*) AS cnt
    FROM toks JOIN markers ON tok = marker GROUP BY doc_id, lang),
best AS (
    SELECT doc_id, min(lang) AS pred_lang FROM (
        SELECT doc_id, lang, cnt, max(cnt) OVER (PARTITION BY doc_id) AS mx FROM hits)
    WHERE cnt = mx GROUP BY doc_id)
SELECT d.doc_id,
       CAST(len(regexp_split_to_array(trim(d.text), '\s+')) AS BIGINT) AS n_tokens,
       round(0.4 * least(1.0, s.n / 64.0)
             + 0.3 * (1.0 - s.n_stop / CAST(s.n AS DOUBLE))
             + 0.3 * (s.n_uniq / CAST(s.n AS DOUBLE)), 8) AS score,
       coalesce(b.pred_lang, 'und') AS pred_lang
FROM documents d JOIN stats s ON s.doc_id = d.doc_id
LEFT JOIN best b ON b.doc_id = d.doc_id"""
    )
    sql["ngram_jaccard"] = (
        "WITH "
        + _GRAMS_SQL
        + f""",
keepg AS (SELECT gram FROM grams GROUP BY gram HAVING count(*) <= {pl.NGRAM_MAX_DF}),
gramsf AS MATERIALIZED (SELECT g.doc_id, g.gram FROM grams g JOIN keepg USING (gram)),
sizes AS (SELECT doc_id, count(*) AS sz FROM gramsf GROUP BY doc_id),
inter AS (
    SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS inter
    FROM gramsf x JOIN gramsf y ON x.gram = y.gram AND x.doc_id < y.doc_id
    GROUP BY x.doc_id, y.doc_id),
jac AS (
    SELECT i.a, i.b,
           round(i.inter / CAST(s1.sz + s2.sz - i.inter AS DOUBLE), 8) AS jaccard
    FROM inter i
    JOIN sizes s1 ON s1.doc_id = i.a
    JOIN sizes s2 ON s2.doc_id = i.b)
SELECT a, b, jaccard FROM jac WHERE jaccard >= 0.05"""
    )
    sql["fingerprints"] = (
        _MINHASH_SQL
        + ","
        + _TOKS_SQL
        + """,
h AS (SELECT doc_id, CAST('0x' || substr(md5(tok), 1, 15) AS BIGINT) AS h FROM toks),
bits AS (SELECT unnest(generate_series(0, 31)) AS b),
perbit AS (
    SELECT doc_id, b,
           sum(CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END) AS s
    FROM h CROSS JOIN bits GROUP BY doc_id, b),
sh AS (
    SELECT doc_id,
           CAST(sum(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << b) ELSE 0 END) AS BIGINT)
           AS simhash
    FROM perbit GROUP BY doc_id),
rpos AS (
    SELECT doc_id, text, unnest(generate_series(1, length(text) - {rk1})) AS i
    FROM documents WHERE length(text) >= {rk}),
rh AS (
    SELECT doc_id, i, ({rterms}) % {rm} AS kh,
           count(*) OVER (PARTITION BY doc_id) AS ng
    FROM rpos),
rwin AS (
    SELECT doc_id, i, ng,
           min(kh) OVER (PARTITION BY doc_id ORDER BY i
                         ROWS BETWEEN CURRENT ROW AND {rw1} FOLLOWING) AS fp
    FROM rh),
rfp AS (
    SELECT DISTINCT doc_id, fp FROM rwin
    WHERE i <= greatest(1, ng - {rw1})),
rsum AS (
    SELECT doc_id, count(*) AS winnow_n,
           CAST(sum(fp) AS BIGINT) AS winnow_sum, min(fp) AS winnow_min
    FROM rfp GROUP BY doc_id)
SELECT sig.doc_id, sig.seed, sig.minhash, sh.simhash,
       r.winnow_n, r.winnow_sum, r.winnow_min
FROM sig JOIN sh ON sh.doc_id = sig.doc_id
LEFT JOIN rsum r ON r.doc_id = sig.doc_id""".format(
            rk=pl.ROLL_K,
            rk1=pl.ROLL_K - 1,
            rw1=pl.ROLL_W - 1,
            rm=pl.ROLL_M,
            rterms=" + ".join(
                "(CAST(ascii(substr(text, i + {j}, 1)) AS BIGINT) * {p}) % {m}".format(
                    j=j, p=pow(pl.ROLL_B, pl.ROLL_K - 1 - j, pl.ROLL_M), m=pl.ROLL_M
                )
                for j in range(pl.ROLL_K)
            ),
        )
    )
    sql["dedup_clusters"] = (
        "WITH RECURSIVE "
        + _GRAMS_SQL
        + """,
seeds AS (SELECT unnest(generate_series(0, 15)) AS seed),
sig AS MATERIALIZED (
    SELECT g.doc_id, s.seed,
           min(CAST('0x' || substr(md5(s.seed || '|' || g.gram), 1, 15) AS BIGINT)) AS minhash
    FROM grams g CROSS JOIN seeds s
    GROUP BY g.doc_id, s.seed),
bands AS (
    SELECT doc_id, CAST(floor(seed / 4) AS INT) AS band,
           md5(array_to_string(list_sort(list(seed || ':' || minhash)), ',')) AS bh
    FROM sig GROUP BY doc_id, CAST(floor(seed / 4) AS INT)),
prs AS MATERIALIZED (
    SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
    FROM bands x JOIN bands y ON x.band = y.band AND x.bh = y.bh AND x.doc_id < y.doc_id),
sym2 AS MATERIALIZED (SELECT a AS src, b AS dst FROM prs UNION SELECT b, a FROM prs),
lab(id, comp) AS (
    SELECT doc_id, doc_id FROM documents
    UNION
    SELECT s.dst, l.comp FROM lab l JOIN sym2 s ON s.src = l.id WHERE l.comp < s.dst)
SELECT id AS doc_id, min(comp) AS canonical_id FROM lab GROUP BY id"""
    )
    # ANN geometry = the SHIPPED auto default, computed from the gate
    # corpus's parquet footer exactly like pl.embedding_ann does at
    # run time (driver compares at sf0.01; tools/check_oracles.py passes
    # the sf it runs) — so the driver gate verifies the auto-geometry
    # path end-to-end
    gate_sf = os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01")
    dim, n_vec = pl.embeddings_meta(sf_dir or gate_sf)
    bits, tables = pl.ann_auto_params(n_vec)
    nq, kk = 10, 10
    plane_rows = ", ".join(
        f"({t}, {j}, [{', '.join(str(float(x)) for x in pl.ann_hyperplanes(dim, bits, table=t)[j])}]::DOUBLE[])"
        for t in range(tables)
        for j in range(bits)
    )
    sql["embedding_ann"] = f"""
WITH emb AS MATERIALIZED (
    SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
           list_transform(CAST(embedding AS DOUBLE[]),
                          x -> floor(x * {pl.ANN_QUANT} + 0.5)) AS vq
    FROM embeddings),
planes(t, j, h) AS (VALUES {plane_rows}),
sig AS MATERIALIZED (
    SELECT e.vec_id, p.t,
           sum(CASE WHEN list_dot_product(e.vq, p.h) >= 0
               THEN CAST(1 AS BIGINT) << p.j ELSE 0 END) AS bucket
    FROM emb e CROSS JOIN planes p GROUP BY e.vec_id, p.t),
flat AS MATERIALIZED (
    SELECT e.vec_id, e.v, s.t, s.bucket FROM emb e JOIN sig s USING (vec_id)),
q0 AS (SELECT vec_id AS q, v AS qv, t, bucket FROM flat WHERE vec_id < {nq}),
-- multi-probe within each table: own bucket + every single-bit flip
q AS (
    SELECT q, qv, t, unnest([bucket] || [xor(bucket, CAST(1 AS BIGINT) << j)
                             for j in generate_series(0, {bits - 1})]) AS bucket
    FROM q0),
cand AS (
    SELECT DISTINCT q.q, e.vec_id, e.v, q.qv
    FROM flat e JOIN q ON q.t = e.t AND q.bucket = e.bucket AND e.vec_id <> q.q),
scored AS (
    SELECT q, vec_id,
           list_dot_product(qv, v)
           / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(v, v))) AS sim
    FROM cand),
ranked AS (
    SELECT q, vec_id,
           row_number() OVER (PARTITION BY q ORDER BY sim DESC, vec_id ASC) AS rank, sim
    FROM scored)
SELECT q, vec_id, CAST(rank AS BIGINT) AS rank, round(sim, 6) AS sim
FROM ranked WHERE rank <= {kk}"""
    cent_rows = ", ".join(
        f"({ci}, [{', '.join(str(float(x)) for x in c)}]::DOUBLE[])"
        for ci, c in enumerate(pl.ivf_centroids(dim, IVF_GATE_C))
    )
    sql["embedding_topk"] = f"""
WITH emb AS MATERIALIZED (
    SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
           list_transform(CAST(embedding AS DOUBLE[]),
                          x -> floor(x * {pl.ANN_QUANT} + 0.5)) AS vq
    FROM embeddings),
q AS (SELECT vec_id AS q, v AS qv FROM emb WHERE vec_id < {nq}),
scored AS (
    SELECT q.q, e.vec_id,
           list_dot_product(q.qv, e.v)
           / (sqrt(list_dot_product(q.qv, q.qv)) * sqrt(list_dot_product(e.v, e.v))) AS sim
    FROM emb e CROSS JOIN q WHERE e.vec_id <> q.q),
ranked AS (
    SELECT q, vec_id,
           row_number() OVER (PARTITION BY q ORDER BY sim DESC, vec_id ASC) AS rank,
           sim
    FROM scored),
cents(cid, c) AS (VALUES {cent_rows}),
-- MIPS assignment: argmax integer dot, ties to the smallest cid
ds AS MATERIALIZED (
    SELECT e.vec_id, c.cid, list_dot_product(e.vq, c.c) AS dot
    FROM emb e CROSS JOIN cents c),
assign AS (
    SELECT vec_id, cid FROM (
        SELECT vec_id, cid,
               row_number() OVER (PARTITION BY vec_id ORDER BY dot DESC, cid ASC) AS rn
        FROM ds) WHERE rn = 1),
probe AS (
    SELECT vec_id AS q, cid FROM (
        SELECT vec_id, cid,
               row_number() OVER (PARTITION BY vec_id ORDER BY dot DESC, cid ASC) AS rn
        FROM ds WHERE vec_id < {nq}) WHERE rn <= {IVF_GATE_P}),
icand AS (
    SELECT p.q, a.vec_id FROM assign a JOIN probe p ON a.cid = p.cid
    WHERE a.vec_id <> p.q),
iscored AS (
    SELECT c.q, c.vec_id,
           list_dot_product(qe.v, e.v)
           / (sqrt(list_dot_product(qe.v, qe.v)) * sqrt(list_dot_product(e.v, e.v))) AS sim
    FROM icand c JOIN emb e ON e.vec_id = c.vec_id JOIN emb qe ON qe.vec_id = c.q),
iranked AS (
    SELECT q, vec_id,
           row_number() OVER (PARTITION BY q ORDER BY sim DESC, vec_id ASC) AS rank,
           sim
    FROM iscored)
SELECT 'exact' AS method, q, vec_id, CAST(rank AS BIGINT) AS rank, round(sim, 6) AS sim
FROM ranked WHERE rank <= {kk}
UNION ALL
SELECT 'ivf' AS method, q, vec_id, CAST(rank AS BIGINT) AS rank, round(sim, 6) AS sim
FROM iranked WHERE rank <= {kk}"""
    sql["embedding_near_dup"] = f"""
WITH emb AS MATERIALIZED (
    SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
           list_transform(CAST(embedding AS DOUBLE[]),
                          x -> floor(x * {pl.ANN_QUANT} + 0.5)) AS vq
    FROM embeddings),
planes(t, j, h) AS (VALUES {plane_rows}),
sig AS MATERIALIZED (
    SELECT e.vec_id, p.t,
           sum(CASE WHEN list_dot_product(e.vq, p.h) >= 0
               THEN CAST(1 AS BIGINT) << p.j ELSE 0 END) AS bucket
    FROM emb e CROSS JOIN planes p GROUP BY e.vec_id, p.t),
prs AS MATERIALIZED (
    SELECT DISTINCT x.vec_id AS a, y.vec_id AS b
    FROM sig x JOIN sig y ON x.t = y.t AND x.bucket = y.bucket AND x.vec_id < y.vec_id),
nsc AS (
    SELECT p.a, p.b,
           list_dot_product(ea.v, eb.v)
           / (sqrt(list_dot_product(ea.v, ea.v)) * sqrt(list_dot_product(eb.v, eb.v))) AS sim
    FROM prs p JOIN emb ea ON ea.vec_id = p.a JOIN emb eb ON eb.vec_id = p.b)
SELECT a, b, round(sim, 6) AS sim FROM nsc WHERE sim >= 0.3"""
    return sql
