"""Path family — closeness / betweenness / apsp / sssp_path vs the
pure-python oracles (reference semantics: closeness_centrality.h,
betweenness_centrality.h, all_pairs_shortest_path_length.h,
sssp_path.h)."""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from linkgraph import oracle
from linkgraph.algos.paths import (
    all_pairs_shortest_path_length,
    betweenness_centrality,
    closeness_centrality,
    multi_source_bfs,
    multi_source_sssp,
    sssp_average_length,
    sssp_has_path,
    sssp_path,
)
from linkgraph.algos.traversal import bfs, bfs_tree, sssp
from linkgraph.graph import Graph


def _tiny(spark):
    # path 1-2-3-4 with branch 2-5 and an isolated extra edge 6-7
    e = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (2, 5), (6, 7)], "src long, dst long"
    )
    return Graph.from_edges(e, directed=True)


def test_closeness_tiny_undirected(spark):
    g = _tiny(spark)
    got = {
        r["id"]: r["closeness"]
        for r in closeness_centrality(g, directed=False).state.collect()
    }
    src = np.array([1, 2, 3, 2, 6])
    dst = np.array([2, 3, 4, 5, 7])
    ids, exp = oracle.closeness_centrality(src, dst, directed=False)
    for i, v in zip(ids.tolist(), exp.tolist()):
        assert abs(got[i] - v) < 1e-9, (i, got[i], v)


def test_closeness_directed_sources(spark, small_graph, small_edges_np):
    src, dst = small_edges_np
    g = Graph.from_edges(small_graph, directed=True)
    srcs = sorted(np.unique(np.concatenate([src, dst]))[:10].tolist())
    res = closeness_centrality(g, sources=srcs, directed=True)
    got = {r["id"]: r["closeness"] for r in res.state.collect()}
    ids, exp = oracle.closeness_centrality(src, dst, directed=True, sources=srcs)
    assert set(got) == set(ids.tolist())
    for i, v in zip(ids.tolist(), exp.tolist()):
        assert abs(got[i] - v) < 1e-9


def test_betweenness_small_sampled(spark, small_graph, small_edges_np):
    src, dst = small_edges_np
    g = Graph.from_edges(small_graph, directed=True)
    srcs = sorted(np.unique(np.concatenate([src, dst]))[:8].tolist())
    res = betweenness_centrality(g, sources=srcs, directed=False, normalized=True)
    got = {r["id"]: r["betweenness"] for r in res.state.collect()}
    ids, exp = oracle.betweenness_centrality(
        src, dst, directed=False, normalized=True, sources=srcs
    )
    for i, v in zip(ids.tolist(), exp.tolist()):
        assert abs(got[i] - v) < 1e-9, (i, got[i], v)


def test_apsp_sampled(spark, small_graph, small_edges_np):
    src, dst = small_edges_np
    g = Graph.from_edges(small_graph, directed=True)
    srcs = sorted(np.unique(np.concatenate([src, dst]))[:5].tolist())
    res = all_pairs_shortest_path_length(g, sources=srcs, directed=True)
    got = sorted(tuple(r) for r in res.state.collect())
    exp = sorted(oracle.apsp_lengths(src, dst, directed=True, sources=srcs))
    assert got == exp


def test_sssp_path_tree_consistent(spark, small_graph, small_edges_np):
    """The predecessor tree must reproduce the sssp distances:
    dist(v) = dist(pred(v)) + w(pred(v), v) for every non-source."""
    src, dst = small_edges_np
    source = int(min(src.min(), dst.min()))
    e = small_graph.select(
        "src", "dst", ((F.col("src") + F.col("dst")) % 7 + 1).cast("double").alias("w")
    )
    g = Graph.from_edges(e, directed=True, weight_col="w")
    res = sssp_path(g, source=source, weight_col="w")
    tree = res.state
    # distances match plain sssp oracle
    w_np = (src + dst) % 7 + 1
    ids, dist = oracle.sssp(src, dst, w_np.astype(float), source, directed=True)
    got = {r["id"]: (r["pred"], r["dist"]) for r in tree.collect()}
    reached = {int(i): float(x) for i, x in zip(ids, dist) if np.isfinite(x)}
    assert set(got) == set(reached)
    for i, (p, dv) in got.items():
        assert abs(dv - reached[i]) < 1e-9
    # tree edges are real edges with the right weight delta
    ew = {(int(a), int(b)): float(x) for a, b, x in zip(src, dst, w_np)}
    for i, (p, dv) in got.items():
        if i == source:
            assert p == source and dv == 0.0
        else:
            key = (p, i)
            assert key in ew
            assert abs(got[p][1] + ew[key] - dv) < 1e-9


def test_has_path_and_average_length(spark):
    g = _tiny(spark)
    assert sssp_has_path(g, 1, 4, directed=False)
    assert not sssp_has_path(g, 1, 7, directed=False)
    # avg over reachable ordered pairs, undirected two components
    got = sssp_average_length(g, directed=False)
    rows = oracle.apsp_lengths(
        np.array([1, 2, 3, 2, 6]), np.array([2, 3, 4, 5, 7]), directed=False
    )
    ds = [d for (_, _, d) in rows if d > 0]
    assert abs(got - sum(ds) / len(ds)) < 1e-9


def test_msbfs_matches_bfs(spark, small_graph, small_edges_np):
    src, dst = small_edges_np
    g = Graph.from_edges(small_graph, directed=True)
    s0 = int(min(src.min(), dst.min()))
    res = multi_source_bfs(g, [s0], directed=True)
    got = {r["id"]: r["dist"] for r in res.state.collect()}
    ids, lvl = oracle.bfs(src, dst, s0, directed=True)
    exp = {int(i): int(x) for i, x in zip(ids, lvl) if x >= 0}
    assert got == exp

    # a seeded multigraph: parallel edges of other weights and a
    # self-loop at the source; the many-source runs from [s] project
    # the one-source rows and take the same rounds
    rng = np.random.default_rng(14)
    pairs = rng.integers(0, 80, (300, 2))
    s = int(pairs[0, 0])
    pairs = np.concatenate([pairs, pairs[:60], [[s, s]]])
    w = rng.integers(1, 9, len(pairs)).astype(float)
    e = spark.createDataFrame([(int(a), int(b), float(x)) for (a, b), x in zip(pairs, w)],
                              "src long, dst long, w double")
    mg = Graph.from_edges(e, directed=True, weight_col="w")

    one, many = bfs(mg, s), multi_source_bfs(mg, [s])
    levels = {r["id"]: r["level"] for r in one.state.collect() if r["level"] >= 0}
    assert {r["id"]: r["dist"] for r in many.state.collect()} == levels
    assert one.rounds == many.rounds == max(levels.values()) + 1

    one, many = sssp(mg, s), multi_source_sssp(mg, sources=[s])
    dists = {r["id"]: r["dist"] for r in one.state.collect() if r["dist"] >= 0}
    assert {r["id"]: r["dist"] for r in many.state.collect()} == dists
    assert one.rounds == many.rounds
    ids, exp = oracle.sssp(pairs[:, 0], pairs[:, 1], w, s, directed=True)
    assert dists == {int(i): float(x) for i, x in zip(ids, exp) if np.isfinite(x)}
    mg.release()


def test_absent_source_seeds_nothing(spark):
    """A source id that is not a vertex seeds no pair: bfs_tree is
    empty, sssp leaves every vertex unreached, and multi_source_bfs
    emits rows only for the sources that are vertices."""
    g = _tiny(spark)
    assert bfs_tree(g, 99).state.count() == 0
    assert {r["dist"] for r in sssp(g, 99).state.collect()} == {-1.0}
    rows = multi_source_bfs(g, [1, 99], directed=False).state.collect()
    assert {r["s"] for r in rows} == {1} and len(rows) == 5
    g.release()
