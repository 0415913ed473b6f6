"""PPR / ArticleRank / BFS-tree / weighted multi-source SSSP vs
python-numpy oracles (flash ppr.h, articlerank.h, bfs_generic.h,
sssp_average_length.h semantics)."""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from linkgraph.algos.pagerank import articlerank, ppr
from linkgraph.algos.paths import multi_source_sssp, sssp_average_length
from linkgraph.algos.traversal import bfs_tree
from linkgraph.graph import Graph


def _np_ppr(src, dst, source, alpha, iters):
    verts = sorted(set(src.tolist()) | set(dst.tolist()))
    idx = {v: i for i, v in enumerate(verts)}
    n = len(verts)
    pairs = set()
    for a, b in zip(src.tolist(), dst.tolist()):
        if a != b:
            pairs.add((idx[a], idx[b]))
            pairs.add((idx[b], idx[a]))
    a_i = np.array([p for p, _ in pairs])
    b_i = np.array([q for _, q in pairs])
    deg = np.bincount(a_i, minlength=n).astype(float)
    r = np.zeros(n)
    r[idx[source]] = 1.0
    restart = np.zeros(n)
    restart[idx[source]] = 1.0 - alpha
    for _ in range(iters):
        msg = np.zeros(n)
        np.add.at(msg, b_i, r[a_i] / deg[a_i])
        r = restart + alpha * msg
    return {v: r[idx[v]] for v in verts}


def _np_articlerank(src, dst, iters, damping):
    verts = sorted(set(src.tolist()) | set(dst.tolist()))
    idx = {v: i for i, v in enumerate(verts)}
    n = len(verts)
    pairs = {(idx[a], idx[b]) for a, b in zip(src.tolist(), dst.tolist()) if a != b}
    a_i = np.array([p for p, _ in pairs])
    b_i = np.array([q for _, q in pairs])
    deg = np.bincount(a_i, minlength=n).astype(float)
    avg = deg.mean()
    r = np.zeros(n)
    for _ in range(iters):
        msg = np.zeros(n)
        np.add.at(msg, b_i, damping * r[a_i] / (deg[a_i] + avg))
        r = (1.0 - damping) + msg
    return {v: r[idx[v]] for v in verts}


def test_ppr_matches_numpy(spark, small_graph, small_edges_np):
    src, dst = small_edges_np
    g = Graph.from_edges(small_graph, directed=True)
    source = int(min(src.min(), dst.min()))
    res = ppr(g, source=source, alpha=0.5, max_iter=12)
    got = {r["id"]: r["rank"] for r in res.state.collect()}
    exp = _np_ppr(src, dst, source, 0.5, 12)
    assert got.keys() == exp.keys()
    for v, x in exp.items():
        assert abs(got[v] - x) < 1e-9, (v, got[v], x)


def test_articlerank_matches_numpy(spark, small_graph, small_edges_np):
    src, dst = small_edges_np
    g = Graph.from_edges(small_graph, directed=True)
    res = articlerank(g, max_iter=12, damping=0.85)
    got = {r["id"]: r["rank"] for r in res.state.collect()}
    exp = _np_articlerank(src, dst, 12, 0.85)
    for v, x in exp.items():
        assert abs(got[v] - x) < 1e-9, (v, got[v], x)


def _min_parent_bfs(pairs, source, directed):
    """Level-synchronous BFS: parent = the minimum in-neighbor one
    level up (self-loops and parallel edges change nothing)."""
    out = {}
    for a, b in pairs:
        if a != b:
            out.setdefault(a, set()).add(b)
            if not directed:
                out.setdefault(b, set()).add(a)
    tree, frontier, level = {source: (None, 0)}, [source], 0
    while frontier:
        nxt = {}
        for u in frontier:
            for v in out.get(u, ()):
                if v not in tree:
                    nxt[v] = min(nxt.get(v, u), u)
        level += 1
        tree.update({v: (p, level) for v, p in nxt.items()})
        frontier = list(nxt)
    return tree


def test_bfs_tree_parents(spark):
    # path 1-2-3 plus branch 2-4; min-parent tie: 5 reachable from 3 and 4
    e = [(1, 2), (2, 3), (2, 4), (3, 5), (4, 5)]
    g = Graph.from_edges(spark.createDataFrame(e, "src long, dst long"), directed=True)
    res = bfs_tree(g, source=1, directed=False)
    rows = {r["id"]: (r["parent"], r["level"]) for r in res.state.collect()}
    assert rows[1] == (None, 0)
    assert rows[2] == (1, 1)
    assert rows[3] == (2, 2)
    assert rows[4] == (2, 2)
    assert rows[5] == (3, 3)  # min(3, 4) wins deterministically
    # random graphs with self-loops and parallel edges, both directions
    rng = np.random.default_rng(4)
    for trial in range(3):
        pairs = [tuple(map(int, e)) for e in rng.integers(0, 60, (150, 2))]
        pairs += pairs[:10] + [(70 + trial, 70 + trial)]
        df = spark.createDataFrame(pairs, "src long, dst long")
        for directed in (True, False):
            g = Graph.from_edges(df, directed=directed)
            rows = {r["id"]: (r["parent"], r["level"])
                    for r in bfs_tree(g, source=pairs[0][0]).state.collect()}
            assert rows == _min_parent_bfs(pairs, pairs[0][0], directed), (trial, directed)
            g.release()


def test_multi_source_sssp_weighted(spark):
    # weighted square with a heavy diagonal shortcut
    e = [(1, 2, 1.0), (2, 3, 1.0), (3, 4, 1.0), (1, 4, 10.0), (2, 4, 1.5)]
    df = spark.createDataFrame(e, "src long, dst long, w double")
    g = Graph.from_edges(df, directed=False, weight_col="w")
    res = multi_source_sssp(g, sources=[1, 3], weight_col="w", directed=False)
    got = {(r["s"], r["id"]): r["dist"] for r in res.state.collect()}
    assert got[(1, 4)] == 2.5  # 1-2-4, not the direct 10.0 edge
    assert got[(1, 3)] == 2.0
    assert got[(3, 1)] == 2.0
    assert got[(3, 4)] == 1.0
    avg = sssp_average_length(g, sources=[1, 3], weighted=True, weight_col="w",
                              directed=False)
    tot = sum(v for (s, i), v in got.items() if v > 0)
    cnt = sum(1 for v in got.values() if v > 0)
    assert abs(avg - tot / cnt) < 1e-12
