"""BFS / SSSP / HITS / k-core — golden tests vs the numpy oracles
(oracle.py transcribes the reference semantics; SURVEY.md §2.2.2)."""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from linkgraph import oracle
from linkgraph.algos.cores import kcore, kshell
from linkgraph.algos.hits import hits
from linkgraph.algos.traversal import bfs, sssp
from linkgraph.graph import Graph


def _by_id(df, col):
    pdf = df.toPandas().sort_values("id").reset_index(drop=True)
    return pdf["id"].to_numpy(np.int64), pdf[col].to_numpy()


def test_bfs_levels(spark, small_graph, small_edges_np):
    src, dst = small_edges_np
    source = int(min(src.min(), dst.min()))
    g = Graph.from_edges(small_graph, directed=True)
    res = bfs(g, source=source)
    assert res.converged
    ids, lvl = oracle.bfs(src, dst, source, directed=True)
    got_ids, got = _by_id(res.state, "level")
    assert (got_ids == ids).all()
    assert (got == lvl).all()


def test_bfs_undirected_reaches_more(spark):
    e = spark.createDataFrame([(1, 2), (3, 2)], "src long, dst long")
    g = Graph.from_edges(e, directed=True)
    lev_dir = dict(bfs(g, source=1).state.collect())
    lev_und = dict(bfs(g, source=1, directed=False).state.collect())
    assert lev_dir[3] == -1  # 3 only reachable through reversed edge
    assert lev_und[3] == 2


def test_sssp_weighted(spark, small_graph, small_edges_np):
    src, dst = small_edges_np
    source = int(min(src.min(), dst.min()))
    # deterministic weights from the edge endpoints
    e = small_graph.select(
        "src", "dst", ((F.col("src") + F.col("dst")) % 7 + 1).cast("double").alias("w")
    )
    w_np = (src + dst) % 7 + 1
    g = Graph.from_edges(e, directed=True, weight_col="w")
    res = sssp(g, source=source, weight_col="w")
    assert res.converged
    ids, dist = oracle.sssp(src, dst, w_np.astype(float), source, directed=True)
    got_ids, got = _by_id(res.state, "dist")
    assert (got_ids == ids).all()
    exp = np.where(np.isinf(dist), -1.0, dist)
    assert np.allclose(got, exp)


def test_sssp_directed_unit_weights(spark):
    """No weight column: unit weights on a directed cycle plus an
    in-tail; back-edges must not relax, the tail stays unreached."""
    e = spark.createDataFrame([(1, 2), (2, 3), (3, 1), (4, 1)], "src long, dst long")
    got = dict(sssp(Graph.from_edges(e, directed=True), source=1).state.collect())
    assert got == {1: 0.0, 2: 1.0, 3: 2.0, 4: -1.0}


def test_hits_matches_oracle(spark, small_graph, small_edges_np):
    src, dst = small_edges_np
    g = Graph.from_edges(small_graph, directed=True)
    res = hits(g, max_iter=100, tol=1e-8)
    ids, hub, auth = oracle.hits(src, dst, max_iter=100, tol=1e-8)
    pdf = res.state.toPandas().sort_values("id").reset_index(drop=True)
    assert (pdf["id"].to_numpy() == ids).all()
    assert np.allclose(pdf["hub"].to_numpy(), hub, atol=1e-6)
    assert np.allclose(pdf["auth"].to_numpy(), auth, atol=1e-6)


def test_kcore_triangle_plus_tail(spark):
    # triangle {1,2,3} is the 2-core; 4 dangles off it
    e = spark.createDataFrame([(1, 2), (2, 3), (3, 1), (3, 4)], "src long, dst long")
    g = Graph.from_edges(e, directed=True)
    got = {r["id"]: r["in_core"] for r in kcore(g, k=2).state.collect()}
    assert got == {1: True, 2: True, 3: True, 4: False}
    res = kshell(g)
    sh = {r["id"]: r["shell"] for r in res.state.collect()}
    assert sh == {1: 2, 2: 2, 3: 2, 4: 1}
    assert res.converged


def test_kshell_hindex_matches_peeling(spark, small_graph, small_edges_np):
    src, dst = small_edges_np
    g = Graph.from_edges(small_graph, directed=True)
    res = kshell(g)
    got = {r["id"]: r["shell"] for r in res.state.collect()}
    ids, core = oracle.core_numbers(src, dst)
    exp = {int(i): int(c) for i, c in zip(ids, core)}
    assert got == exp


def test_bfs_tree_undirected_one_direction_storage(spark):
    # Regression (ADVICE r3): undirected graph storing one direction
    # per pair — levels reach via both directions but the parent join
    # used stored rows only, leaving reached vertices parent=NULL.
    from linkgraph.algos.traversal import bfs_tree

    df = spark.createDataFrame([(2, 1), (2, 3)], "src long, dst long")
    res = bfs_tree(Graph.from_edges(df, directed=False), source=1)
    rows = {r["id"]: (r["parent"], r["level"]) for r in res.state.collect()}
    assert rows == {1: (None, 0), 2: (1, 1), 3: (2, 2)}
