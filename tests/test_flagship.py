"""WCC / CDLP / triangles golden tests — exact equality vs the numpy
oracles (test style of python/graphscope/tests/unittest/test_app.py:189-234:
exact for labels/counts)."""

from __future__ import annotations

import importlib
import re

import numpy as np

from linkgraph import oracle
from linkgraph.algos.cdlp import cdlp
from linkgraph.algos.triangles import lcc, transitivity, triangle_corners, triangle_count, triangles
from linkgraph.algos.wcc import wcc
from linkgraph.graph import Graph


def _sorted_np(df, col):
    pdf = df.toPandas().sort_values("id").reset_index(drop=True)
    return pdf["id"].to_numpy(np.int64), pdf[col].to_numpy()


def test_wcc_exact(spark, small_graph, small_edges_np):
    src, dst = small_edges_np
    g = Graph.from_edges(small_graph, directed=True)
    res = wcc(g)
    assert res.converged
    ids, comp = oracle.wcc(src, dst)
    got_ids, got = _sorted_np(res.state, "comp")
    assert (got_ids == ids).all()
    assert (got == comp).all()


def test_wcc_multiple_components(spark):
    # two disjoint triangles + an isolated-ish pair
    edges = [(1, 2), (2, 3), (3, 1), (10, 11), (11, 12), (12, 10), (20, 21)]
    e = spark.createDataFrame(edges, "src long, dst long")
    res = wcc(Graph.from_edges(e, directed=True))
    got = dict(res.state.collect())
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 12: 10, 20: 20, 21: 20}


def test_cdlp_exact(spark, small_graph, small_edges_np):
    src, dst = small_edges_np
    g = Graph.from_edges(small_graph, directed=True)
    res = cdlp(g, max_round=10)
    ids, lab = oracle.cdlp(src, dst, max_round=10)
    got_ids, got = _sorted_np(res.state, "label")
    assert (got_ids == ids).all()
    assert (got == lab).all()


def test_cdlp_tiebreak_min_label(spark):
    # vertex 3 sees labels {1,2} once each -> must adopt min(1,2)=1
    e = spark.createDataFrame([(1, 3), (2, 3)], "src long, dst long")
    res = cdlp(Graph.from_edges(e, directed=True), max_round=1)
    got = dict(res.state.collect())
    assert got[3] == 1


def test_triangles_exact(spark, small_graph, small_edges_np):
    src, dst = small_edges_np
    g = Graph.from_edges(small_graph, directed=True)
    ids, cnt = oracle.triangles(src, dst)
    got_ids, got = _sorted_np(triangles(g), "tri")
    assert (got_ids == ids).all()
    assert (got == cnt).all()
    assert triangle_count(g) == int(cnt.sum() // 3)


def test_triangles_k4(spark):
    # K4: 4 triangles total, each vertex in 3
    edges = [(a, b) for a in range(4) for b in range(4) if a < b]
    e = spark.createDataFrame(edges, "src long, dst long")
    g = Graph.from_edges(e, directed=False)
    assert triangle_count(g) == 4
    assert {r["tri"] for r in triangles(g).collect()} == {3}
    assert abs(transitivity(g) - 1.0) < 1e-12
    assert {r["lcc"] for r in lcc(g).collect()} == {1.0}


def _corner_joins(g) -> list[str]:
    """The join operators of the corner joins in the static plan of
    triangle_corners(g)."""
    plan = triangle_corners(g)._jdf.queryExecution().sparkPlan().toString()
    return re.findall(r"(\w+Join) \[[xy]#", plan)


def test_corner_joins_broadcast_only_a_small_oriented_edge_set(spark, small_graph, monkeypatch):
    """The degree joins with the stored degree frame leave the planner no
    size for the oriented edges; triangle_corners sizes them from the
    view's kept row count, so a small graph's corner joins broadcast (no
    shuffle over E) and above the row threshold they do not."""
    g = Graph.from_edges(small_graph, directed=True)
    assert _corner_joins(g) == ["BroadcastHashJoin"] * 2
    # the module, not the triangles() function linkgraph.algos re-exports
    monkeypatch.setattr(importlib.import_module("linkgraph.algos.triangles"), "BROADCAST_THRESHOLD_ROWS", 0)
    assert "BroadcastHashJoin" not in _corner_joins(g)
    g.release()
