"""The input cut (Graph.materialized): one evaluation of the source
plan per Graph, reused by every engine-driven algorithm call on it, and
the simple edge views built once from it and freed by Graph.release()."""

from __future__ import annotations

import ast
import dataclasses
import pathlib

import numpy as np
import pandas as pd
import pytest
from pyspark import StorageLevel
from pyspark.sql import functions as F

from linkgraph import oracle
from linkgraph.algos.biconnectivity import biconnectivity
from linkgraph.algos.cdlp import cdlp
from linkgraph.algos.cores import kcore
from linkgraph.algos.matching import mis
from linkgraph.algos.msf import msf
from linkgraph.algos.pagerank import pagerank, rank_edges
from linkgraph.algos.structure import clustering_directed
from linkgraph.algos.subgraph import motif_census
from linkgraph.algos.traversal import bfs_tree
from linkgraph.algos.triangles import lcc, triangle_corners
from linkgraph.algos.wcc import wcc
from linkgraph.engine import SuperstepEngine
from linkgraph.graph import Graph
from linkgraph.joins import scatter_join
from linkgraph.pipeline import dedup_clusters
from linkgraph.streaming import merge_edges_into_components

ALGOS = pathlib.Path(__file__).resolve().parent.parent / "linkgraph" / "algos"


def _edges(n: int = 60, m: int = 240, seed: int = 5) -> tuple[np.ndarray, np.ndarray]:
    """Distinct (src, dst) pairs without self-loops: the oracle collapses
    parallel edges, the engine counts every row."""
    rng = np.random.default_rng(seed)
    pairs = np.unique(rng.integers(0, n, (m, 2)), axis=0)
    pairs = pairs[pairs[:, 0] != pairs[:, 1]]
    return pairs[:, 0], pairs[:, 1]


def _frame(spark, src, dst):
    return spark.createDataFrame(pd.DataFrame({"src": src, "dst": dst}).astype("int64"))


def _ranks(state) -> tuple[np.ndarray, np.ndarray]:
    pdf = state.toPandas().sort_values("id")
    return pdf["id"].to_numpy(), pdf["rank"].to_numpy()


def _assert_pagerank(state, src, dst, **kw):
    ids, ranks = oracle.pagerank(src, dst, directed=True, **kw)
    got_ids, got = _ranks(state)
    assert np.array_equal(got_ids, ids)
    assert np.allclose(got, ranks, atol=1e-6)


def _assert_edge_side_not_shuffled(edges, msgs) -> None:
    """The forced shuffled-hash scatter of `msgs` over the persisted
    `edges` has no Exchange between the join and the edges' scan."""
    out = scatter_join(edges, msgs, "src", 10**6, broadcast_threshold=0).groupBy("dst").agg(F.sum("w"))
    out.collect()
    plan = out._jdf.queryExecution().executedPlan().toString()
    # (the persisted frame's own plan nests a second Final/Initial pair)
    final = plan.split("== Final Plan ==", 1)[1].splitlines()
    join = next(i for i, line in enumerate(final) if "ShuffledHashJoin" in line)
    kids = final[join].index("+-") + 3  # column of the join's child markers
    right = next(i for i in range(join + 1, len(final)) if final[i][kids:kids + 2] == "+-")
    edge_side = final[join + 1:right]
    # below the scan of the persisted frame is its own one-time repartition
    scan = next((i for i, line in enumerate(edge_side) if "InMemoryTableScan" in line), None)
    assert scan is not None and not any("Exchange" in line for line in edge_side[:scan]), \
        "\n".join(final)


def test_rank_edges_keep_src_partitioning_in_shuffled_scatter(spark):
    """The cut is taken before the repartition, so the persisted edge
    frame keeps its src hash partitioning: the shuffled-hash scatter
    moves only the message side, never E."""
    src, dst = _edges()
    P = int(spark.conf.get("spark.sql.shuffle.partitions"))
    g = Graph.from_edges(_frame(spark, src, dst)).materialized()
    edges, _, deg = rank_edges(g, P, directed=True)
    msgs = deg.select(F.col("id").alias("src"), F.lit(1.0).alias("w")).repartition(P, "src")
    _assert_edge_side_not_shuffled(edges, msgs)
    edges.unpersist()


def test_simple_undirected_keeps_src_partitioning_in_shuffled_scatter(spark):
    """The memoised undirected view is persisted after its repartition,
    so the shuffled-hash scatter over it moves only the message side."""
    src, dst = _edges()
    P = int(spark.conf.get("spark.sql.shuffle.partitions"))
    g = Graph.from_edges(_frame(spark, src, dst))
    msgs = g.materialized().deduced_vertices() \
        .select(F.col("id").alias("src"), F.lit(1.0).alias("w")).repartition(P, "src")
    _assert_edge_side_not_shuffled(g.simple_undirected(), msgs)
    g.release()


def test_source_evaluated_once_across_calls(spark, tmp_path):
    """pagerank, its resume and wcc on one Graph run the source plan
    once between them (counted by an accumulator in a pass-through)."""
    src, dst = _edges()
    rows = spark.sparkContext.accumulator(0)

    def count_rows(batches):
        for pdf in batches:
            rows.add(len(pdf))
            yield pdf

    raw = _frame(spark, src, dst)
    g = Graph.from_edges(raw.mapInPandas(count_rows, raw.schema))
    ck = str(tmp_path / "ck")

    first = pagerank(g, tol=0.0, max_iter=4,
                     engine=SuperstepEngine(spark, checkpoint_dir=ck, checkpoint_every=1))
    _assert_pagerank(first.state, src, dst, tol=0.0, max_iter=4)
    resumed = pagerank(g, tol=0.0, max_iter=6, resume=True,
                       engine=SuperstepEngine(spark, checkpoint_dir=ck, checkpoint_every=1))
    _assert_pagerank(resumed.state, src, dst, tol=0.0, max_iter=6)
    comp = wcc(g).state.toPandas().sort_values("id")
    ids, labels = oracle.wcc(src, dst)
    assert np.array_equal(comp["id"].to_numpy(), ids)
    assert np.array_equal(comp["comp"].to_numpy(), labels)

    assert rows.value == len(src)


def test_derived_graphs_take_their_own_cut(spark):
    """Graphs derived with dataclasses.replace never inherit the
    parent's memoised cut."""
    src, dst = _edges()
    g = Graph.from_edges(_frame(spark, src, dst).withColumn("w", F.lit(1.0)), weight_col="w")
    pagerank(g, tol=0.0, max_iter=3)
    assert g._cut is not None and g.materialized() is g._cut
    ids = spark.range(0, 30).select(F.col("id").cast("long").alias("id"))
    for derived in (g.to_undirected(), g.filter_edges("src < dst"), g.induce_subgraph(ids),
                    g.project_to_simple(), dataclasses.replace(g)):
        assert derived._cut is None

    keep = src < dst
    filtered = pagerank(g.filter_edges(F.col("src") < F.col("dst")), tol=0.0, max_iter=3)
    _assert_pagerank(filtered.state, src[keep], dst[keep], tol=0.0, max_iter=3)


def test_cut_projects_columns_and_release_drops_it(spark):
    src, dst = _edges()
    e = _frame(spark, src, dst).withColumn("w", F.lit(2.0)).withColumn("label", F.lit("x"))
    v = spark.range(0, 80).select(F.col("id").cast("long").alias("id"), F.lit(1).alias("p"))
    g = Graph.from_edges(e, vertices=v, weight_col="w")
    cut = g.materialized()
    assert cut.edges.columns == ["src", "dst", "w"]
    assert cut.vertices.columns == ["id"] and cut.vertices.count() == 80  # isolated ids kept
    assert cut.materialized() is cut
    g.release()
    assert g._cut is None and g.materialized() is not cut


# -- derived views: built once per Graph, freed by release()


def _cached(spark) -> int:
    """Number of frames registered in the session's cache."""
    return spark._jsparkSession.sharedState().cacheManager().cachedData().size()


def test_algorithms_share_one_undirected_view(spark, monkeypatch):
    """wcc, cdlp, kcore, triangle_corners and mis on one Graph build the
    simple undirected view once and read the same stored frame;
    release() unpersists it."""
    calls = []
    symmetrize = Graph.symmetrized_edges

    def counted(self):
        calls.append(self)
        return symmetrize(self)

    monkeypatch.setattr(Graph, "symmetrized_edges", counted)
    src, dst = _edges()
    g = Graph.from_edges(_frame(spark, src, dst))
    views = []
    for run in (wcc, cdlp, lambda g: kcore(g, k=2), lambda g: triangle_corners(g).count(), mis):
        run(g)
        views.append(g._views["simple_undirected"])
    assert len(calls) == 1
    assert all(view is views[0] for view in views)
    assert views[0].storageLevel != StorageLevel.NONE
    g.release()
    assert views[0].storageLevel == StorageLevel.NONE


ONE_SHOT = {
    "wcc": lambda g: wcc(g).state.count(),
    "cdlp": lambda g: cdlp(g, max_round=3).state.count(),
    "kcore": lambda g: kcore(g, k=2).state.count(),
    "mis": lambda g: mis(g).state.count(),
    "triangle_corners": lambda g: triangle_corners(g).count(),
    "lcc": lambda g: lcc(g).count(),
    "motif_census": lambda g: motif_census(g).collect(),
    "clustering_directed": lambda g: clustering_directed(g).count(),
    "msf": lambda g: msf(g).state.count(),
    "biconnectivity": lambda g: biconnectivity(g).bcc.count(),
}


@pytest.mark.parametrize("name", sorted(ONE_SHOT))
def test_release_leaves_the_cache_as_found(spark, name):
    """After a call and release(), the session caches exactly what it
    cached before: an algorithm keeps no persisted frame of its own
    past the call, and the views it read go with the cut. Each input
    has its own seed: a frame another test left cached with the same
    plan would make a persist() here a no-op."""
    src, dst = _edges(seed=100 + sorted(ONE_SHOT).index(name))
    g = Graph.from_edges(_frame(spark, src, dst))
    before = _cached(spark)
    ONE_SHOT[name](g)
    g.release()
    assert _cached(spark) == before


def _check_msf(g, src, dst):
    forest = msf(g).state.count()
    ids, labels = oracle.wcc(src, dst)
    assert forest == len(ids) - len(set(labels))  # a spanning forest: V - components


def _check_bfs_tree(g, src, dst):
    tree = bfs_tree(g, int(src[0])).state.toPandas().sort_values("id")
    ids, level = oracle.bfs(src, dst, int(src[0]))
    assert np.array_equal(tree["id"].to_numpy(), ids[level >= 0])
    assert np.array_equal(tree["level"].to_numpy(), level[level >= 0])
    assert tree["parent"].isna().sum() == 1  # only the source has none


@pytest.mark.parametrize("check", [_check_msf, _check_bfs_tree], ids=["msf", "bfs_tree"])
def test_evaluates_its_source_once(spark, check):
    """msf (edges and vertex set) and bfs_tree (its levels and its
    parent pass) read their graph through one cut: the source plan
    runs once per call."""
    src, dst = _edges()
    rows = spark.sparkContext.accumulator(0)

    def count_rows(batches):
        for pdf in batches:
            rows.add(len(pdf))
            yield pdf

    raw = _frame(spark, src, dst)
    g = Graph.from_edges(raw.mapInPandas(count_rows, raw.schema))
    check(g, src, dst)
    assert rows.value == len(src)
    g.release()


def _merge_twice(spark, tmp_path):
    state = str(tmp_path / "state")
    for seed in (120, 121):
        merge_edges_into_components(_frame(spark, *_edges(seed=seed)), state)
    return spark.read.parquet(state).count()


def _dedup_clusters(spark, tmp_path):
    docs = [(i, "the quick brown fox jumps over the lazy dog " + "xyz"[:i % 3], "en", "s", 45)
            for i in range(4)] + [(9, "completely different words here", "en", "s", 31)]
    spark.createDataFrame(
        docs, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.parquet(str(tmp_path / "documents.parquet"))
    out = dedup_clusters(spark, str(tmp_path))
    return out.where(F.col("canonical_id") != F.col("doc_id")).count()


@pytest.mark.parametrize("call", [_merge_twice, _dedup_clusters],
                         ids=["merge_edges_into_components", "dedup_clusters"])
def test_throwaway_graphs_leave_the_cache_as_found(spark, tmp_path, call):
    """Callers that build a Graph of their own for one wcc run (a
    streaming micro-batch merge, the near-dup clustering) release it:
    the session caches after the call exactly what it cached before."""
    before = _cached(spark)
    assert call(spark, tmp_path) > 0  # the wcc ran on a non-empty graph
    assert _cached(spark) == before


# Algorithm functions that may build an edge frame of their own (call
# symmetrized_edges() or dropDuplicates(["src", "dst"])), with the
# reason: each one is not one of the two simple views on Graph.
OWN_EDGE_FRAMES: dict[str, str] = {
    "centrality._directed_edges": "keeps self-loops",
    "hits.hits": "keeps self-loops",
    "msf.msf": "keeps the lightest parallel edge, and dedups the picked forest edges",
    "traversal.lightest_edges": "keeps the lightest parallel edge (sssp family)",
    "pathenum.sampling_path": "keeps self-loops: a loop is a one-hop path",
    "patterns.match_pattern": "one query: AQE reuses its dedup exchange in every stage; a stored view measured slower",
    "structure._deg_frame": "directed degrees count a self-loop as an out- and an in-edge",
    "structure.degree_assortativity": "directed branch keeps self-loops",
    "structure.attribute_assortativity": "keeps self-loops: a loop mixes a category with itself",
    "structure.average_degree_connectivity": "directed branch keeps self-loops",
}


def _builds_edge_frame(fn: ast.FunctionDef) -> list[int]:
    """Line numbers where `fn` symmetrizes or dedups an edge frame."""
    return sorted(
        n.lineno for n in ast.walk(fn)
        if isinstance(n, ast.Call) and isinstance(n.func, ast.Attribute)
        and (n.func.attr == "symmetrized_edges"
             or (n.func.attr == "dropDuplicates" and n.args and isinstance(n.args[0], ast.List)
                 and [getattr(e, "value", None) for e in n.args[0].elts] == ["src", "dst"])))


def test_algorithms_read_simple_views_from_graph():
    """No module under linkgraph/algos builds a simple edge view of its
    own: the symmetrized or deduplicated (src, dst) frame comes from
    Graph.simple_undirected() / simple_directed()."""
    offenders, own_frames = [], set()
    for path in sorted(ALGOS.glob("*.py")):
        for fn in ast.parse(path.read_text()).body:
            if not isinstance(fn, ast.FunctionDef):
                continue
            name = f"{path.stem}.{fn.name}"
            lines = _builds_edge_frame(fn)
            if lines:
                own_frames.add(name)
                if name not in OWN_EDGE_FRAMES:
                    offenders.append(f"{path.name}:{lines} in {fn.name}")
    assert not offenders, "edge views built outside Graph: " + "; ".join(offenders)
    assert set(OWN_EDGE_FRAMES) <= own_frames, "stale allowlist entries"


# -- tooling guard: engine-driven algorithms read their graph through the cut


# Functions that call eng.run but may read their raw `graph` argument,
# with the reason.
RAW_GRAPH_ALLOWED: dict[str, str] = {}

# Graph attributes that are flags, not frames.
FLAGS = {"directed", "weight_col"}


def _raw_graph_reads(fn: ast.FunctionDef) -> list[int]:
    """Line numbers where `fn` uses its Graph parameter other than to
    take the cut (inside a `...materialized()` call) or read a flag."""
    graphs = {a.arg for a in fn.args.args + fn.args.kwonlyargs
              if a.arg == "graph" or (isinstance(a.annotation, ast.Name) and a.annotation.id == "Graph")}
    inside_cut = {id(n) for call in ast.walk(fn)
                  if isinstance(call, ast.Call) and isinstance(call.func, ast.Attribute)
                  and call.func.attr == "materialized"
                  for n in ast.walk(call.func.value)}
    flags = {id(n.value) for n in ast.walk(fn)
             if isinstance(n, ast.Attribute) and n.attr in FLAGS}
    return sorted(n.lineno for n in ast.walk(fn)
                  if isinstance(n, ast.Name) and n.id in graphs and isinstance(n.ctx, ast.Load)
                  and id(n) not in inside_cut and id(n) not in flags)


def _calls_engine(fn: ast.FunctionDef) -> bool:
    return any(isinstance(n, ast.Call) and isinstance(n.func, ast.Attribute) and n.func.attr == "run"
               and isinstance(n.func.value, ast.Name) and n.func.value.id == "eng"
               for n in ast.walk(fn))


def test_engine_algorithms_read_graph_through_cut():
    offenders, engine_fns = [], set()
    for path in sorted(ALGOS.glob("*.py")):
        for fn in ast.walk(ast.parse(path.read_text())):
            if not isinstance(fn, ast.FunctionDef) or not _calls_engine(fn):
                continue
            name = f"{path.stem}.{fn.name}"
            engine_fns.add(name)
            lines = _raw_graph_reads(fn)
            if lines and name not in RAW_GRAPH_ALLOWED:
                offenders.append(f"{path.name}:{lines} in {fn.name}")
    assert {"pagerank.pagerank", "pagerank.ppr", "pagerank.articlerank",
            "wcc.wcc", "cdlp.cdlp"} <= engine_fns
    assert not offenders, "raw graph reads in engine-driven algorithms: " + "; ".join(offenders)
    assert set(RAW_GRAPH_ALLOWED) <= engine_fns, "stale allowlist entries"
