"""The input cut (Graph.materialized): one evaluation of the source
plan per Graph, reused by every engine-driven algorithm call on it, and
the edge views (Graph.edge_view) built once from it and freed by
Graph.release()."""

from __future__ import annotations

import ast
import dataclasses
import pathlib

import numpy as np
import pandas as pd
import pytest
from pyspark import StorageLevel
from pyspark.sql import functions as F

import __spark_entry__ as ent
from linkgraph import oracle
from linkgraph.algos.biconnectivity import biconnectivity
from linkgraph.algos.cdlp import cdlp
from linkgraph.algos.centrality import eigenvector_centrality, katz_centrality
from linkgraph.algos.cores import kcore
from linkgraph.algos.hits import hits
from linkgraph.algos.louvain import louvain, louvain_phase1, modularity
from linkgraph.algos.matching import mis
from linkgraph.algos.msf import msf
from linkgraph.algos.pagerank import articlerank, pagerank, ppr
from linkgraph.algos.paths import (
    betweenness_centrality, closeness_centrality, diameter_approx, multi_source_sssp, sssp_path,
)
from linkgraph.algos.structure import clustering_directed
from linkgraph.algos.subgraph import motif_census
from linkgraph.algos.traversal import bfs_tree, sssp
from linkgraph.algos.triangles import lcc, triangle_corners
from linkgraph.algos.wcc import wcc
from linkgraph.engine import SuperstepEngine
from linkgraph.graph import Graph
from linkgraph.joins import scatter_join
from linkgraph.pipeline import dedup_clusters
from linkgraph.streaming import merge_edges_into_components, refresh_pagerank_snapshot

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
    """The forced shuffled-hash scatter of `msgs` (src, m) over the
    persisted `edges` has no Exchange between the join and the edges'
    scan."""
    out = scatter_join(edges, msgs, "src", 10**6, broadcast_threshold=0).groupBy("dst").agg(F.sum("m"))
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


# every (symmetric, loops, reduce) edge view an algorithm reads
VIEW_KINDS = {
    "stored-noloops-distinct": (False, False, "distinct"),    # simple_directed
    "symmetric-noloops-distinct": (True, False, "distinct"),  # simple_undirected
    "stored-loops-all": (False, True, "all"),                 # directed pagerank family
    "stored-loops-distinct": (False, True, "distinct"),       # hits, directed eigenvector/katz
    "symmetric-loops-distinct": (True, True, "distinct"),     # undirected pagerank, ppr, eigenvector/katz
    "stored-noloops-min": (False, False, "min"),              # directed sssp family
    "symmetric-noloops-min": (True, False, "min"),            # undirected sssp family, msf
    "stored-noloops-sum": (False, False, "sum"),              # louvain, undirected graph
    "symmetric-noloops-sum": (True, False, "sum"),            # louvain, directed graph
}


@pytest.mark.parametrize("kind", sorted(VIEW_KINDS))
def test_edge_views_keep_src_partitioning_in_shuffled_scatter(spark, kind):
    """Every edge view is persisted after its repartition, so the
    shuffled-hash scatter over it moves only the message side, never E."""
    src, dst = _edges()
    P = int(spark.conf.get("spark.sql.shuffle.partitions"))
    g = Graph.from_edges(_frame(spark, src, dst).withColumn("w", F.lit(2.0)), weight_col="w")
    symmetric, loops, reduce = VIEW_KINDS[kind]
    msgs = g.materialized().deduced_vertices() \
        .select(F.col("id").alias("src"), F.lit(1.0).alias("m")).repartition(P, "src")
    _assert_edge_side_not_shuffled(g.edge_view(symmetric, loops, reduce), msgs)
    g.release()


def _weighted_edges(seed: int = 7) -> pd.DataFrame:
    """(src, dst, w) rows with self-loops and parallel edges."""
    rng = np.random.default_rng(seed)
    return pd.DataFrame({"src": rng.integers(0, 30, 400), "dst": rng.integers(0, 30, 400),
                         "w": rng.integers(1, 6, 400).astype("float64")}).astype({"src": "int64", "dst": "int64"})


@pytest.mark.parametrize("directed", [True, False], ids=["directed", "undirected"])
def test_edge_views_hold_the_expected_rows(spark, directed):
    """Each view holds the rows its (symmetric, loops, reduce) names,
    keeps their count and stores the out-degree of every vertex in it,
    against a pandas derivation of the same input; an unweighted
    graph's "min" view is its distinct view with w = 1.0."""
    pdf = _weighted_edges()
    ids = np.union1d(pdf["src"], pdf["dst"])
    g = Graph.from_edges(spark.createDataFrame(pdf), directed=directed, weight_col="w")
    for symmetric, loops, reduce in VIEW_KINDS.values():
        e = pd.concat([pdf, pdf.rename(columns={"src": "dst", "dst": "src"})]) if symmetric else pdf
        e = e if loops else e[e["src"] != e["dst"]]
        if reduce == "distinct":
            e = e[["src", "dst"]].drop_duplicates()
        elif reduce == "all":
            e = e[["src", "dst"]]
        else:
            e = e.groupby(["src", "dst"], as_index=False)["w"].agg(reduce)
        got = g.edge_view(symmetric, loops, reduce).toPandas()
        cols = list(e.columns)
        assert got.columns.tolist() == cols
        assert got.sort_values(cols).to_numpy().tolist() == e.sort_values(cols).to_numpy().tolist()
        assert g.view_size(symmetric, loops, reduce) == len(e)
        deg = g.degrees(symmetric, loops, reduce).toPandas().sort_values("id")
        assert deg["id"].tolist() == ids.tolist()
        assert deg["degree"].tolist() == e.groupby("src").size().reindex(ids, fill_value=0).tolist()
    assert g.materialized().num_vertices() == len(ids)
    with pytest.raises(TypeError, match="symmetric must be a bool"):
        g.degrees("out")
    g.release()
    assert not (g._view_rows or g._degrees)

    unweighted = Graph.from_edges(spark.createDataFrame(pdf[["src", "dst"]]), directed=directed)
    got = unweighted.edge_view(True, reduce="min").toPandas()
    assert (got["w"] == 1.0).all()
    assert got[["src", "dst"]].sort_values(["src", "dst"]).to_numpy().tolist() == \
        unweighted.simple_undirected().toPandas().sort_values(["src", "dst"]).to_numpy().tolist()
    assert len(unweighted._views) == 1  # the min view stored nothing of its own
    unweighted.release()


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


def test_derived_graphs_count_their_own_sizes(spark):
    """Size memos are not copied into derived graphs: on a 3-edge path,
    the symmetrized graph counts its 6 rows and a filtered one its 2
    remaining vertices."""
    g = Graph.from_edges(_frame(spark, np.array([0, 1, 2]), np.array([1, 2, 3])))
    assert (g.num_vertices(), g.num_edges()) == (4, 3)
    assert g.to_undirected().num_edges() == 6
    assert g.filter_edges(F.col("src") == 0).num_vertices() == 2


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
        views.append(g.simple_undirected())
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
    "pagerank": lambda g: pagerank(g, max_iter=3).state.count(),
    "ppr": lambda g: ppr(g, source=0, max_iter=3).state.count(),
    "articlerank": lambda g: articlerank(g, max_iter=3).state.count(),
    "hits": lambda g: hits(g, max_iter=3).state.count(),
    "eigenvector": lambda g: eigenvector_centrality(g, max_iter=3).state.count(),
    "katz": lambda g: katz_centrality(g, max_iter=3).state.count(),
    # a weight column other than the graph's own: a derived graph
    "sssp": lambda g: sssp(g, 0, weight_col="w2").state.count(),
    "sssp_path": lambda g: sssp_path(g, 0).state.count(),
    "multi_source_sssp": lambda g: multi_source_sssp(g, sources=[0, 1]).state.count(),
    "louvain": lambda g: louvain(g, max_round=3, max_levels=2).state.count(),
    "modularity": lambda g: modularity(g, g.materialized().deduced_vertices()
                                       .select("id", (F.col("id") % 3).alias("c"))),
    "betweenness": lambda g: betweenness_centrality(g, sources=[0, 1]).state.count(),
}


def _weighted_graph(spark, seed: int) -> Graph:
    """A graph whose own weight column is w, with a second one, w2."""
    src, dst = _edges(seed=seed)
    e = _frame(spark, src, dst).withColumn("w", (F.col("src") % 5 + 1).cast("double")) \
        .withColumn("w2", (F.col("dst") % 3 + 1).cast("double"))
    return Graph.from_edges(e, weight_col="w")


@pytest.mark.parametrize("name", sorted(ONE_SHOT))
def test_release_leaves_the_cache_as_found(spark, name):
    """After a call and release(), the session caches exactly what it
    cached before: an algorithm keeps no persisted frame of its own
    past the call, and the views it read go with the cut. Each input
    has its own seed: a frame another test left cached with the same
    plan would make a persist() here a no-op."""
    g = _weighted_graph(spark, seed=100 + sorted(ONE_SHOT).index(name))
    before = _cached(spark)
    ONE_SHOT[name](g)
    g.release()
    assert _cached(spark) == before


def test_durable_run_leaves_the_cache_as_found(spark, tmp_path):
    """A durable run's state, read back from its last checkpoint, is
    not registered in the session cache: pagerank with a checkpoint
    every round, then release(), leaves the cache as found, and the
    result still evaluates."""
    g = _weighted_graph(spark, seed=300)
    before = _cached(spark)
    res = pagerank(g, tol=0.0, max_iter=3, engine=SuperstepEngine(
        spark, checkpoint_dir=str(tmp_path / "ck"), checkpoint_every=1))
    g.release()
    assert res.state.count() > 0
    assert _cached(spark) == before


def test_empty_graph_leaves_the_cache_as_found(spark):
    """The empty-graph early returns keep no frame past release()."""
    g = Graph.from_edges(spark.createDataFrame([], "src long, dst long"))
    before = _cached(spark)
    for run in (pagerank, hits, eigenvector_centrality, katz_centrality):
        assert run(g).state.count() == 0
    g.release()
    assert _cached(spark) == before


SHARED_VIEW = {
    "pagerank-resume-articlerank": (
        lambda g, ck: pagerank(g, tol=0.0, max_iter=2, engine=SuperstepEngine(
            g.edges.sparkSession, checkpoint_dir=ck, checkpoint_every=1)),
        lambda g, ck: pagerank(g, tol=0.0, max_iter=4, resume=True, engine=SuperstepEngine(
            g.edges.sparkSession, checkpoint_dir=ck, checkpoint_every=1)),
        lambda g, ck: articlerank(g, max_iter=2),
    ),
    "sssp-sssp_path": (lambda g, ck: sssp(g, 0), lambda g, ck: sssp_path(g, 0)),
    "eigenvector-katz": (lambda g, ck: eigenvector_centrality(g, max_iter=3),
                         lambda g, ck: katz_centrality(g, max_iter=3)),
    "louvain-modularity": (
        lambda g, ck: louvain(g, max_round=3, max_levels=2),
        lambda g, ck: modularity(g, louvain_phase1(g, max_round=2).state),
    ),
}


@pytest.mark.parametrize("name", sorted(SHARED_VIEW))
def test_calls_on_one_graph_build_their_view_once(spark, tmp_path, name):
    """Algorithms that read the same message frame build it once per
    Graph: the first call stores one view, the later calls read that
    frame and store no other, and release() unpersists it, leaving the
    cache as found."""
    g = _weighted_graph(spark, seed=200 + sorted(SHARED_VIEW).index(name))
    before = _cached(spark)
    ck = str(tmp_path / "ck")
    first, *later = SHARED_VIEW[name]
    first(g, ck)
    [view] = g._views.values()
    assert view.storageLevel != StorageLevel.NONE
    for call in later:
        call(g, ck)
        assert list(g._views.values()) == [view]
    g.release()
    assert view.storageLevel == StorageLevel.NONE and not g._views
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


def _check_closeness(g, src, dst):
    got = closeness_centrality(g).state.toPandas().sort_values("id")
    ids, exp = oracle.closeness_centrality(src, dst, directed=True)
    assert np.array_equal(got["id"].to_numpy(), ids)
    assert np.allclose(got["closeness"].to_numpy(), exp)


def _check_diameter(g, src, dst):
    """diameter_approx's two phases replayed on the oracle's BFS
    levels: ecc(v) is the largest distance from a phase's sources."""
    def ecc(sources):
        return np.stack([oracle.bfs(src, dst, int(s), directed=False)[1] for s in sources]).max(0)

    ids = np.unique(np.concatenate([src, dst]))
    first = ecc(ids[:4])
    reached = np.flatnonzero(first >= 0)
    periphery = reached[np.lexsort((ids[reached], -first[reached]))][:4]
    e = np.maximum(first, ecc(ids[periphery]))
    row = diameter_approx(g, k=4, directed=False).state.collect()[0]
    assert (row["diameter"], row["radius"]) == (e.max(), e[e > 0].min())


@pytest.mark.parametrize("check", [_check_msf, _check_bfs_tree, _check_closeness, _check_diameter],
                         ids=["msf", "bfs_tree", "closeness", "diameter_approx"])
def test_evaluates_its_source_once(spark, check):
    """msf (edges and vertex set), bfs_tree (its edge view and its
    vertex set), closeness_centrality (its vertex count and its sources)
    and diameter_approx (its first sources) read their graph through one
    cut: the source plan runs once per call."""
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


def _refresh_twice(spark, tmp_path):
    state = str(tmp_path / "ranks")
    for seed in (122, 123):
        refresh_pagerank_snapshot(_frame(spark, *_edges(seed=seed)), state, max_iter=5)
    return spark.read.parquet(state).count()


def _lineitem(tmp_path) -> str:
    """A small co-purchase corpus in the layout the entry queries read:
    a lineitem table of 300 orders of 1-7 lines over 80 parts, and the
    orders (of 40 customers), customer and part tables."""
    rng = np.random.default_rng(9)
    lines = rng.integers(1, 8, 300)
    sf = tmp_path / "sf"
    sf.mkdir()
    pd.DataFrame({"l_orderkey": np.repeat(np.arange(300, dtype=np.int64), lines),
                  "l_partkey": rng.integers(0, 80, lines.sum()).astype(np.int64)}) \
        .to_parquet(sf / "lineitem.parquet")
    pd.DataFrame({"o_orderkey": np.arange(300, dtype=np.int64),
                  "o_custkey": rng.integers(0, 40, 300).astype(np.int64)}).to_parquet(sf / "orders.parquet")
    pd.DataFrame({"c_custkey": np.arange(40, dtype=np.int64),
                  "c_nationkey": np.arange(40, dtype=np.int64) % 5}).to_parquet(sf / "customer.parquet")
    pd.DataFrame({"p_partkey": np.arange(80, dtype=np.int64),
                  "p_size": np.arange(80, dtype=np.int64) % 7}).to_parquet(sf / "part.parquet")
    return str(sf)


def _entry_query(name):
    def call(spark, tmp_path):
        return ent.queries()[name](spark, _lineitem(tmp_path)).count()
    return call


THROWAWAY = {"merge_edges_into_components": _merge_twice, "dedup_clusters": _dedup_clusters,
             "refresh_pagerank_snapshot": _refresh_twice,
             **{f"entry.{q}": _entry_query(q) for q in (
                 "wcc", "cdlp", "pagerank", "eig_katz", "sssp", "bfs", "degree_centrality", "triangles",
                 "triangle_stats", "bridges", "articulation_points", "bcc", "clustering_directed",
                 "assortativity", "avg_degree_connectivity", "simple_paths", "subgraph_census",
                 "voterank", "project_labels")}}


@pytest.mark.parametrize("name", sorted(THROWAWAY))
def test_throwaway_graphs_leave_the_cache_as_found(spark, tmp_path, name):
    """Callers that build a Graph of their own for one run (a streaming
    micro-batch merge or rank refresh, the near-dup clustering, the
    entry queries) release it: the session caches after the call
    exactly what it cached before, and the returned frame (counted
    after the release) still evaluates."""
    before = _cached(spark)
    assert THROWAWAY[name](spark, tmp_path) > 0  # the algorithm ran on a non-empty graph
    assert _cached(spark) == before


def test_degree_centrality_counts_edge_ends_without_a_view(spark, tmp_path, monkeypatch):
    """The degree_centrality entry query counts every edge end from the
    cut: it builds no edge view, and its values equal the DuckDB
    oracle's."""
    import duckdb

    views = []
    edge_view = Graph.edge_view

    def counted(self, *args, **kwargs):
        views.append(args)
        return edge_view(self, *args, **kwargs)

    monkeypatch.setattr(Graph, "edge_view", counted)
    sf = _lineitem(tmp_path)
    got = ent.queries()["degree_centrality"](spark, sf).toPandas()
    assert views == []
    # oracle_sql() reads the corpus's embeddings footer for its ANN twin
    pd.DataFrame({"vec_id": [0], "embedding": [[0.5, 0.5]]}).to_parquet(f"{sf}/embeddings.parquet")
    con = duckdb.connect()
    con.execute(f"CREATE VIEW lineitem AS SELECT * FROM read_parquet('{sf}/lineitem.parquet')")
    want = con.execute(ent.oracle_sql(sf)["degree_centrality"]).fetchdf()
    key = ["id", "centrality"]
    pd.testing.assert_frame_equal(got[key].sort_values("id").reset_index(drop=True),
                                  want[key].sort_values("id").reset_index(drop=True),
                                  check_dtype=False)


# Algorithm functions that may build an edge frame of their own (call
# symmetrized_edges() or to_undirected(), dropDuplicates(["src", "dst"])
# or groupBy("src", "dst")), with the reason: each one is not a message
# edge frame that Graph.edge_view() stores.
OWN_EDGE_FRAMES: dict[str, str] = {
    "msf.msf": "dedups the picked forest edges",
    "pathenum.sampling_path": "keeps self-loops: a loop is a one-hop path",
    "patterns.match_pattern": "one query: AQE reuses its dedup exchange in every stage; a stored view measured slower",
    "structure._deg_frame": "directed degrees count a self-loop as an out- and an in-edge",
    "structure.degree_assortativity": "directed branch keeps self-loops",
    "structure.attribute_assortativity": "keeps self-loops: a loop mixes a category with itself",
    "structure.average_degree_connectivity": "directed branch keeps self-loops",
    "structure.clustering_directed": "counts each pair's directions (reciprocity) on the directed view",
}


def _builds_edge_frame(fn: ast.FunctionDef) -> list[int]:
    """Line numbers where `fn` symmetrizes, dedups or reduces an edge
    frame."""
    def names(args) -> list:
        return [getattr(a, "value", None) for a in args]

    return sorted(
        n.lineno for n in ast.walk(fn)
        if isinstance(n, ast.Call) and isinstance(n.func, ast.Attribute)
        and (n.func.attr in ("symmetrized_edges", "to_undirected")
             or (n.func.attr == "dropDuplicates" and n.args and isinstance(n.args[0], ast.List)
                 and names(n.args[0].elts) == ["src", "dst"])
             or (n.func.attr == "groupBy" and names(n.args) == ["src", "dst"])))


def test_algorithms_read_simple_views_from_graph():
    """No module under linkgraph/algos builds a message edge frame of
    its own: the symmetrized, deduplicated or weight-reduced (src, dst)
    frame comes from Graph.edge_view()."""
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


# -- tooling guard: prologues read the sizes and degrees the Graph keeps


# Graph methods whose frames the Graph has counted (view_size(),
# num_vertices()).
VIEW_CALLS = {"edge_view", "simple_undirected", "simple_directed", "deduced_vertices"}

# Algorithm functions that may count a frame assigned from a view, build
# a src-keyed count of rows or lay out a state they hand to eng.run,
# with the reason: each one is not a view, a view's degree or a state
# the engine lays out itself.
PROLOGUE_ALLOWED: dict[str, str] = {
    "scc.scc": "counts the vertices still active in each outer round",
    "ordering.onion_layers": "stores its core-annotated edge frame; its degrees count only the "
                             "neighbours whose core is not below the vertex's",
}


def _attr(node) -> str | None:
    return node.func.attr if isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute) else None


def _unaliased(node):
    return node.func.value if _attr(node) == "alias" else node


def _is_src_count(call) -> bool:
    """groupBy(F.col("src").alias("id")).agg(F.count(...)[.alias(...)])"""
    group = call.func.value if _attr(call) == "agg" else None
    if _attr(group) != "groupBy" or len(group.args) != 1 or not call.args:
        return False
    key = group.args[0]
    return (_attr(key) == "alias" and [getattr(a, "value", None) for a in key.args] == ["id"]
            and _attr(key.func.value) == "col"
            and [getattr(a, "value", None) for a in key.func.value.args] == ["src"]
            and _attr(_unaliased(call.args[0])) == "count")


def _prologue_work(fn: ast.FunctionDef) -> list[int]:
    """Line numbers where `fn` counts a frame assigned from (or read
    straight off) a view, builds a src-keyed row count, or repartitions
    a state it hands to eng.run."""
    def has_call(node, names) -> bool:
        return any(_attr(n) in names for n in ast.walk(node))

    views = {t.id for n in ast.walk(fn) if isinstance(n, ast.Assign) and has_call(n.value, VIEW_CALLS)
             for t in n.targets if isinstance(t, ast.Name)}
    lines = [n.lineno for n in ast.walk(fn)
             if _attr(n) == "count" and not n.args
             and ((isinstance(n.func.value, ast.Name) and n.func.value.id in views)
                  or _attr(n.func.value) in VIEW_CALLS)]
    lines += [n.lineno for n in ast.walk(fn) if _is_src_count(n)]
    for run in ast.walk(fn):
        if _attr(run) != "run" or not (isinstance(run.func.value, ast.Name) and run.func.value.id == "eng"):
            continue
        state = run.args[0]
        built = [n.value for n in ast.walk(fn) if isinstance(n, ast.Assign)
                 and any(isinstance(t, ast.Name) and t.id == getattr(state, "id", None) for t in n.targets)]
        lines += [n.lineno for frame in [state, *built] for n in ast.walk(frame) if _attr(n) == "repartition"]
    return sorted(set(lines))


def test_prologues_read_sizes_and_degrees_from_graph():
    """No function under linkgraph/algos recounts a view or the cut's
    vertex ids (Graph.view_size(), num_vertices()), derives a degree
    frame (Graph.degrees()) or lays out the state it hands the engine
    (SuperstepEngine.run does)."""
    offenders, found = [], set()
    for path in sorted(ALGOS.glob("*.py")):
        for fn in ast.parse(path.read_text()).body:
            if not isinstance(fn, ast.FunctionDef):
                continue
            name = f"{path.stem}.{fn.name}"
            lines = _prologue_work(fn)
            if lines:
                found.add(name)
                if name not in PROLOGUE_ALLOWED:
                    offenders.append(f"{path.name}:{lines} in {fn.name}")
    assert not offenders, "prologue work the Graph or the engine does: " + "; ".join(offenders)
    assert set(PROLOGUE_ALLOWED) <= found, "stale allowlist entries"
