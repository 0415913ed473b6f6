"""The input cut (Graph.materialized): one evaluation of the source
plan per Graph, reused by every engine-driven algorithm call on it."""

from __future__ import annotations

import ast
import dataclasses
import pathlib

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from linkgraph import oracle
from linkgraph.algos.pagerank import pagerank, rank_edges
from linkgraph.algos.wcc import wcc
from linkgraph.engine import SuperstepEngine
from linkgraph.graph import Graph
from linkgraph.joins import scatter_join

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


def test_rank_edges_keep_src_partitioning_in_shuffled_scatter(spark):
    """The cut is taken before the repartition, so the persisted edge
    frame keeps its src hash partitioning: the shuffled-hash scatter
    moves only the message side, never E."""
    src, dst = _edges()
    P = int(spark.conf.get("spark.sql.shuffle.partitions"))
    g = Graph.from_edges(_frame(spark, src, dst)).materialized()
    edges, _, deg = rank_edges(g, P, directed=True)
    msgs = deg.select(F.col("id").alias("src"), F.lit(1.0).alias("w")).repartition(P, "src")
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
    edges.unpersist()


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
