"""ETL tests: dense reindex, sha256 invariant, dependency + co-change
edge derivation vs a pandas-side oracle."""

from __future__ import annotations

import ast
import hashlib
import pathlib
import re

import numpy as np
import pandas as pd
import pytest

from linkgraph import oracle
from linkgraph.algos.pagerank import pagerank
from linkgraph.datagen import repo_table
from linkgraph.etl import (build_link_graph, cochange_edges, compact_vertex_ids, dependency_edges,
                           file_vertices)
from linkgraph.graph import Graph

ETL = pathlib.Path(__file__).resolve().parent.parent / "linkgraph" / "etl.py"


@pytest.fixture(scope="module")
def repos(spark):
    df = repo_table(spark, n_repos=5, files_per_repo=40, n_commits=12, seed=42).cache()
    df.count()
    return df


def test_repo_table_shape(repos):
    assert repos.columns == ["repo", "path", "commit", "lang", "content"]
    assert repos.count() == 200
    # deterministic: same seed -> same content hash set
    pdf = repos.toPandas()
    assert pdf["commit"].str.len().eq(40).all()
    assert set(pdf["lang"]) <= {"py", "java", "cpp", "go", "js"}
    assert pdf["content"].str.contains("import pkg_").any()


def test_vertices_dense_ids_and_sha(repos):
    v = file_vertices(repos).toPandas().sort_values("id")
    n = len(v)
    assert list(v["id"]) == list(range(n))  # dense 0..n-1
    # sha256 invariant vs python hashlib on the raw rows
    raw = repos.toPandas()
    truth = {
        (r.repo, r.path): hashlib.sha256(r.content.encode()).hexdigest()
        for r in raw.itertuples()
    }
    for r in v.itertuples():
        assert truth[(r.repo, r.path)] == r.content_sha


def test_dependency_edges_match_oracle(repos):
    v = file_vertices(repos)
    e = dependency_edges(repos, v).toPandas()
    vp = v.toPandas()
    vid = {(r.repo, r.path): r.id for r in vp.itertuples()}
    raw = repos.toPandas()
    want = set()
    pat = re.compile(r"^import\s+pkg_(\d+)\.mod_(\d+)\s*$", re.M)
    for r in raw.itertuples():
        for j, k in pat.findall(r.content):
            tgt = (r.repo, f"src/pkg_{j}/mod_{k}.py")
            if tgt in vid and vid[tgt] != vid[(r.repo, r.path)]:
                want.add((vid[(r.repo, r.path)], vid[tgt]))
    got = set(zip(e["src"], e["dst"]))
    assert got == want
    assert (e["kind"] == "dep").all()


def test_cochange_edges_match_oracle(repos):
    v = file_vertices(repos)
    e = cochange_edges(repos, v).toPandas()
    vp = v.toPandas()
    vid = {(r.repo, r.path): r.id for r in vp.itertuples()}
    raw = repos.toPandas()
    from collections import defaultdict

    groups = defaultdict(list)
    for r in raw.itertuples():
        groups[(r.repo, r.commit)].append(vid[(r.repo, r.path)])
    want = defaultdict(int)
    for ids in groups.values():
        ids = sorted(set(ids))
        for i in range(len(ids)):
            for j in range(i + 1, len(ids)):
                want[(ids[i], ids[j])] += 1
    got = {(r.src, r.dst): r.weight for r in e.itertuples()}
    assert got == dict(want)


def test_build_link_graph_hub_skew(repos):
    v, e = build_link_graph(repos)
    ep = e.where("kind = 'dep'").toPandas()
    indeg = ep.groupby("dst").size()
    # the planted hub (file 0 per repo) must dominate in-degree
    assert indeg.max() > 3 * indeg.median()


def test_compact_vertex_ids(spark):
    B = 10**13
    rows = [(B + i * 7, B + ((i * 13 + 5) % 40) * 7) for i in range(200)]
    rows = [(a, b) for a, b in rows if a != b]
    e = spark.createDataFrame(rows, "src long, dst long")
    out, mp = compact_vertex_ids(e, num_partitions=4)
    m = {r["id"]: r["cid"] for r in mp.collect()}
    n = len(m)
    # dense bijection into [0, n), int type below 2^31
    assert sorted(m.values()) == list(range(n))
    assert dict(out.dtypes)["src"] == "int"
    got = sorted(tuple(r) for r in out.collect())
    want = sorted((m[a], m[b]) for a, b in rows)
    assert got == want
    # deterministic: second derivation identical
    _, mp2 = compact_vertex_ids(e, num_partitions=4)
    assert {r["id"]: r["cid"] for r in mp2.collect()} == m


def test_algorithms_on_int32_compacted_ids(spark):
    """pagerank, wcc, cdlp and sssp run on an int32-compacted edge table
    (the tuned at-scale layout) and match the long-id run once the ids
    are mapped back. Compaction keeps id order, so min-id component
    labels and min-label tie-breaks map back exactly."""
    from linkgraph.algos.cdlp import cdlp
    from linkgraph.algos.traversal import sssp
    from linkgraph.algos.wcc import wcc

    edges = [(100, 2), (2, 300), (300, 100), (7, 8), (8, 9), (100, 7), (40, 41)]
    e = spark.createDataFrame(edges, "src long, dst long")
    ce, mp = compact_vertex_ids(e, num_partitions=4)
    assert dict(ce.dtypes)["src"] == "int"
    fwd = {r["id"]: r["cid"] for r in mp.collect()}
    g_long = Graph.from_edges(e, directed=True)
    g_int = Graph.from_edges(ce, directed=True)
    runs = {
        "rank": lambda g, source: pagerank(g, max_iter=15, tol=0.0),
        "comp": lambda g, source: wcc(g),
        "label": lambda g, source: cdlp(g, max_round=5),
        "dist": lambda g, source: sssp(g, source=source),
    }
    for col, run in runs.items():
        want = dict(run(g_long, 100).state.select("id", col).collect())
        state = run(g_int, fwd[100]).state.select("id", col)
        got = dict(state.collect())
        if col in ("comp", "label"):  # labels are vertex ids
            assert dict(state.dtypes)[col] == "int"
            want = {v: fwd[c] for v, c in want.items()}
        assert set(got) == {fwd[v] for v in want}, col
        for v, x in want.items():
            assert abs(got[fwd[v]] - x) < 1e-12, (col, v)


def _counted(df):
    """(df passed through a mapInPandas that counts its rows, the counter)."""
    rows = df.sparkSession.sparkContext.accumulator(0)

    def count_rows(batches):
        for pdf in batches:
            rows.add(len(pdf))
            yield pdf

    return df.mapInPandas(count_rows, df.schema), rows


def test_compact_vertex_ids_evaluates_input_once(spark):
    """The input edge plan runs once: not again for the remap joins,
    nor for counts of the returned edges, nor for PageRank's cut."""
    rng = np.random.default_rng(3)
    pairs = np.unique(rng.integers(0, 50, (200, 2)), axis=0)
    pairs = pairs[pairs[:, 0] != pairs[:, 1]]
    src, dst = 10**13 + pairs[:, 0] * 7, 10**13 + pairs[:, 1] * 7
    edges, rows = _counted(spark.createDataFrame(pd.DataFrame({"src": src, "dst": dst})))

    out, mp = compact_vertex_ids(edges, num_partitions=4)
    assert out.count() == out.count() == len(src)
    ranks = pagerank(Graph.from_edges(out), tol=0.0, max_iter=3).state.toPandas().sort_values("id")
    assert rows.value == len(src)

    m = {r["id"]: r["cid"] for r in mp.collect()}
    ids, want = oracle.pagerank([m[a] for a in src], [m[b] for b in dst], directed=True,
                                tol=0.0, max_iter=3)
    assert np.array_equal(ranks["id"].to_numpy(), ids)
    assert np.allclose(ranks["rank"].to_numpy(), want, atol=1e-6)


def test_build_link_graph_vertex_table_is_stored(repos):
    counted, rows = _counted(repos)
    v, _ = build_link_graph(counted)
    built = rows.value
    assert v.count() == v.count() == 200
    assert rows.value == built


def test_etl_has_one_storage_primitive():
    """etl.py stores frames only through linkgraph.graph._checkpoint."""
    calls = [f"{n.lineno}: .{n.func.attr}()" for n in ast.walk(ast.parse(ETL.read_text()))
             if isinstance(n, ast.Call) and isinstance(n.func, ast.Attribute)
             and n.func.attr in ("persist", "cache")]
    assert not calls, f"persist/cache in {ETL.name}: {calls}"
