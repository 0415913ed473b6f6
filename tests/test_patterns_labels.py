"""Generic pattern matching (linkgraph/algos/patterns.py) vs
brute-force enumeration, and the multi-label PropertyGraph layer
(linkgraph/labels.py) vs manual unions — the v2_e2-style fixture of
the reference (tests/conftest.py:85-231) rebuilt on DataFrames."""

from __future__ import annotations

import itertools
import random

import pytest
from pyspark.sql import functions as F

from linkgraph.algos.patterns import match_count, match_pattern
from linkgraph.graph import Graph
from linkgraph.labels import PropertyGraph, namespaced_id


def _rand_edges(n=12, m=30, seed=7):
    rng = random.Random(seed)
    pairs = set()
    while len(pairs) < m:
        a, b = rng.randrange(n), rng.randrange(n)
        if a != b:
            pairs.add((a, b))
    return sorted(pairs)


def _graph(spark, pairs, vertices=None):
    df = spark.createDataFrame(pairs, "src long, dst long")
    return Graph.from_edges(df, vertices=vertices, directed=True)


def _brute_count(pairs, pattern, directed=False, preds=None, extra=None):
    """Injective embeddings by exhaustive assignment."""
    if directed:
        adj = set(pairs)
    else:
        adj = set(pairs) | {(b, a) for a, b in pairs}
    nodes = sorted({v for e in pairs for v in e})
    variables = sorted({v for e in pattern for v in e})
    preds = preds or {}
    cnt = 0
    for assign in itertools.permutations(nodes, len(variables)):
        m = dict(zip(variables, assign))
        if any(not preds[v](m[v]) for v in preds):
            continue
        if all((m[a], m[b]) in adj for a, b in pattern):
            if extra is None or extra(m):
                cnt += 1
    return cnt


def test_match_triangle_equals_brute_force(spark):
    pairs = _rand_edges(10, 24, seed=3)
    g = _graph(spark, pairs)
    pat = [("a", "b"), ("b", "c"), ("a", "c")]
    assert match_count(g, pat) == _brute_count(pairs, pat)
    assert match_count(g, pat, directed=True) == _brute_count(pairs, pat, directed=True)


def test_match_rectangle_and_tailed(spark):
    pairs = _rand_edges(11, 28, seed=9)
    g = _graph(spark, pairs)
    rect = [("a", "b"), ("b", "c"), ("c", "d"), ("d", "a")]
    assert match_count(g, rect) == _brute_count(pairs, rect)
    tailed = [("a", "b"), ("b", "c"), ("a", "c"), ("c", "d")]
    assert match_count(g, tailed) == _brute_count(pairs, tailed)


def test_match_directed_path_and_reciprocal(spark):
    pairs = _rand_edges(10, 30, seed=5)
    g = _graph(spark, pairs)
    p3 = [("x", "y"), ("y", "z")]
    assert match_count(g, p3, directed=True) == _brute_count(pairs, p3, directed=True)
    recip = [("x", "y"), ("y", "x"), ("y", "z")]
    assert match_count(g, recip, directed=True) == _brute_count(pairs, recip, directed=True)


def test_match_vertex_predicates_and_where(spark):
    pairs = _rand_edges(12, 30, seed=11)
    verts = spark.createDataFrame(
        [(i, i % 3) for i in range(12)], "id long, cls long"
    )
    g = _graph(spark, pairs, vertices=verts)
    pat = [("a", "b"), ("b", "c"), ("a", "c")]
    got = match_count(g, pat, vertex_predicates={"a": F.col("cls") == 0})
    want = _brute_count(pairs, pat, preds={"a": lambda v: v % 3 == 0})
    assert got == want
    # symmetry-broken triangle: each undirected triangle once
    got_once = match_count(
        g, pat, where=(F.col("a") < F.col("b")) & (F.col("b") < F.col("c"))
    )
    assert got_once == _brute_count(
        pairs, pat, extra=lambda m: m["a"] < m["b"] < m["c"]
    )
    assert got_once * 6 == _brute_count(pairs, pat)


def test_match_disconnected_pattern_rejected(spark):
    g = _graph(spark, [(1, 2), (3, 4)])
    try:
        match_pattern(g, [("a", "b"), ("c", "d")])
        raise AssertionError("expected ValueError for disconnected pattern")
    except ValueError:
        pass


# -- PropertyGraph -----------------------------------------------------


def _pg(spark):
    person = spark.createDataFrame(
        [(1, "alice", 29), (2, "bob", 31), (3, "carol", 25)],
        "key long, name string, age long",
    ).select(namespaced_id("key", 0, 2), "name", "age")
    software = spark.createDataFrame(
        [(1, "spark"), (2, "duckdb")], "key long, lang string"
    ).select(namespaced_id("key", 1, 2), "lang")
    knows = spark.createDataFrame(
        [(1, 2, 0.5), (2, 3, 0.9)], "a long, b long, w double"
    ).select((F.col("a") * 2).alias("src"), (F.col("b") * 2).alias("dst"), "w")
    created = spark.createDataFrame(
        [(1, 1), (3, 2)], "a long, b long"
    ).select((F.col("a") * 2).alias("src"), (F.col("b") * 2 + 1).alias("dst"))
    return (
        PropertyGraph(directed=True)
        .add_vertices("person", person)
        .add_vertices("software", software)
        .add_edges("knows", knows, "person", "person")
        .add_edges("created", created, "person", "software")
    )


def test_schema_registry(spark):
    s = _pg(spark).schema()
    assert s["vertices"]["person"] == {"name": "string", "age": "bigint"}
    assert s["vertices"]["software"] == {"lang": "string"}
    assert s["edges"]["knows"]["relation"] == ("person", "person")
    assert s["edges"]["created"]["relation"] == ("person", "software")
    assert s["edges"]["knows"]["properties"] == {"w": "double"}


def test_project_single_relation_prunes(spark):
    g = _pg(spark).project(vertices={"person": ["age"]}, edges={"knows": ["w"]})
    assert set(g.vertices.columns) == {"id", "label", "age"}
    assert set(g.edges.columns) == {"src", "dst", "label", "w"}
    assert g.edges.count() == 2
    assert g.vertices.count() == 3
    # the algorithms run on the projection
    from linkgraph.algos.wcc import wcc

    comp = {r["id"]: r["comp"] for r in wcc(g).state.collect()}
    assert comp == {2: 2, 4: 2, 6: 2}


def test_project_all_labels_null_fills(spark):
    g = _pg(spark).project(
        vertices={"person": ["name"], "software": ["lang"]},
        edges={"knows": [], "created": []},
    )
    rows = {r["id"]: (r["label"], r["name"], r["lang"]) for r in g.vertices.collect()}
    assert rows[2] == ("person", "alice", None)
    assert rows[3] == ("software", None, "spark")
    assert g.edges.count() == 4
    labels = dict(
        g.edges.groupBy("label").count().collect()
    )
    assert labels == {"knows": 2, "created": 2}


def test_project_unknown_label_raises(spark):
    try:
        _pg(spark).project(vertices={"nope": []}, edges={"knows": []})
        raise AssertionError("expected KeyError")
    except KeyError:
        pass


def test_project_rejects_edge_label_without_its_vertex_labels(spark):
    def ids(*keys):
        return spark.createDataFrame([(k,) for k in keys], "id long")

    def pairs(*rows):
        return spark.createDataFrame(list(rows), "src long, dst long")

    pg = (
        PropertyGraph(directed=True)
        .add_vertices("customer", ids(0, 3))
        .add_vertices("order", ids(1, 4))
        .add_vertices("part", ids(2, 5))
        .add_edges("placed", pairs((0, 1), (3, 4)), "customer", "order")
        .add_edges("contains", pairs((1, 2), (4, 5)), "order", "part")
    )
    with pytest.raises(ValueError, match=r"'contains'.*\['order', 'part'\]"):
        pg.project(vertices={"customer": []}, edges={"contains": []})
    with pytest.raises(ValueError, match=r"'placed'.*\['order'\]"):
        pg.project(vertices={"customer": [], "part": []}, edges={"placed": []})
    g = pg.project(vertices={"order": [], "part": []}, edges={"contains": []})
    assert g.vertices.count() == 4 and g.edges.count() == 2
