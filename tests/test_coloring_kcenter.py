"""greedy_color / fluid_community / kcore (k-core search) / k_center
vs pure-python replay oracles on small random graphs — the oracles
re-derive the reference semantics (flash/clustering/color.h,
fluid-community.h, flash/core/k-core-search.h,
flash/measurement/k-center.h) independently of the Spark plans."""

from __future__ import annotations

import random
from collections import deque

import numpy as np

from linkgraph import oracle
from linkgraph.algos.coloring import fluid_community, greedy_color
from linkgraph.algos.cores import kcore
from linkgraph.algos.paths import k_center
from linkgraph.graph import Graph


def _rand_und(n=40, m=140, seed=7, id_stride=1):
    rng = random.Random(seed)
    pairs = set()
    while len(pairs) < m:
        a, b = rng.randrange(n), rng.randrange(n)
        if a != b:
            pairs.add((min(a, b) * id_stride, max(a, b) * id_stride))
    return sorted(pairs)


def _adj(pairs):
    adj = {}
    for a, b in pairs:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    return adj


def _graph(spark, pairs):
    df = spark.createDataFrame(pairs, "src long, dst long")
    return Graph.from_edges(df, directed=True)


# -- greedy coloring (color.h) ----------------------------------------


def _color_oracle(adj):
    """Assign along decreasing (deg, id) priority: color = mex of
    already-colored (= higher-priority) neighbors — the unique
    fixpoint of color.h's update."""
    order = sorted(adj, key=lambda v: (len(adj[v]), v), reverse=True)
    col = {}
    for v in order:
        used = {col[u] for u in adj[v] if u in col}
        c = 0
        while c in used:
            c += 1
        col[v] = c
    return col


def test_greedy_color_matches_priority_fixpoint(spark):
    pairs = _rand_und(40, 150, seed=11)
    adj = _adj(pairs)
    res = greedy_color(_graph(spark, pairs))
    got = {r["id"]: r["color"] for r in res.state.collect()}
    assert res.converged
    assert got == _color_oracle(adj)


def test_greedy_color_proper_and_sparse_ids(spark):
    # arbitrary sparse ids (the MIS ADVICE failure mode): ids stride 97
    pairs = _rand_und(30, 90, seed=5, id_stride=97)
    adj = _adj(pairs)
    res = greedy_color(_graph(spark, pairs))
    got = {r["id"]: r["color"] for r in res.state.collect()}
    for a, b in pairs:
        assert got[a] != got[b]
    assert got == _color_oracle(adj)


def test_greedy_color_path(spark):
    # path 1-2-3: vertex 2 (deg 2) colors first -> 0, leaves get 1
    res = greedy_color(_graph(spark, [(1, 2), (2, 3)]))
    got = {r["id"]: r["color"] for r in res.state.collect()}
    assert got == {2: 0, 1: 1, 3: 1}
    assert got == _color_oracle(_adj([(1, 2), (2, 3)]))


# -- fluid community (fluid-community.h, synchronous) ------------------


def _fluid_oracle(adj, all_ids, s, rounds, eps=1e-10):
    seeds = sorted(all_ids)[:s]
    lab = {v: (v if v in seeds else -1) for v in all_ids}
    for _ in range(rounds):
        cnt = {}
        for v, l in lab.items():
            if l >= 0:
                cnt[l] = cnt.get(l, 0) + 1
        d = {}
        for v in all_ids:
            c = {}
            if lab[v] >= 0:
                c[lab[v]] = c.get(lab[v], 0) + 1
            for u in adj.get(v, ()):
                if lab[u] >= 0:
                    c[lab[u]] = c.get(lab[u], 0) + 1
            # count-then-divide, matching the Spark plan bit-for-bit
            d[v] = {l: c[l] / cnt[l] for l in c}
        new = {}
        for v in all_ids:
            dv = d[v]
            if not dv:
                new[v] = lab[v]
                continue
            # argmax, smallest label on ties
            bd = max(dv.values())
            blab = min(l for l in dv if dv[l] == bd)
            if lab[v] == -1:
                new[v] = blab if bd > eps else -1
            else:
                new[v] = blab if bd > dv.get(lab[v], 0.0) + eps else lab[v]
        lab = new
    return lab


def test_fluid_community_matches_sync_replay(spark):
    pairs = _rand_und(50, 160, seed=13)
    adj = _adj(pairs)
    all_ids = sorted(adj)
    res = fluid_community(_graph(spark, pairs), n_communities=5, max_round=4)
    got = {r["id"]: r["lab"] for r in res.state.collect()}
    assert got == _fluid_oracle(adj, all_ids, 5, 4)
    # seeds stay labeled and labels are seed ids or -1
    seeds = set(all_ids[:5])
    assert set(got.values()) - {-1} <= seeds


def test_fluid_community_disconnected_stays_unlabeled(spark):
    # two cliques; seeds land in the low-id clique only, so the other
    # component keeps -1 forever
    lo = [(a, b) for a in range(4) for b in range(a + 1, 4)]
    hi = [(a, b) for a in range(100, 104) for b in range(a + 1, 104)]
    res = fluid_community(_graph(spark, lo + hi), n_communities=2, max_round=5)
    got = {r["id"]: r["lab"] for r in res.state.collect()}
    assert all(got[v] == -1 for v in range(100, 104))
    assert all(got[v] in (0, 1) for v in range(4))


# -- k-core search (k-core-search.h push-decrement waves, run by kcore) --


def test_k_core_search_matches_recount_kcore(spark):
    """kcore's peel waves against the sequential peel's core numbers
    (core >= k) on random 80-vertex graphs with parallel edges and a
    vertex that has only a self-loop, as stored (directed) and
    undirected; an empty k-core converges too."""
    for seed in (17, 18, 19):
        pairs = _rand_und(80, 200, seed=seed)
        rng = random.Random(seed)
        rows = pairs + [(b, a) for a, b in rng.sample(pairs, 20)] + [(500, 500)]
        src, dst = (np.array(c, dtype=np.int64) for c in zip(*rows))
        ids, core = oracle.core_numbers(src, dst)
        for directed in (True, False):
            g = Graph.from_edges(spark.createDataFrame(rows, "src long, dst long"),
                                 directed=directed)
            for k in (1, 2, 3, 4, 6):
                res = kcore(g, k=k)
                got = {r["id"]: r["in_core"] for r in res.state.collect()}
                assert got == {int(i): bool(c >= k) for i, c in zip(ids, core)}, (seed, directed, k)
                assert res.converged and res.last["active"] == int((core >= k).sum())
            g.release()


def test_k_core_search_size_metric(spark):
    pairs = [(0, 1), (1, 2), (2, 0), (2, 3)]  # triangle + pendant
    res = kcore(_graph(spark, pairs), k=2)
    got = {r["id"]: r["in_core"] for r in res.state.collect()}
    assert got == {0: True, 1: True, 2: True, 3: False}
    assert res.converged and res.last["active"] == 3  # k-core-search.h's GlobalRes


# -- k-center (k-center.h greedy farthest-point) -----------------------


def _bfs_dists(adj, s):
    d = {s: 0}
    q = deque([s])
    while q:
        v = q.popleft()
        for u in adj.get(v, ()):
            if u not in d:
                d[u] = d[v] + 1
                q.append(u)
    return d


def _k_center_oracle(adj, all_ids, k):
    deg = {v: len(adj.get(v, ())) for v in all_ids}
    first = min(all_ids, key=lambda v: (-deg[v], v))
    centers = [first]
    dis = {v: None for v in all_ids}
    for i in range(k):
        d = _bfs_dists(adj, centers[-1])
        for v in all_ids:
            if v in d:
                dis[v] = d[v] if dis[v] is None else min(dis[v], d[v])
        if i < k - 1:
            nxt = min(
                all_ids,
                key=lambda v: (0 if dis[v] is None else 1,
                               -(dis[v] or 0), v),
            )
            centers.append(nxt)
    return centers, {v: (-1 if dis[v] is None else dis[v]) for v in all_ids}


def test_k_center_matches_greedy_replay(spark):
    pairs = _rand_und(50, 110, seed=23)
    adj = _adj(pairs)
    all_ids = sorted(adj)
    res = k_center(_graph(spark, pairs), k=3, directed=False)
    got = {r["id"]: r["dis"] for r in res.state.collect()}
    centers, dis = _k_center_oracle(adj, all_ids, 3)
    assert res.metrics[-1]["centers"] == centers
    assert got == dis


def test_k_center_spans_components(spark):
    # two components: second center must jump to the unreached one
    pairs = [(0, 1), (1, 2), (10, 11), (11, 12), (12, 13)]
    adj = _adj(pairs)
    res = k_center(_graph(spark, pairs), k=2, directed=False)
    centers = res.metrics[-1]["centers"]
    comp_a = {0, 1, 2}
    comp_b = {10, 11, 12, 13}
    assert (centers[0] in comp_a) != (centers[1] in comp_a)
    got = {r["id"]: r["dis"] for r in res.state.collect()}
    _, dis = _k_center_oracle(adj, sorted(adj), 2)
    assert got == dis
