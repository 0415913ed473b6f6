"""Property-based tests (hypothesis) over random small graphs.

Fixed-fixture oracle tests pin known graphs; these generate adversarial
ones — duplicate edges, self-loops, isolated pairs, and SPARSE ids (the
exact shape that broke MIS priorities and SCC label mixing in round 3's
advisor repros). Each property compares the Spark result against an
independent pure-Python oracle, or checks the defining invariant of the
output directly.

derandomize=True keeps the suite deterministic run-to-run; max_examples
is small because every example is a full iterative Spark job.
"""

from __future__ import annotations

import datetime as dt

from hypothesis import HealthCheck, given, settings, strategies as st

# sparse, gappy id domain — ids are NOT dense in [0, n)
IDS = [0, 1, 2, 3, 5, 8, 13, 21, 34, 10_000_019, 99_999_999_999]

edge_lists = st.lists(
    st.tuples(st.sampled_from(IDS), st.sampled_from(IDS)),
    min_size=1,
    max_size=22,
)

SET = settings(
    max_examples=8,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


def _df(spark, edges):
    return spark.createDataFrame(
        [(int(s), int(d)) for (s, d) in edges], "src long, dst long"
    )


def _union_find_components(edges):
    """Min-member component labels over the UNDIRECTED simple graph."""
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for s, d in edges:
        find(s), find(d)
        rs, rd = find(s), find(d)
        if rs != rd:
            parent[max(rs, rd)] = min(rs, rd)
    return {v: find(v) for v in parent}


def _tarjan_scc(edges):
    """Min-member SCC labels (recursive Tarjan; graphs here are tiny)."""
    adj = {}
    verts = set()
    for s, d in edges:
        verts.update((s, d))
        if s != d:
            adj.setdefault(s, set()).add(d)
    index, low, on, stack, comp = {}, {}, set(), [], {}
    counter = [0]

    def strong(v):
        index[v] = low[v] = counter[0]
        counter[0] += 1
        stack.append(v)
        on.add(v)
        for w in adj.get(v, ()):
            if w not in index:
                strong(w)
                low[v] = min(low[v], low[w])
            elif w in on:
                low[v] = min(low[v], index[w])
        if low[v] == index[v]:
            members = []
            while True:
                w = stack.pop()
                on.discard(w)
                members.append(w)
                if w == v:
                    break
            m = min(members)
            for w in members:
                comp[w] = m

    for v in sorted(verts):
        if v not in index:
            strong(v)
    return comp


def _sym_simple(edges):
    """Undirected simple adjacency (no self-loops)."""
    adj = {}
    for s, d in edges:
        if s != d:
            adj.setdefault(s, set()).add(d)
            adj.setdefault(d, set()).add(s)
    return adj


@given(edges=edge_lists)
@SET
def test_wcc_matches_union_find(spark, edges):
    from linkgraph.algos.wcc import wcc
    from linkgraph.graph import Graph

    got = {
        (r["id"], r["comp"])
        for r in wcc(Graph.from_edges(_df(spark, edges), directed=True)).state.collect()
    }
    want = set(_union_find_components(edges).items())
    assert got == want


@given(edges=edge_lists)
@SET
def test_scc_matches_tarjan(spark, edges):
    from linkgraph.algos.scc import scc
    from linkgraph.graph import Graph

    got = {
        (r["id"], r["scc"])
        for r in scc(Graph.from_edges(_df(spark, edges), directed=True)).state.collect()
    }
    want = set(_tarjan_scc(edges).items())
    assert got == want


@given(edges=edge_lists)
@SET
def test_mis_is_independent_and_maximal(spark, edges):
    from linkgraph.algos.matching import mis
    from linkgraph.graph import Graph

    res = mis(Graph.from_edges(_df(spark, edges), directed=False))
    assert res.converged
    chosen = {r["id"] for r in res.state.where("in_mis").collect()}
    adj = _sym_simple(edges)
    verts = {v for (s, d) in edges for v in (s, d)}
    # independent: no two chosen vertices adjacent
    for v in chosen:
        assert not (adj.get(v, set()) & chosen)
    # maximal: every unchosen vertex has a chosen neighbor
    for v in verts - chosen:
        assert adj.get(v, set()) & chosen, f"{v} could join the set"


@given(edges=edge_lists)
@SET
def test_greedy_color_is_proper_and_degree_bounded(spark, edges):
    from linkgraph.algos.coloring import greedy_color
    from linkgraph.graph import Graph

    res = greedy_color(Graph.from_edges(_df(spark, edges), directed=False))
    assert res.converged
    color = {r["id"]: r["color"] for r in res.state.collect()}
    adj = _sym_simple(edges)
    for v, nbrs in adj.items():
        for u in nbrs:
            assert color[v] != color[u]
        assert 0 <= color[v] <= len(nbrs)


@given(edges=edge_lists, cut=st.integers(min_value=1, max_value=20))
@SET
def test_incremental_wcc_equals_batch_wcc(spark, tmp_path_factory, edges, cut):
    """Any 2-way split of the edge log, merged batch-by-batch, yields
    exactly the labels of batch wcc() over the whole log."""
    from linkgraph.streaming import merge_edges_into_components, wcc_snapshot

    state = str(tmp_path_factory.mktemp("incr") / "state")
    k = min(cut, len(edges))
    for batch in (edges[:k], edges[k:]):
        if batch:
            merge_edges_into_components(_df(spark, batch), state, retain_snapshots=2)
    got = {(r["id"], r["comp"]) for r in wcc_snapshot(spark, state).collect()}
    want = set(_union_find_components(edges).items())
    assert got == want


@given(edges=edge_lists)
@SET
def test_pagerank_allclose_1e6_vs_numpy(spark, edges):
    """The north-rule parity clause: per-vertex scores within 1e-6 of
    the golden implementation, on arbitrary graphs (dangling vertices,
    self-loops, duplicates)."""
    from linkgraph import oracle
    from linkgraph.algos.pagerank import pagerank
    from linkgraph.graph import Graph

    res = pagerank(Graph.from_edges(_df(spark, edges), directed=True), tol=1e-9)
    got = {r["id"]: r["rank"] for r in res.state.collect()}
    ids, rank = oracle.pagerank(
        [s for s, _ in edges], [d for _, d in edges], directed=True, tol=1e-9
    )
    want = dict(zip(ids.tolist(), rank.tolist()))
    assert set(got) == set(want)
    for v, w in want.items():
        assert abs(got[v] - w) <= 1e-6, (v, got[v], w)


@given(edges=edge_lists)
@SET
def test_triangles_match_numpy(spark, edges):
    from linkgraph import oracle
    from linkgraph.algos.triangles import triangles
    from linkgraph.graph import Graph

    got = {
        (r["id"], r["tri"])
        for r in triangles(Graph.from_edges(_df(spark, edges), directed=False)).collect()
    }
    ids, cnt = oracle.triangles([s for s, _ in edges], [d for _, d in edges])
    want = set(zip(ids.tolist(), cnt.tolist()))
    assert got == want


def _cores_py(edges):
    """Classic min-degree-peel core numbers on the undirected simple graph."""
    verts = {v for e in edges for v in e}
    adj = _sym_simple(edges)
    deg = {v: len(adj.get(v, set())) for v in verts}
    core, remaining, k = {}, set(verts), 0
    while remaining:
        v = min(remaining, key=lambda x: (deg[x], x))
        k = max(k, deg[v])
        core[v] = k
        remaining.remove(v)
        for u in adj.get(v, set()):
            if u in remaining:
                deg[u] -= 1
    return core


@given(edges=edge_lists)
@SET
def test_motif_census_matches_enumeration(spark, edges):
    from linkgraph.algos.subgraph import motif_census
    from linkgraph.graph import Graph
    from itertools import combinations

    dset = {(s, d) for s, d in edges if s != d}
    und = {(min(a, b), max(a, b)) for a, b in dset}
    adj = _sym_simple(edges)
    verts = sorted({v for e in dset for v in e})
    recip = {(a, b) for (a, b) in dset if (b, a) in dset and a < b}
    trip = [
        (a, b, c)
        for a in verts for b in verts for c in verts
        if a != b and b != c and a != c
    ]
    want = {
        "n_trans": sum(
            1 for (a, b, c) in trip
            if (a, b) in dset and (b, c) in dset and (a, c) in dset
        ),
        "n_cyclic": sum(
            1 for (a, b, c) in trip
            if (a, b) in dset and (b, c) in dset and (c, a) in dset
        ) // 3,
        "n_in_plus": sum(
            1 for (s, t) in recip for x in verts
            if x not in (s, t) and (s, x) in dset and (t, x) in dset
        ),
        "n_out_plus": sum(
            1 for (s, t) in recip for x in verts
            if x not in (s, t) and (x, s) in dset and (x, t) in dset
        ),
        "n_cycle_plus": sum(
            1 for (s, t) in dset if (t, s) in dset
            for x in verts
            if x not in (s, t) and (x, s) in dset and (t, x) in dset
        ),
    }
    tris = [
        vs for vs in combinations(verts, 3)
        if all((min(a, b), max(a, b)) in und for a, b in combinations(vs, 2))
    ]
    want["n_tailed"] = sum(len(adj[v]) - 2 for t in tris for v in t)
    want["n_paths3"] = sum(
        (len(adj[a]) - 1) * (len(adj[b]) - 1) - len(adj[a] & adj[b])
        for (a, b) in und
    )
    want["n_rect"] = (
        sum(
            len(adj.get(a, set()) & adj.get(b, set()))
            * (len(adj.get(a, set()) & adj.get(b, set())) - 1) // 2
            for a, b in combinations(verts, 2)
        ) // 2
    )
    want["n_diamond"] = sum(
        len(adj[a] & adj[b]) * (len(adj[a] & adj[b]) - 1) // 2 for (a, b) in und
    )
    row = motif_census(Graph.from_edges(_df(spark, edges), directed=True)).collect()[0]
    got = row.asDict()
    assert got == want


@given(edges=edge_lists)
@SET
def test_kclique_counts_match_enumeration(spark, edges):
    from linkgraph.algos.subgraph import kclique_counts
    from linkgraph.graph import Graph
    from itertools import combinations

    adj = _sym_simple(edges)
    verts = sorted({v for (s, d) in edges for v in (s, d) if s != d})
    row = kclique_counts(
        Graph.from_edges(_df(spark, edges), directed=False), ks=(3, 4)
    ).collect()[0]
    for k in (3, 4):
        want = sum(
            1 for vs in combinations(verts, k)
            if all(b in adj.get(a, set()) for a, b in combinations(vs, 2))
        )
        assert row[f"n_{k}"] == want, (k, row[f"n_{k}"], want)


@given(edges=edge_lists)
@SET
def test_degeneracy_and_onion_match_python_peel(spark, edges):
    from linkgraph.algos.ordering import degeneracy_ordering, onion_layers
    from linkgraph.graph import Graph

    verts = {v for e in edges for v in e}
    adj = _sym_simple(edges)
    core = _cores_py(edges)
    dg = max(core.values(), default=0)

    deg = {v: len(adj.get(v, set())) for v in verts}
    remaining, rank, r = set(verts), {}, 0
    while remaining:
        rem = {v for v in remaining if deg[v] <= dg}
        for v in rem:
            rank[v] = r
        remaining -= rem
        for v in rem:
            for u in adj.get(v, set()):
                if u in remaining:
                    deg[u] -= 1
        r += 1

    d = {
        v: sum(1 for u in adj.get(v, set()) if core[u] >= core[v])
        for v in verts
    }
    remaining, layer, r = set(verts), {}, 0
    while remaining:
        rem = {v for v in remaining if d[v] <= core[v]}
        if not rem:
            break
        for v in rem:
            layer[v] = r
        remaining -= rem
        for v in rem:
            for u in adj.get(v, set()):
                if u in remaining and core[u] == core[v]:
                    d[u] -= 1
        r += 1

    g = Graph.from_edges(_df(spark, edges), directed=False)
    res_d = degeneracy_ordering(g)
    assert res_d.converged
    assert {(x["id"], x["rank"]) for x in res_d.state.collect()} == set(rank.items())
    res_o = onion_layers(g)
    assert res_o.converged
    assert {(x["id"], x["layer"]) for x in res_o.state.collect()} == set(layer.items())


@given(edges=edge_lists)
@SET
def test_min_vertex_cover_is_valid_and_irredundant(spark, edges):
    from linkgraph.algos.matching import min_vertex_cover
    from linkgraph.graph import Graph

    res = min_vertex_cover(Graph.from_edges(_df(spark, edges), directed=False))
    assert res.converged
    cover = {r["id"] for r in res.state.where("in_cover").collect()}
    adj = _sym_simple(edges)
    # covers every simple undirected edge
    for v, nbrs in adj.items():
        for u in nbrs:
            assert v in cover or u in cover, (v, u)
    # minimal: no cover vertex is redundant (each has a non-cover neighbor)
    for v in cover:
        assert adj.get(v, set()) - cover, f"{v} is redundant"


@given(edges=edge_lists, n_comm=st.integers(min_value=1, max_value=4))
@SET
def test_fluid_community_matches_synchronous_replay(spark, edges, n_comm):
    """Exact replay of the documented deterministic synchronous
    variant: seeds = n smallest ids, per-round frozen counts,
    count-then-divide densities, strict +eps improvement, min-label
    ties, fixed round budget."""
    from linkgraph.algos.coloring import fluid_community
    from linkgraph.graph import Graph

    eps, max_round = 1e-10, 6
    adj = _sym_simple(edges)
    verts = sorted({v for e in edges for v in e})
    lab = {v: -1 for v in verts}
    for s in verts[:n_comm]:
        lab[s] = s
    for _ in range(max_round):
        cnt = {}
        for v in verts:
            if lab[v] >= 0:
                cnt[lab[v]] = cnt.get(lab[v], 0) + 1
        new = {}
        for v in verts:
            c = {}
            for u in list(adj.get(v, set())) + [v]:
                if lab[u] >= 0:
                    c[lab[u]] = c.get(lab[u], 0) + 1
            dens = {i: c[i] / cnt[i] for i in c}
            if dens:
                bd = max(dens.values())
                blab = min(i for i in dens if dens[i] == bd)
            else:
                bd, blab = None, None
            if lab[v] == -1:
                new[v] = blab if (bd is not None and bd > eps) else -1
            else:
                cd = dens.get(lab[v], 0.0)
                new[v] = (
                    blab if (bd is not None and bd > cd + eps) else lab[v]
                )
        lab = new
    res = fluid_community(
        Graph.from_edges(_df(spark, edges), directed=False),
        n_communities=n_comm,
        max_round=max_round,
    )
    got = {(r["id"], r["lab"]) for r in res.state.collect()}
    assert got == set(lab.items())


@given(edges=edge_lists)
@SET
def test_kshell_matches_sequential_peel(spark, edges):
    from linkgraph import oracle
    from linkgraph.algos.cores import kshell
    from linkgraph.graph import Graph

    res = kshell(Graph.from_edges(_df(spark, edges), directed=False))
    got = {(r["id"], r["shell"]) for r in res.state.collect()}
    ids, core = oracle.core_numbers([s for s, _ in edges], [d for _, d in edges])
    want = set(zip(ids.tolist(), core.tolist()))
    assert got == want


def _cdlp_replay(edges, rounds):
    """Synchronous LDBC label propagation: most frequent neighbor
    label, min-label ties, over the undirected simple graph."""
    adj = _sym_simple(edges)
    verts = {v for e in edges for v in e}
    lab = {v: v for v in verts}
    for _ in range(rounds):
        new = {}
        for v in verts:
            nbrs = adj.get(v)
            if not nbrs:
                new[v] = lab[v]
                continue
            hist = {}
            for u in nbrs:
                hist[lab[u]] = hist.get(lab[u], 0) + 1
            mx = max(hist.values())
            new[v] = min(l for l, c in hist.items() if c == mx)
        if new == lab:
            break
        lab = new
    return lab


@given(edges=edge_lists, rounds=st.sampled_from([1, 3, 10]))
@SET
def test_cdlp_matches_synchronous_replay(spark, edges, rounds):
    from linkgraph.algos.cdlp import cdlp
    from linkgraph.graph import Graph

    got = {
        r["id"]: r["label"]
        for r in cdlp(
            Graph.from_edges(_df(spark, edges), directed=True), max_round=rounds
        ).state.collect()
    }
    assert got == _cdlp_replay(edges, rounds)


weighted_edge_lists = st.lists(
    st.tuples(
        st.sampled_from(IDS),
        st.sampled_from(IDS),
        st.sampled_from([0.5, 1.0, 1.5, 2.0, 7.25]),
    ),
    min_size=1,
    max_size=18,
)


def _dijkstra(edges, source, directed):
    import heapq

    adj = {}
    for s, d, w in edges:
        if s == d:
            continue
        adj.setdefault(s, []).append((d, w))
        if not directed:
            adj.setdefault(d, []).append((s, w))
    verts = {v for s, d, _ in edges for v in (s, d)}
    dist = {source: 0.0}
    pq = [(0.0, source)]
    while pq:
        dv, v = heapq.heappop(pq)
        if dv > dist.get(v, float("inf")):
            continue
        for u, w in adj.get(v, ()):
            nd = dv + w
            if nd < dist.get(u, float("inf")):
                dist[u] = nd
                heapq.heappush(pq, (nd, u))
    return {v: dist.get(v, -1.0) for v in verts}


@given(edges=weighted_edge_lists, directed=st.booleans())
@SET
def test_sssp_matches_dijkstra(spark, edges, directed):
    """The frontier relaxation must reproduce Dijkstra distances on
    arbitrary weighted graphs, both orientations, parallel edges and
    unreached islands (-1.0)."""
    from linkgraph.algos.traversal import sssp
    from linkgraph.graph import Graph

    e = spark.createDataFrame(
        [(int(s), int(d), float(w)) for (s, d, w) in edges],
        "src long, dst long, w double",
    )
    source = min(v for s, d, _ in edges for v in (s, d))
    got = {
        r["id"]: r["dist"]
        for r in sssp(
            Graph.from_edges(e, directed=directed, weight_col="w"),
            source=source,
            weight_col="w",
        ).state.collect()
    }
    want = _dijkstra(edges, source, directed)
    assert set(got) == set(want)
    for v in want:
        assert abs(got[v] - want[v]) < 1e-9, (v, got[v], want[v])
