"""Path enumeration: label-pattern path sampling, simple-path
predicates, DFS ordering.

Reference semantics (transcribed, NOT ported):
  * sampling_path — apps/sampling_path/sampling_path.h:30-140:
    enumerate ALL paths matching an alternating vertex/edge label
    pattern [v0, e0, v1, e1, v2, ...]; the result is the list of
    vertex-id tuples. Here vertex labels come from a caller-supplied
    (id, vlabel) frame; the path is grown one hop per join, the
    relational twin of the reference's per-level BFS queue.
  * is_simple_path — apps/simple_path/is_simple_path.h: the given
    vertex list is a path (every consecutive pair an edge) with no
    repeated vertex.
  * all_simple_paths — apps/simple_path/all_simple_paths.h:40-270:
    all simple paths source→target up to a cutoff; grown hop-by-hop
    with an explicit visited check (array_contains on the path).
  * dfs — apps/dfs/dfs.h:36-200: DFS preorder rank from a source.
    The reference walks ONE vertex per superstep (purely sequential
    token passing); re-running that on Spark would be O(V)
    supersteps, so the traversal itself runs inside a single
    Arrow-batched task over the collected edge list (DFS is
    inherently sequential — at 100 TB you don't DFS the whole graph;
    the op exists for parity and small subgraphs). Neighbor order is
    ascending id (the reference's adjacency order), so ranks are
    deterministic.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, functions as F

from linkgraph.graph import Graph


def sampling_path(
    graph: Graph,
    vlabels: DataFrame,
    pattern: list[int],
    start_filter=None,
) -> DataFrame:
    """All paths v0→v1→…→vk whose vertex labels match ``pattern``
    (one label per hop vertex). Returns columns v0..vk (long).
    ``start_filter``: optional Column predicate on v0."""
    if len(pattern) < 1:
        raise ValueError("pattern needs at least one vertex label")
    lab = vlabels.select(
        F.col(vlabels.columns[0]).alias("id"), F.col(vlabels.columns[1]).alias("vl")
    )
    e = graph.edges.select("src", "dst").dropDuplicates(["src", "dst"])
    cur = (
        lab.where(F.col("vl") == pattern[0])
        .select(F.col("id").alias("v0"))
    )
    if start_filter is not None:
        cur = cur.where(start_filter)
    for hop in range(1, len(pattern)):
        nxt = (
            e.join(lab.withColumnRenamed("id", "dst").withColumnRenamed("vl", "dl"), "dst")
            .where(F.col("dl") == pattern[hop])
            .select(F.col("src").alias(f"v{hop - 1}"), F.col("dst").alias(f"v{hop}"))
        )
        cur = cur.join(nxt, f"v{hop - 1}")
    return cur.select(*[f"v{i}" for i in range(len(pattern))])


def is_simple_path(graph: Graph, path: list[int], directed: bool | None = None) -> bool:
    """True iff ``path`` is a simple path in the graph (consecutive
    pairs are edges, no vertex repeats). Single-vertex paths are
    simple iff the vertex exists (networkx semantics the reference
    mirrors)."""
    if len(path) != len(set(path)):
        return False
    verts = graph.deduced_vertices()
    if len(path) == 1:
        return verts.where(F.col("id") == path[0]).count() > 0
    use_directed = graph.directed if directed is None else directed
    # a one-shot probe: the few hops (both orientations when
    # undirected) are broadcast against one scan of the edges, so no
    # edge frame is symmetrized, deduplicated or stored
    hops = [(i, int(a), int(b)) for i, (a, b) in enumerate(zip(path, path[1:]))]
    if not use_directed:
        hops += [(i, b, a) for i, a, b in hops]
    spark = graph.edges.sparkSession
    found = (
        graph.edges.select("src", "dst")
        .join(F.broadcast(spark.createDataFrame(hops, "hop long, src long, dst long")), ["src", "dst"])
        .select("hop").distinct().count()
    )
    return found == len(path) - 1


def all_simple_paths(
    graph: Graph,
    source: int,
    target: int,
    cutoff: int = 3,
    directed: bool | None = None,
) -> DataFrame:
    """All simple paths source→target with ≤ ``cutoff`` edges.
    Returns (path: array<long>). Paths grow one hop per join with an
    array_contains visited check — the relational form of
    all_simple_paths.h's per-vertex frontier stacks."""
    use_directed = graph.directed if directed is None else directed
    e = graph.simple_directed() if use_directed else graph.simple_undirected()
    spark = graph.edges.sparkSession
    frontier = spark.createDataFrame([(int(source),)], "head long").select(
        F.array(F.col("head")).cast("array<long>").alias("path"), F.col("head")
    )
    results = []
    for _ in range(cutoff):
        ext = (
            frontier.join(e.withColumnRenamed("src", "head"), "head")
            .where(~F.array_contains(F.col("path"), F.col("dst")))
            .select(
                F.concat(F.col("path"), F.array(F.col("dst"))).alias("path"),
                F.col("dst").alias("head"),
            )
        )
        results.append(ext.where(F.col("head") == target).select("path"))
        frontier = ext.where(F.col("head") != target)
    out = results[0]
    for r in results[1:]:
        out = out.unionByName(r)
    return out


def _dfs_kernel(source: int, directed: bool):
    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        adj: dict[int, list[int]] = {}
        for pdf in batches:
            for a, b in zip(pdf["src"].tolist(), pdf["dst"].tolist()):
                adj.setdefault(a, []).append(b)
                if not directed:
                    adj.setdefault(b, []).append(a)
        for k in adj:
            adj[k] = sorted(set(adj[k]))
        rank: dict[int, int] = {}
        parent: dict[int, int] = {source: source}
        stack = [(source, iter(adj.get(source, [])))]
        rank[source] = 0
        nxt = 1
        while stack:
            v, it = stack[-1]
            advanced = False
            for u in it:
                if u not in rank:
                    rank[u] = nxt
                    parent[u] = v
                    nxt += 1
                    stack.append((u, iter(adj.get(u, []))))
                    advanced = True
                    break
            if not advanced:
                stack.pop()
        yield pd.DataFrame(
            {
                "id": list(rank.keys()),
                "rank": list(rank.values()),
                "parent": [parent[k] for k in rank],
            }
        )

    return kernel


def dfs(graph: Graph, source: int, directed: bool | None = None) -> DataFrame:
    """DFS preorder from ``source``: (id, rank, parent) for reached
    vertices; neighbors visited in ascending id order. Sequential by
    nature (see module docstring) — the edge list is coalesced into
    ONE Arrow-batched task."""
    use_directed = graph.directed if directed is None else directed
    # the kernel dedups each neighbour list and a self-loop never
    # reaches an unranked vertex, so the raw edge rows give the preorder
    return graph.edges.select("src", "dst").coalesce(1).mapInPandas(
        _dfs_kernel(int(source), bool(use_directed)),
        schema="id long, rank long, parent long",
    )
