"""Generic declarative pattern matching: ``match_pattern`` compiles a
small labeled pattern (3–5 vertices) into the same vertex-at-a-time
equi-join stages as ``kclique_counts``.

The reference's interactive engine exposes this as the GIE ``Pattern``
operator (interactive_engine/executor/ir/proto/algebra.proto:407 —
a sentence of connected pattern edges) planned by worst-case-optimal
ExtendIntersect steps (compiler ExtendIntersectRule: grow the match
one vertex at a time, intersecting the adjacency of all already-bound
neighbors). The repo's fixed motif catalog (triangles, k-clique,
rectangle, diamond — linkgraph/algos/subgraph.py) covers the common
shapes; this module subsumes them behind one API for arbitrary
patterns.

Spark-first re-expression of ExtendIntersect:

  * bind an order over pattern variables (max-connectivity-first, so
    every step extends from at least one bound neighbor);
  * extending by variable w = ONE equi-join of the partial-match frame
    against the adjacency frame on a bound neighbor of w, then one
    LEFT SEMI join per ADDITIONAL bound neighbor — the intersection
    runs as keyed joins (shuffle on the partial-match key), never a
    per-row set intersection;
  * injectivity (subgraph isomorphism, not homomorphism) is enforced
    with != filters against non-adjacent bound variables (adjacent
    pairs are distinct by the simple-graph guarantee);
  * per-variable vertex predicates (labels/properties) become
    broadcast semijoins against the filtered vertex set, applied at
    bind time so the partial-match frame never grows past the label
    selectivity.

Every stage is a keyed shuffle join with AQE skew handling;
intermediate size equals the true partial-match count — the
worst-case-optimal property the reference's planner targets.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from linkgraph.graph import Graph


def _plan_order(variables: list[str], pattern_edges: list[tuple[str, str]]) -> list[str]:
    """Bind order: start at the max-degree variable, then repeatedly
    pick the unbound variable with the most bound neighbors (ties by
    pattern degree, then name — deterministic). Raises if the pattern
    is disconnected (a cartesian product is never compiled)."""
    deg = {v: 0 for v in variables}
    for a, b in pattern_edges:
        deg[a] += 1
        deg[b] += 1
    order = [max(variables, key=lambda v: (deg[v], v))]
    while len(order) < len(variables):
        bound = set(order)
        best, best_key = None, None
        for v in variables:
            if v in bound:
                continue
            k = (
                sum(1 for a, b in pattern_edges if (a == v and b in bound) or (b == v and a in bound)),
                deg[v],
                v,
            )
            if k[0] > 0 and (best_key is None or k > best_key):
                best, best_key = v, k
        if best is None:
            raise ValueError("pattern is disconnected; match components separately")
        order.append(best)
    return order


def match_pattern(
    graph: Graph,
    pattern_edges: list[tuple[str, str]],
    vertex_predicates: dict[str, Column] | None = None,
    directed: bool = False,
    where: Column | None = None,
) -> DataFrame:
    """All injective embeddings of the pattern; one column per pattern
    variable (sorted by name). Each embedding appears once PER
    AUTOMORPHISM of the pattern (standard match semantics — break
    symmetry yourself with ``where``, e.g. ``F.col("a") < F.col("c")``
    for a rectangle's reflection).

    pattern_edges      connected pattern as (var, var) pairs; directed
                       patterns match edge direction as stored,
                       undirected ones match the symmetrized view
    vertex_predicates  var → boolean Column over the graph's vertex
                       frame (labels / properties), e.g.
                       {"a": F.col("size_class") == 0}
    where              extra cross-variable filter on the result
    """
    variables = sorted({v for e in pattern_edges for v in e})
    if len(variables) < 2:
        raise ValueError("pattern needs at least one edge")
    preds = vertex_predicates or {}

    # one query over a plan, not the stored view: AQE reuses the dedup
    # exchange across the extension stages, and on a single call a
    # stored view only adds its own jobs
    e = graph.edges if directed else graph.symmetrized_edges()
    adj = e.select("src", "dst").where(F.col("src") != F.col("dst")).dropDuplicates(["src", "dst"])

    def allowed(var: str) -> DataFrame | None:
        """Vertex ids passing var's predicate (None = unconstrained)."""
        if var not in preds:
            return None
        if graph.vertices is None:
            raise ValueError(f"vertex predicate on {var!r} needs a vertex frame")
        return graph.vertices.where(preds[var]).select("id")

    order = _plan_order(variables, pattern_edges)

    # seed: the first pattern edge touching order[0] and order[1]
    v0, v1 = order[0], order[1]
    if directed and (v0, v1) in pattern_edges and (v1, v0) in pattern_edges:
        # reciprocal seed pair: intersect both directions
        cur = adj.select(F.col("src").alias(v0), F.col("dst").alias(v1)).join(
            adj.select(F.col("dst").alias(v0), F.col("src").alias(v1)).hint("SHUFFLE_HASH"),
            [v0, v1], "left_semi"
        )
    elif directed and (v1, v0) in pattern_edges and (v0, v1) not in pattern_edges:
        cur = adj.select(F.col("dst").alias(v0), F.col("src").alias(v1))
    else:
        cur = adj.select(F.col("src").alias(v0), F.col("dst").alias(v1))
    for v in (v0, v1):
        ids = allowed(v)
        if ids is not None:
            cur = cur.join(F.broadcast(ids.withColumnRenamed("id", v)), v, "left_semi")

    for i in range(2, len(order)):
        w = order[i]
        bound = order[:i]
        if directed:
            nbrs_out = [b for b in bound if (b, w) in pattern_edges]   # b -> w
            nbrs_in = [b for b in bound if (w, b) in pattern_edges]    # w -> b
            exts = [(b, "fwd") for b in nbrs_out] + [(b, "rev") for b in nbrs_in]
        else:
            seen = set()
            exts = []
            for a, b in pattern_edges:
                for (x, y) in ((a, b), (b, a)):
                    if x in bound and y == w and x not in seen:
                        seen.add(x)
                        exts.append((x, "fwd"))
        first, kind = exts[0]

        def ext_frame(b: str, k: str) -> DataFrame:
            # the adjacency side is the hash-BUILD side (SHUFFLE_HASH,
            # never sort-merge): the partial-match frame can be orders
            # of magnitude larger than E and must stream, not sort —
            # same policy as linkgraph/joins.py; AQE still upgrades to
            # broadcast when the adjacency slice is small
            if k == "rev":
                e = adj.select(F.col("dst").alias(b), F.col("src").alias(w))
            else:
                e = adj.select(F.col("src").alias(b), F.col("dst").alias(w))
            return e.hint("SHUFFLE_HASH")

        cur = cur.join(ext_frame(first, kind), first)
        for b, k in exts[1:]:
            cur = cur.join(ext_frame(b, k), [b, w], "left_semi")
        ids = allowed(w)
        if ids is not None:
            cur = cur.join(F.broadcast(ids.withColumnRenamed("id", w)), w, "left_semi")
        # injectivity vs non-adjacent bound variables
        ext_set = {b for b, _ in exts}
        for b in bound:
            if b not in ext_set:
                cur = cur.where(F.col(w) != F.col(b))

    if where is not None:
        cur = cur.where(where)
    return cur.select(*variables)


def match_count(
    graph: Graph,
    pattern_edges: list[tuple[str, str]],
    vertex_predicates: dict[str, Column] | None = None,
    directed: bool = False,
    where: Column | None = None,
) -> int:
    """Number of injective embeddings (automorphisms included)."""
    return match_pattern(graph, pattern_edges, vertex_predicates, directed, where).count()
