"""Subgraph / motif counting and densest-subgraph approximation.

Transcribed SEMANTICS (not code) from the reference flash apps
analytical_engine/apps/flash/subgraph/:

  * k-clique.h:44-95           global k-clique count (degree-ordered
                               orientation, per-vertex recursive
                               intersection of out-sets)
  * acyclic-triangle.h:41-75   "trans": # of (a,b,c) with a->b, b->c,
                               a->c (per directed edge |out(s)∩out(d)|)
  * cyclic-triangle.h:41-80    # of directed 3-cycles, each once
                               (counted at its max-(deg,id) vertex)
  * in-triangle.h:41-80        "in+": # of (reciprocal pair {s,d}, x)
                               with s->x and d->x
  * out-triangle.h:41-80       "out+": # of (reciprocal pair {s,d}, x)
                               with x->s and x->d
  * cycle-plus-triangle.h:42-78  "cycle+": # of (ordered reciprocal
                               pair (s,d), x) with d->x and x->s —
                               a directed 3-cycle closed through the
                               reciprocal edge
  * tailed-triangle.h:41-80    # of (undirected triangle, pendant
                               edge at a corner) = Σ_tri Σ_corners
                               (deg(corner) - 2); the reference sums
                               (|out(s)|-2 + |out(d)|-2)·tri(edge)
                               over undirected edges and halves it
  * 3-path.h:42-77             # of simple 3-edge paths, counted at
                               the middle edge: Σ_edges (deg(s)-1)·
                               (deg(d)-1) - common(s,d)
  * rectangle.h:40-85          # of 4-cycles, each counted once at
                               (v, o) = (opposite corner, max corner):
                               Σ C(#wedges v~m->o with o>m, o>v, 2)
  * diamond.h:40-88            # of K4-minus-an-edge, once per shared
                               (diagonal) edge: Σ_edges C(common, 2)
  * densest-sub-2-approx.h:39-98  density (= 2|E(S)|/|S|, i.e. the
                               average degree) of the max-core
                               subgraph — a 2-approximation of the
                               densest subgraph

Spark-first re-expression: the reference's per-vertex hash-set
intersections become degree-ordered oriented equi-joins (the same
(deg,id) orientation as triangles.py — SURVEY.md §4.3's skew
mitigation); every count is a CONSTANT number of keyed joins + one
global aggregate. No iteration, no driver-side loops: the k-clique
"recursion" unrolls into k-2 join stages, each extending the clique
frame by the highest-ordered vertex, so intermediate size equals the
number of (m+1)-clique candidates, never the raw wedge explosion.
AQE handles residual skew; at 100 TB every join is a shuffle on the
clique prefix key with map-side partial aggregation on the counts.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from linkgraph.graph import Graph
from linkgraph.algos.triangles import _oriented, _corners_from


def kclique_counts(graph: Graph, ks: tuple[int, ...] = (3, 4, 5)) -> DataFrame:
    """Global k-clique counts for every k in `ks` (k-clique.h:44-95),
    as ONE single-row frame (n_3, n_4, ... columns, BIGINT).

    The clique frame for size m holds one row per m-clique with the
    members as columns v1..vm in ascending (deg, id) order; extending
    to m+1 is one equi-join on vm against the oriented edge frame
    plus m-1 left-semi adjacency checks — each clique produced
    exactly once, hub fan-out bounded by oriented out-degree."""
    ks = tuple(sorted(set(ks)))
    kmax = ks[-1]
    e, _, _ = _oriented(graph)
    e = e.persist()
    counts: dict[int, int] = {}
    if 1 in ks:
        counts[1] = graph.materialized().num_vertices()
    if 2 in ks:
        counts[2] = e.count()
    cur = e.select(F.col("src").alias("v1"), F.col("dst").alias("v2"))
    prev_persisted = None
    for m in range(2, kmax):
        ext = e.select(F.col("src").alias(f"v{m}"), F.col("dst").alias(f"v{m + 1}"))
        cand = cur.join(ext, f"v{m}")
        for i in range(1, m):
            ei = e.select(F.col("src").alias(f"v{i}"), F.col("dst").alias(f"v{m + 1}"))
            cand = cand.join(ei, [f"v{i}", f"v{m + 1}"], "left_semi")
        cur = cand.persist()
        if (m + 1) in ks:
            counts[m + 1] = cur.count()
        if prev_persisted is not None:
            prev_persisted.unpersist()
        prev_persisted = cur
    if prev_persisted is not None:
        prev_persisted.unpersist()
    e.unpersist()
    spark = graph.edges.sparkSession
    row = {f"n_{k}": counts.get(k, 0) for k in ks}
    out = spark.range(1).select(
        *[F.lit(row[f"n_{k}"]).cast("long").alias(f"n_{k}") for k in ks]
    )
    return out


def motif_census(graph: Graph) -> DataFrame:
    """Directed triangle census + undirected small-motif counts as ONE
    single-row frame with columns

      trans, cyclic, in_plus, out_plus, cycle_plus  (directed)
      tailed, paths3, rectangles, diamonds  (on the underlying
                                             undirected simple graph)

    Every column is an independent aggregate subtree over the shared
    edge frames; Spark runs them as parallel stages under one job. The
    frames are plans over the graph's stored views and degree frame,
    so the call keeps no cached frame of its own."""
    g = graph.materialized()
    d = g.simple_directed()
    sym = g.simple_undirected()
    e_or, deg, _ = _oriented(g)

    # --- directed counts -------------------------------------------------
    rev = d.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    recip = (
        d.join(rev, ["src", "dst"], "left_semi")
        .where(F.col("src") < F.col("dst"))
    )
    # trans: a->b, b->c, a->c (each ordered instance once)
    trans = (
        d.select(F.col("src").alias("a"), F.col("dst").alias("b"))
        .join(d.select(F.col("src").alias("b"), F.col("dst").alias("c")), "b")
        .join(d.select(F.col("src").alias("a"), F.col("dst").alias("c")), ["a", "c"], "left_semi")
        .agg(F.count("*").alias("n_trans"))
    )
    # cyclic: a->b->c->a counted 3x as rotations -> /3
    cyc = (
        d.select(F.col("src").alias("a"), F.col("dst").alias("b"))
        .join(d.select(F.col("src").alias("b"), F.col("dst").alias("c")), "b")
        .join(d.select(F.col("src").alias("c"), F.col("dst").alias("a")), ["a", "c"], "left_semi")
        .agg((F.count("*") / 3).cast("long").alias("n_cyclic"))
    )
    # in+: reciprocal pair {s,d} with common out-neighbour x
    in_plus = (
        recip.join(d.select(F.col("src").alias("src"), F.col("dst").alias("x")), "src")
        .join(
            d.select(F.col("src").alias("dst"), F.col("dst").alias("x")),
            ["dst", "x"],
            "left_semi",
        )
        .agg(F.count("*").alias("n_in_plus"))
    )
    # out+: reciprocal pair {s,d} with common in-neighbour x
    out_plus = (
        recip.join(d.select(F.col("dst").alias("src"), F.col("src").alias("x")), "src")
        .join(
            d.select(F.col("dst").alias("dst"), F.col("src").alias("x")),
            ["dst", "x"],
            "left_semi",
        )
        .agg(F.count("*").alias("n_out_plus"))
    )

    # cycle+: ordered reciprocal pair (s, d) (both s->d and d->s)
    # plus a directed 2-path d->x->s — a 3-cycle through x closed by
    # the reciprocal edge (cycle-plus-triangle.h:42-78: per directed
    # edge s->d with d ∈ in(s), count |in(s) ∩ out(d)|; x = s, d are
    # excluded automatically on a self-loop-free simple digraph)
    recip_ord = d.join(rev, ["src", "dst"], "left_semi")
    cyc_plus = (
        recip_ord.join(
            d.select(F.col("dst").alias("src"), F.col("src").alias("x")), "src"
        )
        .join(
            d.select(F.col("src").alias("dst"), F.col("dst").alias("x")),
            ["dst", "x"],
            "left_semi",
        )
        .agg(F.count("*").alias("n_cycle_plus"))
    )

    # --- undirected counts ------------------------------------------------
    corners = _corners_from(e_or)
    tri_total = corners.agg(F.count("*").alias("t"))
    # per-vertex triangle participation
    tri_v = (
        corners.select(F.explode(F.array("x", "y", "z")).alias("id"))
        .groupBy("id")
        .agg(F.count("*").alias("tri"))
    )
    tailed = (
        tri_v.join(deg, "id")
        .agg(
            F.coalesce(F.sum(F.col("tri") * (F.col("degree") - 2)), F.lit(0))
            .cast("long")
            .alias("n_tailed")
        )
    )
    # 3-paths: Σ_edges (deg(s)-1)(deg(d)-1) - 3·T (common-neighbour
    # sum over edges = 3 · total triangles)
    upairs = sym.where(F.col("src") < F.col("dst"))
    psum = (
        upairs.join(deg.select(F.col("id").alias("src"), F.col("degree").alias("ds")), "src")
        .join(deg.select(F.col("id").alias("dst"), F.col("degree").alias("dd")), "dst")
        .agg(
            F.coalesce(F.sum((F.col("ds") - 1) * (F.col("dd") - 1)), F.lit(0))
            .cast("long")
            .alias("p")
        )
    )
    paths3 = psum.crossJoin(tri_total).select(
        (F.col("p") - 3 * F.col("t")).cast("long").alias("n_paths3")
    )
    # rectangles: wedge v ~ m -> o with (deg,id): o>m (oriented edge)
    # and o>v; per (v,o) pair C(count, 2); each 4-cycle once at its
    # max-ordered corner o with v the opposite corner (rectangle.h).
    adj = sym.join(
        deg.select(F.col("id").alias("src"), F.col("degree").alias("dv")), "src"
    ).select(F.col("src").alias("v"), F.col("dst").alias("m"), "dv")
    eo2 = e_or.join(
        deg.select(F.col("id").alias("dst"), F.col("degree").alias("do")), "dst"
    ).select(F.col("src").alias("m"), F.col("dst").alias("o"), "do")
    wedges = (
        adj.join(eo2, "m")
        .where(
            (F.col("do") > F.col("dv"))
            | ((F.col("do") == F.col("dv")) & (F.col("o") > F.col("v")))
        )
        .groupBy("v", "o")
        .agg(F.count("*").alias("c"))
    )
    rect = wedges.agg(
        F.coalesce(F.sum(F.col("c") * (F.col("c") - 1) / 2), F.lit(0))
        .cast("long")
        .alias("n_rect")
    )
    # diamonds: per undirected edge, C(#triangles through it, 2)
    tri_e = (
        corners.select(
            F.explode(
                F.array(
                    F.struct(F.least("x", "y").alias("a"), F.greatest("x", "y").alias("b")),
                    F.struct(F.least("y", "z").alias("a"), F.greatest("y", "z").alias("b")),
                    F.struct(F.least("x", "z").alias("a"), F.greatest("x", "z").alias("b")),
                )
            ).alias("e")
        )
        .select("e.a", "e.b")
        .groupBy("a", "b")
        .agg(F.count("*").alias("t"))
    )
    diamonds = tri_e.agg(
        F.coalesce(F.sum(F.col("t") * (F.col("t") - 1) / 2), F.lit(0))
        .cast("long")
        .alias("n_diamond")
    )

    out = (
        trans.crossJoin(cyc)
        .crossJoin(in_plus)
        .crossJoin(out_plus)
        .crossJoin(cyc_plus)
        .crossJoin(tailed)
        .crossJoin(paths3)
        .crossJoin(rect)
        .crossJoin(diamonds)
    )
    return out


def densest_subgraph(graph: Graph, shell: DataFrame | None = None) -> DataFrame:
    """Densest-subgraph 2-approximation (densest-sub-2-approx.h:39-98):
    the max-core subgraph's average degree 2|E(S)|/|S|. Returns one
    row (n_sub: long, deg_sum: long, density: double) where deg_sum
    counts each induced edge twice, exactly as the reference's
    per-vertex neighbour scan does.

    Core numbers come from the same iterated-H-index fixpoint as
    kshell (cores.py) — the reference's peel inner loop IS the H-index
    update, so the fixpoint is identical."""
    from linkgraph.algos.cores import kshell

    sh = shell if shell is not None else kshell(graph).state
    sh = sh.persist()
    cmax = sh.agg(F.max("shell").alias("m")).collect()[0]["m"] or 0
    s_ids = sh.where(F.col("shell") == cmax).select("id").persist()
    sym = graph.simple_undirected()
    ne = (
        sym.join(s_ids.withColumnRenamed("id", "src"), "src", "left_semi")
        .join(s_ids.withColumnRenamed("id", "dst"), "dst", "left_semi")
        .count()
    )
    nv = s_ids.count()
    spark = graph.edges.sparkSession
    density = float(ne) / nv if nv else 0.0
    out = spark.range(1).select(
        F.lit(nv).cast("long").alias("n_sub"),
        F.lit(ne).cast("long").alias("deg_sum"),
        F.round(F.lit(density), 8).alias("density"),
    )
    s_ids.unpersist()
    sh.unpersist()
    return out
