"""Bridges, articulation points (cut vertices) and biconnected
components — one shared spanning-forest machinery.

Transcribed SEMANTICS (not code) from the reference flash apps
analytical_engine/apps/flash/connectivity/{bridge.h:45-149,
cut-point.h:45-153, bcc.h:44-141}. All three reference apps share one
skeleton: CC → rooted BFS forest → for every non-tree edge, walk the
tree path between its endpoints and union every path vertex BELOW the
path's top (the LCA) into one group (bridge.h/cut-point.h/bcc.h
"join_edges"; the reference does this walk SEQUENTIALLY per vertex in
VertexMapSeq + a global union-find). The resulting vertex groups are
the biconnected components keyed by child-side tree edge:

  * bcc.h:139       — v.bcc = group(v)
  * bridge.h:107-147 — tree edge (v, parent v) is a bridge iff no
    non-tree path covers it (v stays singleton);
  * cut-point.h:138-152 — v is a cut vertex iff one of its tree
    children is in a different group than v itself (root: iff its
    children span ≥2 groups).

The sequential path-walk does not distribute, so this implementation
computes the SAME partition declaratively:

  1. wcc → per-component root (min id), BFS forest: traversal's
     unit-weight relaxation from every root (level = hop count,
     parent = its predecessor, the min neighbour one level up —
     deterministic, unlike the reference's arrival-order parent).
  2. binary-lifting ancestor tables A_k(v) = 2^k-th ancestor
     (log(diameter) doubling joins); per non-tree edge {a,b} a
     vectorized lift-and-descend computes the LCA l and the children
     of l on each path side (ca, cb) — O(log D) keyed joins over the
     non-tree edge frame, no per-edge loop.
  3. subtree sums by descending depth layer (the same per-layer
     accumulation as betweenness' backward pass):
       S_w(x) = # non-tree edge ENDPOINTS in subtree(x)
       S_c(x) = # non-tree edges whose LCA is in subtree(x)
     so crossing(x) = S_w(x) - 2*S_c(x) is the number of non-tree
     edges with exactly ONE endpoint in subtree(x) — i.e. the number
     of non-tree edges whose tree path covers edge (x, parent x).
  4. the reference's union-find partition is exactly the connected
     components of the graph H =
       {non-tree edges} ∪ {(x, parent x) : some covering path
        continues ABOVE parent x}
     and "continues above parent(x)" counts as
       deep(x) = crossing(x) - D(x) > 0,
     where D(x) = # non-tree edges whose LCA is parent(x) with x the
     path-side child (emitted directly from step 2's ca/cb).
     One more wcc run over H gives group(v), canonicalized to the
     MIN member id (the reference's union-find roots are
     arbitrary; the partition is the semantics).
  5. bridges: crossing(x) == 0; cut/bcc: the reference rules above.

Scale design: every step is a keyed join or a bounded per-layer loop —
ancestor tables are V·log(D) rows total, the lift/descend is
O(|NT|·log D) join work, subtree sums are D rounds over single layers,
and the only iterate-to-fixpoint pieces are the two wcc runs (linear,
delta-frontier). No windows over unbounded groups, no driver-side
loops over data, no per-edge walks.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, functions as F

from linkgraph.algos.traversal import _relax
from linkgraph.engine import SuperstepEngine
from linkgraph.graph import Graph


@dataclass
class BiconnectivityResult:
    """Shared result of the bridges/cut-points/bcc machinery."""

    tree: DataFrame        # (id, parent, depth) — parent NULL at roots
    bridges: DataFrame     # (src, dst), src < dst, one row per bridge
    cut_points: DataFrame  # (id, is_cut)
    bcc: DataFrame         # (id, bcc) — min member id of v's group
    rounds: int = 0
    metrics: list = field(default_factory=list)


def _bfs_forest(
    graph: Graph, eng: SuperstepEngine, P: int
) -> tuple[DataFrame, DataFrame, int, list]:
    """Deterministic rooted BFS forest over the undirected view:
    one root per component (the wcc min id, like bridge.h:77-79's
    cid==id filter), level = hop count, parent = MIN neighbour at
    level-1 (bridge.h:90-103 takes an arbitrary arrival-order parent;
    min makes the tree oracle-checkable). Returns (tree, sym_edges,
    rounds, metrics)."""
    from linkgraph.algos.wcc import wcc

    g = graph.materialized()
    comp = wcc(g, engine=eng)
    roots = comp.state.where(F.col("id") == F.col("comp")).select("id")
    # the unit-weight relaxation from every root: a vertex is reached
    # from its own component's root only, and its pred is its min
    # neighbour one level up
    res = _relax(g, None, roots, False, eng, 10_000)
    tree = (
        res.state.select(
            "id", F.when(F.col("id") != F.col("s"), F.col("pred")).alias("parent"),
            F.col("dist").cast("long").alias("depth"),
        )
        .repartition(P, "id")
        .localCheckpoint(eager=True)
    )
    return tree, g.simple_undirected(), res.rounds, res.metrics


def _bit(col, k: int):
    return col.bitwiseAND(F.lit(1 << k)) != 0


def _lift_join(frame: DataFrame, anc_k: DataFrame, pos: str, cond) -> DataFrame:
    """pos := A_k(pos) on rows where cond (and an ancestor exists)."""
    ak = anc_k.select(F.col("cur").alias("_jk"), F.col("anc").alias("_ak"))
    return (
        frame.join(ak.hint("SHUFFLE_HASH"), frame[pos] == ak["_jk"], "left")
        .withColumn(pos, F.when(cond & F.col("_ak").isNotNull(), F.col("_ak")).otherwise(F.col(pos)))
        .drop("_jk", "_ak")
    )


def biconnectivity(
    graph: Graph,
    engine: SuperstepEngine | None = None,
) -> BiconnectivityResult:
    spark = graph.edges.sparkSession
    eng = engine or SuperstepEngine(spark)
    P = int(spark.conf.get("spark.sql.shuffle.partitions"))

    tree, edges, rounds, metrics = _bfs_forest(graph, eng, P)
    verts = tree.select("id")
    max_depth = int(tree.agg(F.max("depth")).collect()[0][0] or 0)

    # undirected pair sets: {u,v} with u<v; tree pairs normalized
    pairs = (
        edges.where(F.col("src") < F.col("dst")).select("src", "dst")
    )
    tree_pairs = tree.where(F.col("parent").isNotNull()).select(
        F.least("id", "parent").alias("src"), F.greatest("id", "parent").alias("dst")
    )
    nt = pairs.join(tree_pairs, ["src", "dst"], "left_anti") \
              .withColumnRenamed("src", "a").withColumnRenamed("dst", "b") \
              .repartition(P, "a").localCheckpoint(eager=True)

    # ---- binary-lifting ancestor tables: A_k(v) = 2^k-th ancestor --
    anc: list[DataFrame] = []
    a0 = tree.where(F.col("parent").isNotNull()).select(
        F.col("id").alias("cur"), F.col("parent").alias("anc")
    ).repartition(P, "cur").persist()
    a0.count()
    anc.append(a0)
    K = 1
    while (1 << K) <= max_depth:
        prev = anc[-1]
        nxt = (
            prev.join(
                prev.select(F.col("cur").alias("anc"), F.col("anc").alias("anc2")).hint("SHUFFLE_HASH"),
                "anc",
            )
            .select("cur", F.col("anc2").alias("anc"))
            .repartition(P, "cur")
            .persist()
        )
        nxt.count()
        anc.append(nxt)
        K += 1

    # ---- per-non-tree-edge LCA + path-side children of the LCA -----
    # orient so xa is the deeper endpoint; lift it to depth(xb)+1,
    # check the direct-ancestor case, then lockstep binary descend.
    dep = tree.select(F.col("id").alias("_d_id"), F.col("depth").alias("_d"))
    lca = (
        nt.join(dep.hint("SHUFFLE_HASH"), nt["a"] == dep["_d_id"]).drop("_d_id")
        .withColumnRenamed("_d", "da")
        .join(dep.hint("SHUFFLE_HASH"), F.col("b") == dep["_d_id"]).drop("_d_id")
        .withColumnRenamed("_d", "db")
        .select(
            "a", "b",
            F.when(F.col("da") >= F.col("db"), F.col("a")).otherwise(F.col("b")).alias("xa"),
            F.when(F.col("da") >= F.col("db"), F.col("b")).otherwise(F.col("a")).alias("xb"),
            F.greatest("da", "db").alias("dxa"),
            F.least("da", "db").alias("dxb"),
        )
        .withColumn("steps", F.col("dxa") - F.col("dxb") - F.lit(1))
    )
    for k in range(K):
        lca = _lift_join(lca, anc[k], "xa", (F.col("steps") >= 0) & _bit(F.col("steps"), k))
    # xa now at depth dxb+1 when dxa>dxb (else untouched at dxb)
    lca = _lift_join(
        lca.withColumn("x1", F.col("xa")),
        anc[0], "xa", F.col("dxa") > F.col("dxb"),
    ).localCheckpoint(eager=True)
    # direct-ancestor case: parent(x1) == xb → l = xb, ca = x1, no cb
    done_anc = lca.where((F.col("dxa") > F.col("dxb")) & (F.col("xa") == F.col("xb"))).select(
        "a", "b", F.col("xb").alias("l"), F.col("x1").alias("ca"),
        F.lit(None).cast("long").alias("cb"),
    )
    desc = lca.where(~((F.col("dxa") > F.col("dxb")) & (F.col("xa") == F.col("xb")))) \
              .select("a", "b", "xa", "xb")
    for k in range(K - 1, -1, -1):
        ak = anc[k]
        ja = ak.select(F.col("cur").alias("_ja"), F.col("anc").alias("_aa"))
        jb = ak.select(F.col("cur").alias("_jb"), F.col("anc").alias("_ab"))
        desc = (
            desc.join(ja.hint("SHUFFLE_HASH"), desc["xa"] == ja["_ja"], "left")
            .join(jb.hint("SHUFFLE_HASH"), F.col("xb") == jb["_jb"], "left")
            .withColumn(
                "_move",
                F.col("_aa").isNotNull() & F.col("_ab").isNotNull()
                & (F.col("_aa") != F.col("_ab")),
            )
            .select(
                "a", "b",
                F.when(F.col("_move"), F.col("_aa")).otherwise(F.col("xa")).alias("xa"),
                F.when(F.col("_move"), F.col("_ab")).otherwise(F.col("xb")).alias("xb"),
            )
        )
    p0 = anc[0].select(F.col("cur").alias("_pc"), F.col("anc").alias("_pp"))
    done_desc = (
        desc.join(p0.hint("SHUFFLE_HASH"), desc["xa"] == p0["_pc"])
        .select("a", "b", F.col("_pp").alias("l"), F.col("xa").alias("ca"),
                F.col("xb").alias("cb"))
    )
    lca_all = done_anc.unionByName(done_desc).repartition(P, "l").localCheckpoint(eager=True)

    # ---- subtree sums by descending depth layer --------------------
    wcnt = (
        nt.select(F.col("a").alias("id")).unionByName(nt.select(F.col("b").alias("id")))
        .groupBy("id").agg(F.count("*").alias("w"))
    )
    ccnt = lca_all.groupBy(F.col("l").alias("id")).agg(F.count("*").alias("c"))
    own = (
        tree.join(wcnt.hint("SHUFFLE_HASH"), "id", "left")
        .join(ccnt.hint("SHUFFLE_HASH"), "id", "left")
        .select(
            "id", "parent", "depth",
            F.coalesce("w", F.lit(0)).cast("long").alias("w"),
            F.coalesce("c", F.lit(0)).cast("long").alias("c"),
        )
        .repartition(P, "id")
        .localCheckpoint(eager=True)
    )
    layers: list[DataFrame] = []
    child_contrib: DataFrame | None = None  # keyed by parent id
    for d in range(max_depth, -1, -1):
        layer = own.where(F.col("depth") == d)
        if child_contrib is not None:
            layer = (
                layer.join(child_contrib.hint("SHUFFLE_HASH"), "id", "left")
                .select(
                    "id", "parent",
                    (F.col("w") + F.coalesce("sw", F.lit(0))).alias("sw_tot"),
                    (F.col("c") + F.coalesce("sc", F.lit(0))).alias("sc_tot"),
                )
            )
        else:
            layer = layer.select("id", "parent", F.col("w").alias("sw_tot"),
                                 F.col("c").alias("sc_tot"))
        layer = layer.repartition(P, "id").localCheckpoint(eager=True)
        layers.append(layer)
        child_contrib = (
            layer.where(F.col("parent").isNotNull())
            .groupBy(F.col("parent").alias("id"))
            .agg(F.sum("sw_tot").alias("sw"), F.sum("sc_tot").alias("sc"))
        )
    sums = layers[0].select("id", "sw_tot", "sc_tot")
    for f in layers[1:]:
        sums = sums.unionByName(f.select("id", "sw_tot", "sc_tot"))

    dcnt = (
        lca_all.select(F.col("ca").alias("id"))
        .unionByName(lca_all.where(F.col("cb").isNotNull()).select(F.col("cb").alias("id")))
        .groupBy("id").agg(F.count("*").alias("dd"))
    )
    cross = (
        sums.join(dcnt.hint("SHUFFLE_HASH"), "id", "left")
        .select(
            "id",
            (F.col("sw_tot") - 2 * F.col("sc_tot")).alias("crossing"),
            (F.col("sw_tot") - 2 * F.col("sc_tot") - F.coalesce("dd", F.lit(0))).alias("deep"),
        )
        .repartition(P, "id")
        .localCheckpoint(eager=True)
    )

    # ---- outputs ---------------------------------------------------
    nonroot = tree.where(F.col("parent").isNotNull())
    bridges = (
        nonroot.join(cross.hint("SHUFFLE_HASH"), "id")
        .where(F.col("crossing") == 0)
        .select(F.least("id", "parent").alias("src"), F.greatest("id", "parent").alias("dst"))
    )

    h_edges = (
        nt.select(F.col("a").alias("src"), F.col("b").alias("dst"))
        .unionByName(
            nonroot.join(cross.hint("SHUFFLE_HASH"), "id")
            .where(F.col("deep") > 0)
            .select(F.col("id").alias("src"), F.col("parent").alias("dst"))
        )
        .localCheckpoint(eager=True)
    )
    h_graph = None
    if h_edges.limit(1).count() == 0:
        groups = verts.select("id", F.col("id").alias("grp"))
    else:
        from linkgraph.algos.wcc import wcc as _wcc

        h_graph = Graph.from_edges(h_edges, directed=False)
        hres = _wcc(h_graph, engine=eng)
        rounds += hres.rounds
        metrics = metrics + hres.metrics
        groups = (
            verts.join(hres.state.hint("SHUFFLE_HASH"), "id", "left")
            .select("id", F.coalesce("comp", F.col("id")).alias("grp"))
        )
    groups = groups.repartition(P, "id").localCheckpoint(eager=True)
    if h_graph is not None:
        h_graph.release()  # unpersists the view its wcc built

    # cut rule (cut-point.h:138-152): non-root — any child group
    # differs from own group; root — children span >= 2 groups
    # (no collect_set: a hub's child list must never materialize on
    # one row — both tests reduce to plain aggregates)
    cg = groups.select(F.col("id").alias("_g_id"), F.col("grp").alias("_g"))
    pg = groups.select(F.col("id").alias("pid"), F.col("grp").alias("_pg"))
    child_g = (
        nonroot.select(F.col("parent").alias("pid"), "id")
        .join(cg.hint("SHUFFLE_HASH"), F.col("id") == cg["_g_id"]).drop("_g_id")
        .join(pg.hint("SHUFFLE_HASH"), "pid")
        .groupBy(F.col("pid").alias("id"))
        .agg(
            F.countDistinct("_g").alias("ncg"),
            F.max((F.col("_g") != F.col("_pg")).cast("int")).alias("any_diff"),
        )
    )
    cut_points = (
        tree.join(child_g.hint("SHUFFLE_HASH"), "id", "left")
        .select(
            "id",
            F.when(F.col("ncg").isNull(), F.lit(False))
            .when(F.col("parent").isNull(), F.col("ncg") >= 2)
            .otherwise(F.col("any_diff") == 1)
            .alias("is_cut"),
        )
    )

    bcc = groups.select("id", F.col("grp").alias("bcc"))
    for frame in anc:
        frame.unpersist()
    return BiconnectivityResult(
        tree=tree, bridges=bridges, cut_points=cut_points, bcc=bcc,
        rounds=rounds, metrics=metrics,
    )


def bridges(graph: Graph, **kw) -> DataFrame:
    """Bridge edges (src, dst), src < dst (bridge.h:107-147: tree
    edges covered by no non-tree path; non-tree edges are never
    bridges — their tree path closes a cycle)."""
    return biconnectivity(graph, **kw).bridges


def articulation_points(graph: Graph, **kw) -> DataFrame:
    """(id, is_cut) per vertex (cut-point.h:138-152)."""
    return biconnectivity(graph, **kw).cut_points


def bcc(graph: Graph, **kw) -> DataFrame:
    """(id, bcc): the reference's union-find partition (bcc.h:139),
    canonicalized to the min member id. group(v) identifies the
    biconnected component containing tree edge (v, parent v);
    bridge endpoints and forest roots are singletons."""
    return biconnectivity(graph, **kw).bcc
