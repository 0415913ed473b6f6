"""Structural metrics: assortativity family, boundaries, directed
clustering coefficient.

Reference semantics (transcribed, NOT ported):
  * degree assortativity — apps/assortativity/
    degree_assortativity_coefficient.h:35-160: Pearson correlation of
    (source_degree, target_degree) over every edge; directed uses
    (out, in) by default, undirected uses total degree with each edge
    counted in both directions.
  * attribute assortativity — apps/assortativity/
    attribute_assortativity.h:35-95 (categorical):
    r = (Σ e_ii − Σ a_i·b_i) / (1 − Σ a_i·b_i) over the normalized
    category mixing matrix of directed edge endpoints.
  * average degree connectivity — apps/assortativity/
    average_degree_connectivity.h:35-130: k_nn(k) = Σ target_degree /
    #edges over edges whose source has degree k.
  * node/edge boundary — apps/boundary/node_boundary.h:47-86,
    edge_boundary.h: out-neighbors of S outside S (node) / edges
    leaving S (edge), optionally restricted to a target set T.
  * directed clustering — apps/clustering/clustering.h:59-267 and the
    Fagiolo formula it cites: C_d(v) = T(v) / (d_tot(d_tot−1) −
    2·d_recip) with T(v) = ½[(A+Aᵀ)³]_vv, i.e. every support
    triangle contributes the product of its three edge
    multiplicities (1 or 2) to each corner.

All are one-shot declarative plans: degree joins + aggregations, with
the triangle part reusing the degree-ordered orientation discipline
of linkgraph/algos/triangles.py (hub-bounded wedge join).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from linkgraph.graph import Graph


def _deg_frame(graph: Graph, kind: str) -> DataFrame:
    """(id, deg) for kind in {'in','out','both'} on the simple
    (deduped) directed edge set."""
    e = graph.edges.select("src", "dst").dropDuplicates(["src", "dst"])
    parts = []
    if kind in ("out", "both"):
        parts.append(e.select(F.col("src").alias("id")))
    if kind in ("in", "both"):
        parts.append(e.select(F.col("dst").alias("id")))
    ends = parts[0] if len(parts) == 1 else parts[0].unionAll(parts[1])
    d = ends.groupBy("id").agg(F.count("*").alias("deg"))
    return graph.deduced_vertices().join(d, "id", "left").select(
        "id", F.coalesce("deg", F.lit(0)).cast("double").alias("deg")
    )


def degree_assortativity(
    graph: Graph,
    directed: bool | None = None,
    source_degree: str = "out",
    target_degree: str = "in",
) -> float:
    """Pearson correlation of endpoint degrees across edges."""
    use_directed = graph.directed if directed is None else directed
    if use_directed:
        e = graph.edges.select("src", "dst").dropDuplicates(["src", "dst"])
        ds = _deg_frame(graph, source_degree)
        dt = _deg_frame(graph, target_degree)
    else:
        e = graph.simple_undirected()
        ds = dt = graph.degrees(symmetric=True).withColumnRenamed("degree", "deg")
    row = (
        e.join(ds.select(F.col("id").alias("src"), F.col("deg").alias("dx")), "src")
        .join(dt.select(F.col("id").alias("dst"), F.col("deg").alias("dy")), "dst")
        .agg(F.corr("dx", "dy").alias("r"))
        .collect()[0]
    )
    return float(row["r"]) if row["r"] is not None else float("nan")


def attribute_assortativity(graph: Graph, attr: DataFrame) -> float:
    """Categorical assortativity over directed edges; ``attr`` is
    (id, cat). r = (tr(e) − Σ a·b) / (1 − Σ a·b) on the normalized
    mixing matrix."""
    e = graph.edges.select("src", "dst").dropDuplicates(["src", "dst"])
    ca = attr.select(F.col(attr.columns[0]).alias("src"), F.col(attr.columns[1]).alias("ca"))
    cb = attr.select(F.col(attr.columns[0]).alias("dst"), F.col(attr.columns[1]).alias("cb"))
    mix = (
        e.join(ca, "src").join(cb, "dst")
        .groupBy("ca", "cb")
        .agg(F.count("*").alias("n"))
        .persist()
    )
    total = mix.agg(F.sum("n")).collect()[0][0]
    if not total:
        mix.unpersist()
        return float("nan")
    tr = (
        mix.where(F.col("ca") == F.col("cb")).agg(F.sum("n")).collect()[0][0] or 0
    ) / total
    a = mix.groupBy("ca").agg((F.sum("n") / total).alias("a"))
    b = mix.groupBy("cb").agg((F.sum("n") / total).alias("b"))
    sum_ab = (
        a.join(b, a["ca"] == b["cb"])
        .agg(F.sum(F.col("a") * F.col("b")).alias("s"))
        .collect()[0]["s"]
        or 0.0
    )
    mix.unpersist()
    if sum_ab == 1.0:
        return float("nan")
    return (tr - sum_ab) / (1.0 - sum_ab)


def average_degree_connectivity(
    graph: Graph, directed: bool | None = None
) -> DataFrame:
    """(degree, avg_nbr_degree): mean target degree over the edges
    whose source has that degree (undirected view counts each edge in
    both directions). Returns a DataFrame keyed by source degree."""
    use_directed = graph.directed if directed is None else directed
    if use_directed:
        e = graph.edges.select("src", "dst").dropDuplicates(["src", "dst"])
        ds = _deg_frame(graph, "out")
        dt = _deg_frame(graph, "in")
    else:
        e = graph.simple_undirected()
        ds = dt = graph.degrees(symmetric=True).withColumnRenamed("degree", "deg")
    return (
        e.join(ds.select(F.col("id").alias("src"), F.col("deg").alias("dx")), "src")
        .join(dt.select(F.col("id").alias("dst"), F.col("deg").alias("dy")), "dst")
        .groupBy(F.col("dx").cast("long").alias("degree"))
        .agg(F.avg("dy").alias("avg_nbr_degree"))
    )


def node_boundary(graph: Graph, s: DataFrame, t: DataFrame | None = None) -> DataFrame:
    """Vertices NOT in S with an in-edge from S (node_boundary.h:72-84);
    restricted to T when given. s/t are one-column id frames."""
    sids = s.select(F.col(s.columns[0]).alias("id"))
    out = (
        graph.edges.join(sids.withColumnRenamed("id", "src"), "src", "left_semi")
        .select(F.col("dst").alias("id"))
        .distinct()
        .join(sids, "id", "left_anti")
    )
    if t is not None:
        out = out.join(t.select(F.col(t.columns[0]).alias("id")), "id", "left_semi")
    return out


def edge_boundary(graph: Graph, s: DataFrame, t: DataFrame | None = None) -> DataFrame:
    """Edges (src, dst) with src ∈ S and dst ∉ S (∈ T when given)."""
    sids = s.select(F.col(s.columns[0]).alias("id"))
    e = (
        graph.edges.select("src", "dst")
        .join(sids.withColumnRenamed("id", "src"), "src", "left_semi")
        .join(sids.withColumnRenamed("id", "dst"), "dst", "left_anti")
    )
    if t is not None:
        e = e.join(t.select(F.col(t.columns[0]).alias("dst")), "dst", "left_semi")
    return e


def clustering_directed(graph: Graph) -> DataFrame:
    """Directed (Fagiolo) clustering coefficient per vertex:
    (id, clustering). T(v) = Σ over support triangles through v of
    the product of the three edge multiplicities B∈{1,2};
    denominator d_tot(d_tot−1) − 2·d_recip (clustering.h:258-267)."""
    g = graph.materialized()
    e = g.simple_directed()
    verts = g.deduced_vertices()
    # B multiplicities on the symmetric support
    bsym = (
        e.unionAll(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .groupBy("src", "dst")
        .agg(F.count("*").cast("double").alias("m"))
    )
    # total degree counts each directed edge once: out + in
    deg_tot = (
        e.select(F.col("src").alias("id")).unionAll(e.select(F.col("dst").alias("id")))
        .groupBy("id").agg(F.count("*").cast("double").alias("dt"))
    )
    drec = (
        bsym.where(F.col("m") == 2.0)
        .groupBy(F.col("src").alias("id"))
        .agg((F.count("*")).cast("double").alias("dr"))
    )
    # degree-ordered orientation ON THE SUPPORT graph (the simple
    # undirected view) bounds hub work
    sup_deg = g.degrees(symmetric=True).withColumnRenamed("degree", "sd")
    ori = (
        bsym.join(sup_deg.select(F.col("id").alias("src"), F.col("sd").alias("ds")), "src")
        .join(sup_deg.select(F.col("id").alias("dst"), F.col("sd").alias("dd")), "dst")
        .where(
            (F.col("ds") < F.col("dd"))
            | ((F.col("ds") == F.col("dd")) & (F.col("src") < F.col("dst")))
        )
        .select("src", "dst", "m")
    )
    a = ori.select(F.col("src").alias("x"), F.col("dst").alias("y"), F.col("m").alias("mxy"))
    b = ori.select(F.col("src").alias("y"), F.col("dst").alias("z"), F.col("m").alias("myz"))
    c = ori.select(F.col("src").alias("x"), F.col("dst").alias("z"), F.col("m").alias("mxz"))
    tri = (
        a.join(b, "y")
        .join(c, ["x", "z"])
        .select("x", "y", "z", (F.col("mxy") * F.col("myz") * F.col("mxz")).alias("t"))
    )
    corners = (
        tri.select(F.explode(F.array("x", "y", "z")).alias("id"), "t")
        .groupBy("id")
        .agg(F.sum("t").alias("t"))
    )
    out = (
        verts.join(corners, "id", "left")
        .join(deg_tot, "id", "left")
        .join(drec, "id", "left")
        .select(
            "id",
            F.coalesce("t", F.lit(0.0)).alias("t"),
            F.coalesce("dt", F.lit(0.0)).alias("dt"),
            F.coalesce("dr", F.lit(0.0)).alias("dr"),
        )
        .select(
            "id",
            F.when(
                F.col("dt") * (F.col("dt") - 1) - 2 * F.col("dr") > 0,
                F.col("t") / (F.col("dt") * (F.col("dt") - 1) - 2 * F.col("dr")),
            )
            .otherwise(0.0)
            .alias("clustering"),
        )
    )
    return out
