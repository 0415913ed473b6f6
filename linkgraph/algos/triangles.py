"""Triangle counting, local clustering coefficient, transitivity.

Semantics from analytical_engine/apps/clustering/triangles.h:43-158
(per-vertex counts on the undirected simple graph) and
apps/clustering/clustering.h / transitivity.h / avg_clustering.h:
the degree-ordered orientation — keep neighbor u of v only if
(deg(u), id(u)) < (deg(v), id(v)) — bounds hub work exactly as the
reference does (triangles.h:70-94; SURVEY.md §4.3 names this the skew
mitigation to reuse verbatim).

Spark plan (one-shot, not iterative):
  1. degrees via groupBy.count
  2. orient edges by (deg, id)            — every triangle appears
     exactly once as x→y, y→z, x→z with (x<y<z) in the (deg,id) order
  3. wedge self-join + closing semijoin-style join
  4. per-corner explode + groupBy(id).count for per-vertex counts
AQE handles residual skew on the wedge join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from linkgraph.graph import Graph
from linkgraph.joins import BROADCAST_THRESHOLD_ROWS


def _oriented(graph: Graph):
    """Undirected simple edge set oriented by (deg, id); returns
    (oriented_edges(src,dst), degrees(id,degree), vertices(id)). A
    plan over the graph's stored undirected view and its stored degree
    frame (0 for an isolated vertex): nothing here is persisted, so a
    caller keeps no cached frame of its own."""
    g = graph.materialized()
    und = g.simple_undirected()
    deg = g.degrees(symmetric=True)
    e = (
        und.join(deg.select(F.col("id").alias("src"), F.col("degree").alias("ds")), "src")
        .join(deg.select(F.col("id").alias("dst"), F.col("degree").alias("dd")), "dst")
        .where(
            (F.col("ds") < F.col("dd"))
            | ((F.col("ds") == F.col("dd")) & (F.col("src") < F.col("dst")))
        )
        .select("src", "dst")
    )
    # A stored frame keeps no key uniqueness, so the planner sizes each
    # degree join as the product of its sides and would shuffle the
    # corner joins over e however small e is. e holds half the view's
    # kept row count: broadcast it under the scatter's row threshold.
    if g.view_size(True) // 2 <= BROADCAST_THRESHOLD_ROWS:
        e = F.broadcast(e)
    return e, deg, g.deduced_vertices()


def _corners_from(e: DataFrame) -> DataFrame:
    """Triangles (x, y, z) from an already-oriented edge frame."""
    a = e.select(F.col("src").alias("x"), F.col("dst").alias("y"))
    b = e.select(F.col("src").alias("y"), F.col("dst").alias("z"))
    c = e.select(F.col("src").alias("x"), F.col("dst").alias("z"))
    return a.join(b, "y").join(c, ["x", "z"]).select("x", "y", "z")


def triangle_corners(graph: Graph, oriented=None) -> DataFrame:
    """All triangles as (x, y, z) rows, each triangle exactly once.
    Pass a precomputed ``_oriented(graph)`` tuple to avoid rebuilding
    the degree-ordered orientation plan (lcc/transitivity/avg share it)."""
    e, _, _ = oriented or _oriented(graph)
    return _corners_from(e)


def triangles(graph: Graph, oriented=None) -> DataFrame:
    """Per-vertex triangle counts: (id: long, tri: long); vertices in
    no triangle get 0 (matches the reference's context output)."""
    ori = oriented or _oriented(graph)
    _, _, verts = ori
    corners = (
        triangle_corners(graph, oriented=ori)
        .select(F.explode(F.array("x", "y", "z")).alias("id"))
        .groupBy("id")
        .agg(F.count("*").alias("tri"))
    )
    return verts.join(corners, "id", "left").select(
        "id", F.coalesce("tri", F.lit(0)).cast("long").alias("tri")
    )


def triangle_count(graph: Graph) -> int:
    """Global triangle count (each triangle once)."""
    return triangle_corners(graph).count()


def lcc(graph: Graph) -> DataFrame:
    """Local clustering coefficient (LDBC LCC semantics, undirected):
    lcc(v) = 2*tri(v) / (deg(v)*(deg(v)-1)), 0 when deg < 2.
    Returns (id, lcc: double). The corner join and the degree join
    share one orientation plan over the stored undirected view."""
    ori = _oriented(graph)
    _, deg, verts = ori
    tri = triangles(graph, oriented=ori)
    return (
        verts.join(tri, "id", "left")
        .join(deg, "id", "left")
        .select(
            "id",
            F.when(
                F.coalesce("degree", F.lit(0)) >= 2,
                2.0 * F.coalesce("tri", F.lit(0)) / (F.col("degree") * (F.col("degree") - 1)),
            )
            .otherwise(0.0)
            .alias("lcc"),
        )
    )


def transitivity(graph: Graph) -> float:
    """Global transitivity = 3*triangles / wedges
    (apps/clustering/transitivity.h)."""
    e, deg, _ = _oriented(graph)
    tri_total = _corners_from(e).count()
    wedges = deg.agg(
        F.sum(F.col("degree") * (F.col("degree") - 1) / 2).alias("w")
    ).collect()[0]["w"]
    return 0.0 if not wedges else 3.0 * tri_total / float(wedges)


def avg_clustering(graph: Graph) -> float:
    """Average of per-vertex clustering coefficients
    (apps/clustering/avg_clustering.h)."""
    row = lcc(graph).agg(F.avg("lcc").alias("a")).collect()[0]
    return float(row["a"] or 0.0)
