"""Greedy graph coloring and fluid communities.

Semantics per the reference's Flash clustering apps:

* ``greedy_color`` — apps/flash/clustering/color.h:47-85: every vertex
  repeatedly takes the smallest non-negative color absent from its
  HIGHER-PRIORITY neighborhood, where u has priority over v iff
  (deg(u), id(u)) > (deg(v), id(v)) lexicographically (color.h's
  ``check``: s.deg > d.deg || (s.deg == d.deg && sid > did)).  The
  priority relation is a total order, so the fixpoint is unique (the
  Jones–Plassmann coloring along the degree-then-id order) and the
  synchronous iteration below converges in priority-DAG-depth rounds —
  identical output to the reference independent of execution order.

* ``fluid_community`` — apps/flash/clustering/fluid-community.h:43-105:
  s seed vertices start one community each; every round a vertex adopts
  the community with the highest density sum d[i] = Σ 1/cnt[i] over
  itself and its neighbors, switching only on a strict (+1e-10)
  improvement.  The reference seeds with rand_r(time(NULL)) and updates
  sequentially (cnt_loc mutates mid-scan), so its per-vertex output is
  run-dependent; this implementation is the deterministic synchronous
  variant — seeds are the s smallest vertex ids, cnt is frozen per
  round, and ties break toward the smallest community id — making the
  result reproducible and oracle-checkable.

Spark plan notes (100 TB shape): coloring scatters colors over a
statically ORIENTED higher→lower priority edge frame (built once) and
only re-evaluates vertices whose higher-priority neighborhood changed
(delta frontier); the mex is a JVM-side array expression over the
collected neighbor-color set (bounded by degree), never a Python UDF.
Fluid keeps the per-community size table (s rows) broadcast and does
one edges⋈state scatter + one (dst, lab) partial-aggregated sum per
round.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from linkgraph.algos.triangles import _oriented
from linkgraph.engine import SuperstepEngine, SuperstepResult, observed_count
from linkgraph.graph import Graph
from linkgraph.joins import scatter_join, state_join


def greedy_color(
    graph: Graph,
    engine: SuperstepEngine | None = None,
    max_iter: int = 10_000,
) -> SuperstepResult:
    """Returns state (id: long, color: long) — the unique greedy
    coloring along the reference's (deg desc, id desc) priority order
    (color.h:47-85). Its priority-DAG depth is data-dependent
    (near-clique communities make it deep: 59 rounds at sf0.1); a
    randomized Jones–Plassmann order measured deeper on that graph
    (71 rounds, BASELINE.md)."""
    g = graph.materialized()
    spark = g.edges.sparkSession
    eng = engine or SuperstepEngine(spark)
    P = int(spark.conf.get("spark.sql.shuffle.partitions"))

    n_edges = g.view_size(symmetric=True)
    n = g.num_vertices()

    # orient each undirected pair higher-priority -> lower-priority
    # once (triangles' (deg, id) orientation, reversed); every round's
    # messages flow down this DAG only
    low_to_high, _, verts = _oriented(g)
    oriented = (
        low_to_high.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        .repartition(P, "src")
        .persist()
    )
    oriented.count()

    # init: mex of the empty set — vertices with no higher-priority
    # neighbor are already final at color 0
    init = verts.select(
        "id", F.lit(0).cast("long").alias("color"), F.lit(True).alias("_chg")
    )

    def step(state: DataFrame, round_: int):
        # frontier and affected hold each id once: the inner scatters
        # keep the edge rows a semi-join would
        frontier = state.where(F.col("_chg")).select(F.col("id").alias("src"))
        affected = scatter_join(oriented, frontier, "src", n).select("dst").distinct()
        used = (
            scatter_join(
                scatter_join(oriented, affected, "dst", n),
                state.select(F.col("id").alias("src"), "color"),
                "src",
                n,
            )
            .groupBy(F.col("dst").alias("id"))
            .agg(F.collect_set("color").alias("used"))
            # mex: the smallest value in 0..|used| not present — the
            # pigeonhole bound keeps the candidate array tiny
            .select(
                "id",
                F.array_min(
                    F.filter(
                        F.sequence(F.lit(0).cast("long"), F.size("used").cast("long")),
                        lambda x: ~F.array_contains(F.col("used"), x),
                    )
                ).alias("cc"),
            )
        )
        new_state = state_join(state, used).select(
            "id",
            F.coalesce("cc", "color").alias("color"),
            (F.coalesce("cc", "color") != F.col("color")).alias("_chg"),
        )

        return new_state, observed_count("_chg", n_edges, key="changed")

    res = eng.run(init, step, max_rounds=max_iter)
    res.state = res.state.select("id", "color")
    oriented.unpersist()
    return res


def fluid_community(
    graph: Graph,
    n_communities: int = 8,
    max_round: int = 6,
    eps: float = 1e-10,
    engine: SuperstepEngine | None = None,
) -> SuperstepResult:
    """Returns state (id: long, lab: long) — lab is the seed vertex id
    of the adopted community, or -1 if never reached.  Fixed
    ``max_round`` synchronous rounds (fluid-community.h iter_max
    analogue); deterministic seeds = the n_communities smallest ids."""
    g = graph.materialized()
    spark = g.edges.sparkSession
    eng = engine or SuperstepEngine(spark)

    sym = g.simple_undirected()
    n_edges = g.view_size(symmetric=True)
    verts = g.deduced_vertices()
    n = g.num_vertices()

    seeds = verts.orderBy("id").limit(n_communities).select(
        "id", F.col("id").alias("lab")
    )
    init = (
        verts.join(seeds.withColumnRenamed("lab", "_s"), "id", "left")
        .select("id", F.coalesce("_s", F.lit(-1)).cast("long").alias("lab"))
    )

    def step(state: DataFrame, round_: int):
        labeled = state.where(F.col("lab") >= 0)
        # community sizes: ≤ n_communities rows
        cnt = labeled.groupBy("lab").agg(F.count("*").alias("n"))
        # density d[v][i] = |{u ∈ N(v) ∪ {v} : lab(u) = i}| / cnt[i] —
        # counted then divided ONCE, so the value is bit-identical
        # regardless of aggregation order (a float Σ(1/cnt) would not
        # be, and the argmax below compares raw doubles)
        nbr = scatter_join(
            sym, labeled.select(F.col("id").alias("src"), "lab"), "src", n
        ).select(F.col("dst").alias("id"), "lab")
        contrib = nbr.unionByName(labeled.select("id", "lab"))
        d = scatter_join(
            contrib.groupBy("id", "lab").agg(F.count("*").alias("c")), cnt, "lab", n_communities
        ).select("id", "lab", (F.col("c") / F.col("n")).alias("d"))
        # argmax with smallest-lab tie-break, plus the vertex's own
        # current density for the strict-improvement test
        best = d.groupBy("id").agg(
            F.max(F.struct(F.col("d"), (-F.col("lab")).alias("neg"))).alias("b")
        ).select("id", F.col("b.d").alias("bd"), (-F.col("b.neg")).alias("blab"))
        curd = (
            d.join(state.select("id", "lab"), ["id", "lab"])
            .select("id", F.col("d").alias("cd"))
        )
        new_state = (
            state.join(best, "id", "left")
            .join(curd, "id", "left")
            .select(
                "id",
                F.when(
                    F.col("lab") == -1,
                    F.when(F.col("bd") > eps, F.col("blab")).otherwise(F.lit(-1)),
                )
                .otherwise(
                    F.when(
                        F.col("bd") > F.coalesce(F.col("cd"), F.lit(0.0)) + eps,
                        F.col("blab"),
                    ).otherwise(F.col("lab"))
                )
                .cast("long")
                .alias("lab"),
            )
        )
        return new_state, {"halt": False, "edges_processed": n_edges}

    return eng.run(init, step, max_rounds=max_round)
