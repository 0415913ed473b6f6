"""Strongly connected components — multi-pivot forward/backward
colouring, min-label.

Transcribed semantics (NOT code) from the reference flash app
analytical_engine/apps/flash/connectivity/scc.h:28-84:

  outer loop over the still-unassigned vertex set A:
    1. fid fixpoint: every v in A starts with fid = id, then fid is
       min-propagated along FORWARD edges inside A (scc.h check1/
       update1: d.fid = min(d.fid, s.fid)) — at fixpoint fid(v) is
       the minimum id that can reach v within A.
    2. pivots: vertices with fid == id (scc.h filter2) seed scc = id —
       one pivot per colour class, and EVERY colour class runs
       simultaneously (multi-pivot, unlike scc-2.h's single
       max-degree pivot).
    3. backward sweep: along REVERSE edges inside A (scc.h check2/
       update2), a vertex with fid equal to its successor's scc label
       joins that scc — i.e. the vertices of colour c that can REACH
       the pivot c. Reached ∩ reaching = the pivot's SCC.
    4. A := vertices still unassigned (scc.h filter3); repeat.

  The final label is therefore the MINIMUM vertex id in each SCC
  (every member reaches the pivot, and nothing smaller reaches the
  pivot), which makes the output deterministic and oracle-checkable
  against a mutual-reachability SQL fixpoint.

Scale design: both inner fixpoints are delta-frontier superstep jobs
over an edge frame hash-partitioned by the scatter key and filtered
to the active set once per outer round (executed a single time, then
persisted). Every join goes through linkgraph/joins.py, bounded by the
outer round's active count; assigned components leave the active
frame, so later outer rounds touch strictly shrinking frames. Outer-round count is bounded by the depth of the condensation
DAG (each round resolves >=1 SCC per remaining colour class).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from linkgraph.engine import SuperstepEngine, SuperstepResult, observed_count
from linkgraph.graph import Graph
from linkgraph.joins import scatter_join, state_join


def scc(
    graph: Graph,
    engine: SuperstepEngine | None = None,
    max_outer: int = 100,
) -> SuperstepResult:
    """Returns state (id: long, scc: long): scc = min vertex id of the
    strongly connected component (directed; an undirected graph's SCCs
    are its connected components — use wcc for that)."""
    g = graph.materialized()
    spark = g.edges.sparkSession
    eng = engine or SuperstepEngine(spark)
    P = int(spark.conf.get("spark.sql.shuffle.partitions"))

    fwd = g.simple_directed()
    n_edges = g.view_size(symmetric=False)

    active = g.deduced_vertices().select("id").repartition(P, "id") \
                  .localCheckpoint(eager=True)
    assigned_frames: list[DataFrame] = []
    total_rounds = 0
    all_metrics: list[dict] = []

    for _outer in range(max_outer):
        n_active = active.count()
        if n_active == 0:
            break
        # restrict the edges to the active induced subgraph (active
        # holds each id once, so the inner scatters keep the rows a
        # semi-join would; one pass per outer round, then cached)
        ef = (
            scatter_join(
                scatter_join(fwd, active.withColumnRenamed("id", "src"), "src", n_active),
                active.withColumnRenamed("id", "dst"), "dst", n_active)
            .select("src", "dst")
            .repartition(P, "src")
            .persist()
        )
        ef.count()

        # ---- 1. forward min-label fixpoint (scc.h check1/update1) --
        finit = active.select("id", F.col("id").alias("fid"),
                              F.lit(True).alias("changed"))

        def fwd_step(state: DataFrame, round_: int):
            frontier = state.where(F.col("changed")).select(
                F.col("id").alias("src"), F.col("fid").alias("m"))
            cand = (
                scatter_join(ef, frontier, "src", n_active)
                .groupBy(F.col("dst").alias("id"))
                .agg(F.min("m").alias("cand"))
            )
            new_state = state_join(state, cand).select(
                "id",
                F.least("fid", F.coalesce("cand", F.col("fid"))).alias("fid"),
                (F.coalesce("cand", F.col("fid")) < F.col("fid")).alias("changed"),
            )

            return new_state, observed_count("changed", n_edges)

        fres = eng.run(finit, fwd_step, max_rounds=10_000)
        total_rounds += fres.rounds
        all_metrics.extend(fres.metrics)

        # ---- 2+3. pivots seed scc=fid==id; backward sweep ----------
        binit = fres.state.select(
            "id", "fid",
            F.when(F.col("fid") == F.col("id"), F.col("id")).alias("scc"),
            (F.col("fid") == F.col("id")).alias("changed"),
        )

        # Colour-respecting edges: any v->pivot path inside an SCC
        # stays inside the SCC, so every hop of a valid backward
        # message has equal fid at both endpoints. Filtering the edge
        # frame once per outer round (two V-row joins) means every
        # message that arrives is own-colour, so min-aggregation can
        # never discard an own-colour label in favour of a foreign one
        # (scc.h's per-edge check2: d.fid == s.scc). Kept in forward
        # orientation and hashed on dst, the backward scatter's key.
        fid_f = fres.state.select("id", "fid")
        ef_c = (
            scatter_join(
                scatter_join(ef, fid_f.select(F.col("id").alias("src"), F.col("fid").alias("_fs")),
                             "src", n_active),
                fid_f.select(F.col("id").alias("dst"), F.col("fid").alias("_fd")),
                "dst", n_active)
            .where(F.col("_fs") == F.col("_fd"))
            .select("src", "dst")
            .repartition(P, "dst")
            .persist()
        )
        ef_c.count()

        def bwd_step(state: DataFrame, round_: int):
            frontier = state.where(F.col("changed")).select(
                F.col("id").alias("dst"), F.col("scc").alias("m"))
            # backward: successors push their scc label along the
            # reversed edge to predecessors with matching colour
            cand = (
                scatter_join(ef_c, frontier, "dst", n_active)
                .groupBy(F.col("src").alias("id"))
                .agg(F.min("m").alias("cand"))
            )
            new_state = state_join(state, cand).select(
                "id", "fid",
                F.coalesce(
                    "scc",
                    F.when(F.col("cand") == F.col("fid"), F.col("fid")),
                ).alias("scc"),
                (F.col("scc").isNull() & (F.col("cand") == F.col("fid")))
                .alias("changed"),
            )

            return new_state, observed_count("changed", n_edges)

        bres = eng.run(binit, bwd_step, max_rounds=10_000)
        total_rounds += bres.rounds
        all_metrics.extend(bres.metrics)

        done = bres.state.where(F.col("scc").isNotNull()) \
                         .select("id", "scc").localCheckpoint(eager=True)
        assigned_frames.append(done)
        remaining = bres.state.where(F.col("scc").isNull()).select("id") \
                              .localCheckpoint(eager=True)
        ef.unpersist()
        ef_c.unpersist()
        active = remaining

    converged = active.isEmpty()
    # empty-graph safe seed; on max_outer exhaustion keep the
    # still-unassigned vertices visible (scc=NULL) instead of dropping
    # them, and report converged=False.
    out = spark.createDataFrame([], "id long, scc long")
    for f in assigned_frames:
        out = out.unionByName(f)
    if not converged:
        out = out.unionByName(
            active.select("id", F.lit(None).cast("long").alias("scc")))
    return SuperstepResult(state=out.select("id", F.col("scc").cast("long").alias("scc")),
                           rounds=total_rounds, converged=converged,
                           metrics=all_metrics)
