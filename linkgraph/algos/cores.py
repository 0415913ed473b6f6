"""k-core and k-shell decomposition.

Semantics per analytical_engine/apps/kcore/kcore.h (iterative
degree-prune: repeatedly delete vertices with degree < k on the
undirected simple graph; survivors form the k-core) and
apps/kshell/kshell.h (shell index = largest k whose k-core contains
the vertex).

The prune loop is a frontier job: each round removes vertices whose
remaining degree dropped below k; only neighbors of removed vertices
need their degree re-checked. Implemented dense (full recount per
round) — the recount is one groupBy over the shrinking edge set, and
AQE coalesces as it shrinks."""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from linkgraph.engine import Observed, SuperstepEngine, SuperstepResult, observed_count
from linkgraph.graph import Graph


def kcore(
    graph: Graph,
    k: int,
    engine: SuperstepEngine | None = None,
    max_iter: int = 10_000,
) -> SuperstepResult:
    """Returns state (id: long, in_core: boolean) — membership of the
    k-core (vertices with no incident edge are never in a k≥1 core)."""
    g = graph.materialized()
    spark = g.edges.sparkSession
    eng = engine or SuperstepEngine(spark)

    all_verts = g.deduced_vertices()
    edges0 = g.simple_undirected()
    n_edges = edges0.count()

    # state: surviving vertex set (id); edges induced on it each round
    init = all_verts.select("id")
    edge_box = {"e": edges0}

    def step(state: DataFrame, round_: int):
        e = edge_box["e"]
        deg = e.groupBy(F.col("src").alias("id")).agg(F.count("*").alias("d"))
        keep = deg.where(F.col("d") >= k).select("id")
        survivors = state.join(keep, "id", "left_semi")
        removed = state.count() - survivors.count()
        if removed > 0:
            new_e = (
                e.join(survivors.withColumnRenamed("id", "src"), "src", "left_semi")
                .join(survivors.withColumnRenamed("id", "dst"), "dst", "left_semi")
                .select("src", "dst")
                .persist()
            )
            new_e.count()
            if edge_box["e"] is not edges0:
                edge_box["e"].unpersist()
            edge_box["e"] = new_e
        return survivors, {
            "halt": removed == 0,
            "removed": int(removed),
            "edges_processed": n_edges,
        }

    result = eng.run(init, step, max_rounds=max_iter)
    core_ids = result.state
    result.state = all_verts.join(
        core_ids.select("id", F.lit(True).alias("in_core")), "id", "left"
    ).select("id", F.coalesce("in_core", F.lit(False)).alias("in_core"))
    if edge_box["e"] is not edges0:
        edge_box["e"].unpersist()
    return result


def kshell(
    graph: Graph,
    engine: "SuperstepEngine | None" = None,
    max_iter: int = 10_000,
):
    """Shell (core) number per vertex: (id: long, shell: long) — the
    largest k such that the vertex is in the k-core. Returns a
    SuperstepResult whose state is that frame.

    Algorithm: iterated H-index fixpoint (Lu/Chen/Zhou/Stanley 2016):
    h_0(v) = deg(v); h_{t+1}(v) = H-index of the neighbors' h_t values
    (the largest k with >= k neighbors whose h >= k); the fixpoint is
    exactly the core number — the same output as the reference's
    incremental peel (apps/kshell/kshell.h:45-135) but in O(rounds)
    synchronized supersteps instead of O(max_core * depth) sequential
    removal waves, which is the form that survives on Spark (each
    round = one join + one histogram + one running-sum window over the
    per-vertex DISTINCT h values — bounded by sqrt(2|E|) per vertex,
    far below raw degree, so the window carries no hub-row skew).
    """
    from linkgraph.engine import SuperstepEngine
    from pyspark.sql.window import Window

    g = graph.materialized()
    spark = g.edges.sparkSession
    eng = engine or SuperstepEngine(spark)
    P = int(spark.conf.get("spark.sql.shuffle.partitions"))
    edges = g.simple_undirected()
    n_edges = edges.count()
    verts = g.deduced_vertices()

    deg = edges.groupBy(F.col("src").alias("id")).agg(F.count("*").alias("d"))
    init = (
        verts.join(deg, "id", "left")
        .select("id", F.coalesce("d", F.lit(0)).cast("long").alias("h"))
        .repartition(P, "id")
    )
    n_verts = verts.count()

    # H-index values are monotone non-increasing and h(v) can only move
    # when some neighbor's h moved, so late rounds (the long tail of the
    # 30-40 round fixpoint) need to recompute only vertices with a
    # changed neighbor. Dense/sparse switch mirrors wcc's V/50 rule; the
    # previous round's changed count reaches the step via the Observed
    # finalize closure (driver-side, no extra job).
    box: dict = {"changed": None}

    def step(state, round_):
        chg = box["changed"]
        sparse = chg is not None and chg < max(1, n_verts // 50)
        prev = state.drop("_chg")
        if sparse:
            moved = state.where(F.col("_chg")).select(F.col("id").alias("dst"))
            affected = (
                edges.join(moved.hint("SHUFFLE_HASH"), "dst", "left_semi")
                .select("src")
                .distinct()
            )
            sub = edges.join(affected.hint("SHUFFLE_HASH"), "src", "left_semi")
        else:
            sub = edges
        nbrh = sub.join(
            prev.select(F.col("id").alias("dst"), "h").hint("SHUFFLE_HASH"), "dst"
        ).select(F.col("src").alias("id"), "h")
        hist = nbrh.groupBy("id", "h").agg(F.count("*").alias("c"))
        w = (
            Window.partitionBy("id")
            .orderBy(F.col("h").desc())
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        hn = (
            hist.withColumn("cum", F.sum("c").over(w))
            .groupBy("id")
            .agg(F.max(F.least(F.col("h"), F.col("cum"))).alias("hn"))
        )
        # missing hn = isolated (dense, h already 0) or unaffected
        # (sparse) — keep the old value in both cases
        new_state = (
            prev.join(hn.hint("SHUFFLE_HASH"), "id", "left")
            .select(
                "id",
                F.coalesce("hn", F.col("h")).cast("long").alias("h"),
                (F.coalesce("hn", F.col("h")) != F.col("h")).alias("_chg"),
            )
        )

        base = observed_count(
            "_chg", n_edges, key="changed", extra={"sparse": sparse}
        )

        def to_metrics(agg, _inner=base.to_metrics):
            m = _inner(agg)
            box["changed"] = m["changed"]
            return m

        return new_state, Observed(exprs=base.exprs, to_metrics=to_metrics)

    result = eng.run(init, step, max_rounds=max_iter)
    result.state = result.state.select("id", F.col("h").alias("shell"))
    return result


def k_core_search(
    graph: Graph,
    k: int,
    engine: SuperstepEngine | None = None,
    max_iter: int = 10_000,
) -> SuperstepResult:
    """k-core membership via the reference's PUSH-DECREMENT wave
    (flash/core/k-core-search.h:48-64): instead of recounting induced
    degrees (kcore() above, kcore.h semantics), each newly-removed
    vertex scatters a -1 to every still-alive neighbor exactly once,
    and only receivers that drop below k join the next removal wave.
    Same fixpoint as kcore(), different engine path: the per-round
    scatter touches only the frontier's incident edges, so late waves
    cost O(frontier edges), not O(remaining edges).

    Returns state (id: long, in_kcore: boolean); the final metrics row
    carries kcore_size (k-core-search.h's GlobalRes)."""
    g = graph.materialized()
    spark = g.edges.sparkSession
    eng = engine or SuperstepEngine(spark)
    P = int(spark.conf.get("spark.sql.shuffle.partitions"))

    edges = g.simple_undirected()
    n_edges = edges.count()
    verts = g.deduced_vertices()
    deg = edges.groupBy(F.col("src").alias("id")).agg(F.count("*").alias("d"))

    init = (
        verts.join(deg, "id", "left")
        .select(
            "id",
            F.coalesce("d", F.lit(0)).cast("long").alias("d"),
            F.lit(True).alias("alive"),
        )
        .repartition(P, "id")
    )

    def step(state: DataFrame, round_: int):
        removed = state.where(F.col("alive") & (F.col("d") < k)).select(
            F.col("id").alias("src")
        )
        dec = (
            edges.join(removed.hint("SHUFFLE_HASH"), "src", "left_semi")
            .groupBy(F.col("dst").alias("id"))
            .agg(F.count("*").alias("dec"))
        )
        new_state = (
            state.join(dec.hint("SHUFFLE_HASH"), "id", "left")
            .select(
                "id",
                (F.col("d") - F.coalesce("dec", F.lit(0))).alias("d"),
                (F.col("alive") & (F.col("d") >= k)).alias("alive"),
            )
        )

        def to_metrics(row: dict) -> dict:
            return {
                "halt": (row["nxt"] or 0) == 0,
                "next_wave": int(row["nxt"] or 0),
                "kcore_size": int(row["alive_n"] or 0),
                "edges_processed": n_edges,
            }

        return new_state, Observed(
            exprs=[
                F.sum((F.col("alive") & (F.col("d") < k)).cast("long")).alias("nxt"),
                F.sum(F.col("alive").cast("long")).alias("alive_n"),
            ],
            to_metrics=to_metrics,
        )

    result = eng.run(init, step, max_rounds=max_iter)
    result.state = result.state.select("id", F.col("alive").alias("in_kcore"))
    return result
