"""Degeneracy ordering and onion-layer ordering.

Transcribed SEMANTICS (not code) from the reference flash apps
analytical_engine/apps/flash/core/{degeneracy-ordering.h:44-113,
onion-layer-ordering.h:44-110}:

  * degeneracy ordering: compute core numbers (iterated H-index — the
    reference's inner loop is exactly the H-index update), take the
    degeneracy dg = max core, then peel in synchronized waves: round i
    removes every remaining vertex whose residual degree ≤ dg and
    stamps rank = i; removal decrements neighbours' residual degrees.
    Since the residual graph always contains a vertex of degree ≤ dg,
    every wave removes at least one vertex and every vertex is ranked.

  * onion layers: d(v) = #neighbours u with core(u) ≥ core(v); round i
    stamps layer = i on every remaining vertex with d(v) ≤ core(v) and
    decrements d only along SAME-core edges (higher-core neighbours
    are permanent, lower-core ones were never counted) — the
    per-shell peel depth, i.e. the onion decomposition.

Both are wave-synchronous peels run by the SuperstepEngine over one
vertex-state frame whose stamp column (rank / layer) is -1 until the
vertex is peeled and then the engine round: each round is one
degree-filter + one scatter-join + one groupBy decrement + one state
join, keyed joins only, so the plan is identical at 100 TB with the
state hash-partitioned by id. ``cores.kcore`` runs the same step with
limit k-1. The per-round counts ride the engine's truncation action; a
wave that removes nothing halts the run (converged=False here, since
an ordering must stamp every vertex).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from linkgraph.engine import SuperstepEngine, SuperstepResult, observed_counts
from linkgraph.graph import Graph
from linkgraph.joins import scatter_join, state_join


def _waves(edges: DataFrame, limit: F.Column, stamp: str, n: int):
    """The peel step_fn: every unstamped vertex with d <= `limit` takes
    stamp = round and decrements d of its neighbours along `edges`."""

    def step(state: DataFrame, round_: int):
        peel = (F.col(stamp) < 0) & (F.col("d") <= limit)
        dec = scatter_join(edges, state.where(peel).select(F.col("id").alias("src")), "src", n) \
            .groupBy(F.col("dst").alias("id")).agg(F.count("*").alias("dec"))
        new_state = state_join(state, dec).select(
            *[c for c in state.columns if c not in ("d", stamp)],
            (F.col("d") - F.coalesce("dec", F.lit(0))).alias("d"),
            F.when(peel, F.lit(round_)).otherwise(F.col(stamp)).alias(stamp),
        )
        return new_state, observed_counts(
            ("removed", "active"), removed=F.col(stamp) == round_, active=F.col(stamp) < 0)

    return step


def _degree_waves(graph: Graph, limit: F.Column, stamp: str,
                  engine: SuperstepEngine | None, max_rounds: int) -> SuperstepResult:
    """Peel the simple undirected view of the cut of `graph` from its
    vertex degrees: the engine state is (id, d, stamp), stamp -1 until
    the wave that removes the vertex."""
    g = graph.materialized()
    spark = g.edges.sparkSession
    eng = engine or SuperstepEngine(spark)
    init = g.degrees(symmetric=True).select(
        "id", F.col("degree").alias("d"), F.lit(-1).cast("long").alias(stamp))
    return eng.run(init, _waves(g.simple_undirected(), limit, stamp, g.num_vertices()),
                   max_rounds=max_rounds)


def _peeled(result: SuperstepResult, stamp: str) -> SuperstepResult:
    # converged=False ⇔ some vertex carries stamp -1 (max_rounds hit, or
    # a stale caller-supplied shell made a wave remove nothing)
    result.converged = result.converged and result.last["active"] == 0
    result.state = result.state.select("id", stamp)
    return result


def degeneracy_ordering(
    graph: Graph,
    shell: DataFrame | None = None,
    max_rounds: int = 10_000,
) -> SuperstepResult:
    """Wave-synchronous degeneracy ordering
    (core/degeneracy-ordering.h:44-113). Returns state
    (id: long, rank: long) — the peel wave in which the vertex was
    removed (rank 0 = lowest-degree periphery)."""
    from linkgraph.algos.cores import kshell

    g = graph.materialized()
    sh = shell if shell is not None else kshell(g).state
    dg = sh.agg(F.max("shell").alias("m")).collect()[0]["m"] or 0
    return _peeled(_degree_waves(g, F.lit(dg), "rank", None, max_rounds), "rank")


def onion_layers(
    graph: Graph,
    shell: DataFrame | None = None,
    max_rounds: int = 10_000,
) -> SuperstepResult:
    """Onion-layer ordering (core/onion-layer-ordering.h:44-110).
    Returns state (id: long, layer: long)."""
    from linkgraph.algos.cores import kshell

    g = graph.materialized()
    spark = g.edges.sparkSession
    P = int(spark.conf.get("spark.sql.shuffle.partitions"))

    sh = (shell if shell is not None else kshell(g).state).select(
        "id", F.col("shell").cast("long").alias("core"))
    # edge frame annotated with both endpoint cores, persisted once
    ec = (
        g.simple_undirected()
        .join(sh.select(F.col("id").alias("src"), F.col("core").alias("cs")), "src")
        .join(sh.select(F.col("id").alias("dst"), F.col("core").alias("cd")), "dst")
        .repartition(P, "src")
        .persist()
    )
    ec.count()
    # d(v) = #neighbours with core >= core(v); a peeled vertex decrements
    # d only along same-core edges
    d0 = (
        ec.where(F.col("cd") >= F.col("cs"))
        .groupBy(F.col("src").alias("id"))
        .agg(F.count("*").alias("d"))
    )
    init = (
        g.deduced_vertices().join(sh, "id", "left")
        .join(d0.hint("SHUFFLE_HASH"), "id", "left")
        .select("id", "core", F.coalesce("d", F.lit(0)).cast("long").alias("d"),
                F.lit(-1).cast("long").alias("layer"))
    )
    eng = SuperstepEngine(spark)
    same_core = ec.where(F.col("cs") == F.col("cd"))
    result = _peeled(eng.run(init, _waves(same_core, F.col("core"), "layer", g.num_vertices()),
                             max_rounds=max_rounds), "layer")
    ec.unpersist()
    return result
