"""Matching-family greedy set problems: maximal independent set,
maximal matching, minimal dominating set, minimal vertex cover.

Transcribed SEMANTICS (not code) from the reference flash apps
analytical_engine/apps/flash/matching/{mis.h:42-83, mm.h:43-76,
min-dominating-set.h:45-97, min-cover.h:43-116}. All are deterministic
rounds-to-fixpoint greedy algorithms driven by id/degree priorities,
which makes them oracle-checkable (the reference's results are
likewise deterministic — priorities break every tie by vertex id):

  * MIS (mis.h): priority r(v) = deg(v)·n + id, SMALLER wins
    (low-degree-first). Per round, every still-undecided vertex that
    is a strict local minimum of r among undecided neighbours joins
    the set; its neighbours become dominated; repeat until no
    undecided vertices remain.
  * Maximal matching (mm.h): per round every unmatched vertex points
    at its MAX unmatched neighbour id; mutually-pointing pairs match;
    repeat until no new pairs.
  * Min dominating set (min-dominating-set.h): greedy by residual
    degree. Per round each active vertex takes the max (residual
    degree, id) over its closed undominated 1-hop neighbourhood,
    TWICE (= a 2-hop argmax, the reference applies its `local` map
    two times); vertices that are their own 2-hop argmax enter the
    set and dominate themselves + neighbours; residual degrees are
    recomputed over the undominated graph.

Scale design: every loop is a SuperstepEngine run over ONE vertex-state
frame that carries a status column (undecided / in the set / dominated,
a partner id, a cover flag); a round is scatter-join → groupBy-agg →
state join over a static symmetrized edge frame partitioned by src, the
per-round counts ride the engine's truncation action (engine.Observed),
and the result is a projection of the final state. Round counts are
data-dependent but small in practice (local argmin/argmax selection
decides a constant fraction of the frontier per round); callers gate
them via the returned `rounds`.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from linkgraph.engine import SuperstepEngine, SuperstepResult, observed_counts
from linkgraph.graph import Graph
from linkgraph.joins import scatter_join, state_join

# vertex status `st` of the mis / min_dominating_set state
OPEN, IN_SET, DOMINATED = 0, 1, 2


def _closed(g: Graph) -> DataFrame:
    """Closed neighbourhoods as (src, dst): the simple undirected edges
    plus one self-loop per vertex, so one scatter reaches a vertex and
    its neighbours and each derived frame is read once per round.
    Persisted; the first round that reads it stores it."""
    loops = g.deduced_vertices().select(F.col("id").alias("src"), F.col("id").alias("dst"))
    P = int(g.edges.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    return g.simple_undirected().unionByName(loops).repartition(P, "src").persist()


def _settle(state: DataFrame, closed: DataFrame, sel: DataFrame, n: int) -> DataFrame:
    """`state` with the `sel` ids (a one-column `id` frame of OPEN
    vertices) moved IN_SET and their other OPEN neighbours DOMINATED."""
    marks = (
        scatter_join(closed, sel.select(F.col("id").alias("src")), "src", n)
        .groupBy(F.col("dst").alias("id"))
        .agg(F.min(F.when(F.col("src") == F.col("dst"), IN_SET).otherwise(DOMINATED)).alias("mark"))
    )
    return state_join(state, marks).withColumn(
        "st",
        F.when((F.col("st") == OPEN) & F.col("mark").isNotNull(), F.col("mark"))
        .otherwise(F.col("st")),
    ).drop("mark")


def _set_counts(open_key: str):
    """Observed OPEN / IN_SET counts; halts once no vertex is OPEN."""
    return observed_counts(
        (open_key,), **{open_key: F.col("st") == OPEN, "in_set": F.col("st") == IN_SET}
    )


def mis(
    graph: Graph,
    engine: SuperstepEngine | None = None,
    max_rounds: int = 10_000,
) -> SuperstepResult:
    """Maximal independent set (mis.h:47-82). Returns state
    (id: long, in_mis: boolean) for every vertex; greedy by
    r = deg·n + id, min-r local minima join per round."""
    g = graph.materialized()
    spark = g.edges.sparkSession
    eng = engine or SuperstepEngine(spark)
    closed = _closed(g)
    n = g.num_vertices()

    # priority r(v) = (deg, id) compared LEXICOGRAPHICALLY: a strict
    # total order for arbitrary long ids (the reference's deg·n + id
    # arithmetic assumes ids dense in [0, n) — with sparse ids two
    # adjacent vertices can tie and neither is ever a strict local
    # minimum, stalling the greedy loop).
    init = g.degrees(symmetric=True).select(
        "id", F.struct(F.col("degree").alias("d"), F.col("id").alias("i")).alias("r"),
        F.lit(OPEN).alias("st"))

    def step(state: DataFrame, round_: int):
        undecided = state.where(F.col("st") == OPEN)
        # min priority over the undecided closed neighbourhood; r is
        # unique, so nm == r marks a strict local minimum
        nbrmin = (
            scatter_join(closed, undecided.select(F.col("id").alias("src"), F.col("r").alias("nr")),
                         "src", n)
            .groupBy(F.col("dst").alias("id"))
            .agg(F.min("nr").alias("nm"))
        )
        sel = state_join(undecided, nbrmin, how="inner") \
            .where(F.col("nm") == F.col("r")).select("id")
        return _settle(state, closed, sel, n), _set_counts("undecided")

    result = eng.run(init, step, max_rounds=max_rounds)
    result.state = result.state.select("id", (F.col("st") == IN_SET).alias("in_mis"))
    closed.unpersist()
    return result


def maximal_matching(
    graph: Graph,
    engine: SuperstepEngine | None = None,
    max_rounds: int = 10_000,
) -> SuperstepResult:
    """Maximal matching (mm.h:48-75). Returns state (id: long,
    match: long) — partner id, or -1 unmatched. Mutual-max-id pairs
    match each round."""
    g = graph.materialized()
    spark = g.edges.sparkSession
    eng = engine or SuperstepEngine(spark)
    edges = g.simple_undirected()
    n = g.num_vertices()

    # `new` marks the vertices matched in the round that wrote the state
    init = g.deduced_vertices().select("id", F.lit(-1).cast("long").alias("match"),
                                       F.lit(False).alias("new"))

    def step(state: DataFrame, round_: int):
        # p(v) = max unmatched neighbour id; only unmatched vertices
        # send, so both ends of a mutual pair p(u)=v, p(v)=u are unmatched
        free = state.where(F.col("match") < 0).select(F.col("id").alias("src"))
        p = scatter_join(edges, free, "src", n) \
            .groupBy(F.col("dst").alias("id")).agg(F.max("src").alias("p"))
        mates = (
            p.join(p.select(F.col("id").alias("p"), F.col("p").alias("back")), "p")
            .where(F.col("back") == F.col("id"))
            .select("id", F.col("p").alias("mate"))
        )
        new_state = state_join(state, mates).select(
            "id", F.coalesce("mate", "match").alias("match"),
            F.col("mate").isNotNull().alias("new"),
        )
        return new_state, observed_counts(
            ("pairs", "unmatched"),
            pairs=F.col("new") & (F.col("id") < F.col("match")),
            unmatched=F.col("match") < 0,
        )

    result = eng.run(init, step, max_rounds=max_rounds)
    result.state = result.state.select("id", "match")
    return result


def min_dominating_set(
    graph: Graph,
    engine: SuperstepEngine | None = None,
    max_rounds: int = 10_000,
) -> SuperstepResult:
    """Greedy minimal dominating set (min-dominating-set.h:50-96).
    Returns state (id: long, in_mds: boolean). Per round the active
    (= undominated) vertices take the lexicographic max of (residual
    degree, id) over the closed undominated neighbourhood twice (the
    reference's double `local` = 2-hop argmax); self-argmax vertices
    join and dominate their neighbourhood."""
    g = graph.materialized()
    spark = g.edges.sparkSession
    eng = engine or SuperstepEngine(spark)
    closed = _closed(g)
    n = g.num_vertices()
    init = g.deduced_vertices().select("id", F.lit(OPEN).alias("st"))

    def step(state: DataFrame, round_: int):
        active = state.where(F.col("st") == OPEN).select("id")

        def gather(msgs: DataFrame, agg) -> DataFrame:
            """(id, m): `agg` of the messages (src, m) over each active
            vertex's closed active neighbourhood."""
            got = scatter_join(closed, msgs, "src", n) \
                .groupBy(F.col("dst").alias("id")).agg(agg.alias("m"))
            return state_join(active, got, how="inner")

        # residual degree = undominated neighbours of an undominated vertex
        cnt = gather(active.select(F.col("id").alias("src"), F.lit(1).alias("m")), F.count("*") - 1)
        own = cnt.select(F.col("id").alias("src"),
                         F.struct(F.col("m").alias("cnt"), F.col("id").alias("mid")).alias("m"))
        # two hop-max applications = the reference's double `local`
        # (a 2-hop argmax of (residual degree, id))
        hop1 = gather(own, F.max("m"))
        top = gather(hop1.select(F.col("id").alias("src"), "m"), F.max("m"))
        sel = top.where(F.col("m.mid") == F.col("id")).select("id")
        return _settle(state, closed, sel, n), _set_counts("undominated")

    result = eng.run(init, step, max_rounds=max_rounds)
    result.state = result.state.select("id", (F.col("st") == IN_SET).alias("in_mds"))
    closed.unpersist()
    return result


def min_vertex_cover(
    graph: Graph,
    max_rounds: int = 10_000,
) -> SuperstepResult:
    """Greedy 2-phase minimal vertex cover (min-cover.h:43-116).
    Returns state (id: long, in_cover: boolean).

    Phase 1 (log-threshold greedy): round i admits every still-
    uncovered vertex whose RESIDUAL degree (edges to non-cover
    vertices) is ≥ nowd, with nowd = n/2 halving each round; admitted
    vertices' edges are charged off neighbours' residual degrees.
    Terminates in ≤ log2(n)+2 rounds (nowd hits 0 and sweeps the
    rest). Phase 2 (redundancy refinement): a cover vertex whose
    neighbourhood is fully covered is redundant; each round drops the
    redundant vertices that have no higher-id redundant neighbour
    (so two adjacent redundant vertices are never dropped together),
    until a round drops none. The two phases are two engine runs
    sharing one `max_rounds` budget and one round numbering."""
    g = graph.materialized()
    spark = g.edges.sparkSession
    eng = SuperstepEngine(spark)
    edges = g.simple_undirected()
    n = g.num_vertices()

    # d = residual degree; active = not in the cover with d > 0
    init = g.degrees(symmetric=True).select("id", F.col("degree").alias("d"), F.lit(False).alias("c"))
    active = ~F.col("c") & (F.col("d") > 0)

    def admit(state: DataFrame, round_: int):
        nowd = (n // 2) >> round_
        sel = active & (F.col("d") >= nowd)
        # charge the admitted vertices' edges off neighbours' residual degree
        dec = scatter_join(edges, state.where(sel).select(F.col("id").alias("src")), "src", n) \
            .groupBy(F.col("dst").alias("id")).agg(F.count("*").alias("dec"))
        new_state = state_join(state, dec).select(
            "id", (F.col("d") - F.coalesce("dec", F.lit(0))).alias("d"),
            (F.col("c") | sel).alias("c"))
        return new_state, observed_counts(("active",), {"phase": 1, "nowd": nowd},
                                          active=active, cover=F.col("c"))

    def refine(state: DataFrame, round_: int):
        # redundant = cover vertices with no uncovered neighbour
        uncov = state.where(~F.col("c")).select(F.col("id").alias("src"))
        has_uncov = scatter_join(edges, uncov, "src", n).select(F.col("dst").alias("id")).distinct()
        redundant = state_join(state.where(F.col("c")).select("id"), has_uncov, how="left_anti")
        # drop the redundant vertices with no higher-id redundant neighbour
        higher = (
            scatter_join(edges, redundant.select(F.col("id").alias("src")), "src", n)
            .where(F.col("src") > F.col("dst"))
            .select(F.col("dst").alias("id"))
            .distinct()
        )
        drop = state_join(redundant, higher, how="left_anti").withColumn("dropped", F.lit(True))
        new_state = state_join(state.select("id", "c"), drop).select(
            "id", (F.col("c") & F.col("dropped").isNull()).alias("c"),
            F.col("dropped").isNotNull().alias("dropped"))
        return new_state, observed_counts(("dropped",), {"phase": 2},
                                          dropped=F.col("dropped"), cover=F.col("c"))

    admitted = eng.run(init, admit, max_rounds=max_rounds)
    refined = eng.run(admitted.state.select("id", "c"), refine, max_rounds=max_rounds,
                      start_round=admitted.rounds)
    return SuperstepResult(
        state=refined.state.select("id", F.col("c").alias("in_cover")),
        rounds=admitted.rounds + refined.rounds,
        converged=admitted.converged and refined.converged,
        metrics=admitted.metrics + refined.metrics,
    )


def min_edge_cover_size(graph: Graph, matching: SuperstepResult | None = None) -> int:
    """Minimal edge-cover SIZE (min-edge-cover.h:43-105): a maximal
    matching covers its 2|M| endpoints with |M| edges; every other
    non-isolated vertex takes one arbitrary incident edge — total
    |M| + (n_nonisolated − 2|M|) = n_nonisolated − |M|, exactly the
    reference's VSize(matched)/2 + VSize(unmatched ∧ deg>0) count."""
    mm = matching if matching is not None else maximal_matching(graph)
    noniso = graph.simple_undirected().select("src").distinct().count()
    n_matched = mm.state.where(F.col("match") >= 0).count()
    return noniso - n_matched // 2
