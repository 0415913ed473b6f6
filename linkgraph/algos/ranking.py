"""VoteRank seed selection.

Transcribed semantics (NOT ported) from analytical_engine/apps/
voterank/voterank.h:58-200 (networkx-compatible voterank):

  * every vertex starts with voting ability 1; score(u) = Σ voting
    ability of u's neighbors (outgoing adjacency; undirected = all);
  * per round the max-score vertex is ELECTED (rank = round), its
    ability zeroed, and each of its neighbors loses 1/avg_degree of
    ability (floored at 0), where avg_degree = |E|/|V| over the
    traversed adjacency (voterank.h:96-101);
  * stop when the best score is ~0 (voterank.h:178-180) or after
    num_of_nodes rounds; ties broken deterministically by MIN vertex
    id (the reference hashes ids — nondeterministic across runs).

Exact arithmetic: abilities are kept as INTEGERS in units of 1/E
(initial E, decrement n, floor 0), so scores are order-independent
integer sums and the per-round argmax is bit-identical in the DuckDB
oracle — no float-summation tie ambiguity. The reference's EPS stop
(score < 1e-8) becomes score_int < 1.

Execution: one E-row aggregation + one 1-row collect per election
round; the weight update touches only the elected vertex's neighbor
list (broadcast semi-join). num_seeds rounds total — VoteRank is
inherently sequential in the number of seeds, like the reference.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from linkgraph.graph import Graph


def voterank(
    graph: Graph,
    num_seeds: int = 10,
    directed: bool | None = None,
) -> DataFrame:
    """Returns the elected seeds: (id: long, vote_rank: long),
    vote_rank = 1-based election round."""
    g = graph.materialized()
    spark = g.edges.sparkSession
    P = int(spark.conf.get("spark.sql.shuffle.partitions"))
    use_directed = g.directed if directed is None else directed
    # every election joins the abilities on dst: key the view that way
    # (stored by the first election that reads it)
    e = g.edge_view(symmetric=not use_directed).repartition(P, "dst").persist()
    n_edges = g.view_size(symmetric=not use_directed)
    verts = g.deduced_vertices()
    n = g.num_vertices()
    if n == 0 or n_edges == 0:
        e.unpersist()
        return verts.select("id", F.lit(0).cast("long").alias("vote_rank")).limit(0)

    # integer abilities in units of 1/n_edges: start E, decrement n.
    # localCheckpoint (not persist) each round: persist caches the
    # data but Catalyst still re-analyzes the whole nested logical
    # plan, which grows per election and turns round 13 into 90s —
    # the same per-round plan-truncation discipline as engine.py.
    w = verts.select("id", F.lit(int(n_edges)).cast("long").alias("wi")).localCheckpoint(
        eager=True
    )
    elected: list[tuple[int, int]] = []
    elected_ids: set[int] = set()
    for rnd in range(1, num_seeds + 1):
        scores = (
            e.join(w.withColumnRenamed("id", "dst").hint("SHUFFLE_HASH"), "dst")
            .groupBy(F.col("src").alias("id"))
            .agg(F.sum("wi").alias("s"))
        )
        if elected_ids:
            # anti-join vs a tiny broadcast frame, not a growing isin
            # literal: the plan stays one join regardless of how many
            # seeds have been elected (isin's expression tree grows
            # per round and re-analyzes O(seeds) deep)
            done = spark.createDataFrame(
                [(int(i),) for i in elected_ids], "id long"
            )
            scores = scores.join(F.broadcast(done), "id", "left_anti")
        top = scores.agg(
            F.max(F.struct(F.col("s"), (-F.col("id")).alias("negid"))).alias("b")
        ).collect()[0]["b"]
        if top is None or top["s"] < 1:  # integer EPS: best score is 0
            break
        win = int(-top["negid"])
        elected.append((win, rnd))
        elected_ids.add(win)
        nbrs = e.where(F.col("src") == win).select(F.col("dst").alias("id"))
        neww = (
            w.join(nbrs.withColumn("hit", F.lit(1)).hint("SHUFFLE_HASH"), "id", "left")
            .select(
                "id",
                F.when(F.col("id") == win, F.lit(0).cast("long"))
                .when(
                    F.col("hit").isNotNull(),
                    F.greatest(F.col("wi") - F.lit(int(n)), F.lit(0).cast("long")),
                )
                .otherwise(F.col("wi"))
                .alias("wi"),
            )
            .localCheckpoint(eager=True)
        )
        w = neww
    e.unpersist()
    return spark.createDataFrame(
        [(int(i), int(r)) for i, r in elected], "id long, vote_rank long"
    )
