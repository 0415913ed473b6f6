"""Bipartite user-to-item label propagation (lpa_u2i).

Transcribed semantics (NOT ported) from analytical_engine/apps/lpa/
lpa_u2i.h:44-240: users carry numeric label values (seeds clamped at
0 or 1, unknowns in between); propagation alternates:

  u2i (even step):  item_label[i]  = Σ_{u→i} user_label[u] · w(u,i)
  i2u (odd step):   tmp[u]         = Σ_{u→i} item_label[i] · w(u,i)
                    user_label'[u] =
                      user_label[u]                     if label ∈ {0,1}
                      (tmp − out_deg(u)·user_label[u])
                        / (nbr_in_deg_sum(u) − out_deg(u))
                                                        if denominators differ
                      user_label[u]                     otherwise
  where out_deg(u) = Σ_{u→i} w and nbr_in_deg_sum(u) = Σ_{u→i}
  in_deg(i) — the subtraction cancels u's own echo through its items
  (lpa_u2i.h:196-233), i.e. the update is the average of OTHER
  users' labels across shared items.

One full round = u2i + i2u. Weights default to 1. Spark shape: each
half-step is one edge join + one aggregation, map-side combinable;
user/item state frames stay hash-partitioned on their id.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from linkgraph.engine import SuperstepEngine, SuperstepResult
from linkgraph.joins import scatter_join, state_join


def lpa_u2i(
    edges: DataFrame,
    user_labels: DataFrame,
    max_round: int = 2,
    engine: SuperstepEngine | None = None,
) -> SuperstepResult:
    """edges: (user, item [, w]); user_labels: (user, label double —
    0/1 seeds are clamped). Returns state (user, label) after
    ``max_round`` full u2i+i2u rounds."""
    spark = edges.sparkSession
    eng = engine or SuperstepEngine(spark)
    P = int(spark.conf.get("spark.sql.shuffle.partitions"))

    w = F.col("w") if "w" in edges.columns else F.lit(1.0)
    e = (
        edges.select("user", "item", w.cast("double").alias("w"))
        .groupBy("user", "item")
        .agg(F.sum("w").alias("w"))
        .repartition(P, "user")
        .persist()
    )
    # the job that stores e also counts the scatter bounds: the distinct
    # users and items on its edges
    n_edges, n_users, n_items = e.agg(
        F.count("*"), F.countDistinct("user"), F.countDistinct("item")
    ).first()

    out_deg = e.groupBy("user").agg(F.sum("w").alias("od"))
    in_deg = e.groupBy("item").agg(F.sum("w").alias("idg"))
    nbr_sum = (
        e.join(in_deg, "item")
        .groupBy("user")
        .agg(F.sum(F.col("w") * F.col("idg")).alias("ns"))
    )
    base = (
        user_labels.select("user", F.col(user_labels.columns[1]).cast("double").alias("label"))
        .join(out_deg, "user", "left")
        .join(nbr_sum, "user", "left")
        .select(
            "user",
            "label",
            F.coalesce("od", F.lit(0.0)).alias("od"),
            F.coalesce("ns", F.lit(0.0)).alias("ns"),
        )
    )

    def step(state: DataFrame, round_: int):
        # u2i: item labels from current user labels
        item_lab = (
            scatter_join(e, state.select("user", "label"), "user", n_users)
            .groupBy("item")
            .agg(F.sum(F.col("label") * F.col("w")).alias("ilabel"))
        )
        # i2u: echo-cancelled average of other users' labels
        tmp = (
            scatter_join(e, item_lab, "item", n_items)
            .groupBy("user")
            .agg(F.sum(F.col("ilabel") * F.col("w")).alias("tmp"))
        )
        new_state = (
            state_join(state, tmp, "user")
            .select(
                "user",
                F.when(
                    (F.col("label") == 0.0) | (F.col("label") == 1.0), F.col("label")
                )
                .when(
                    F.col("ns") != F.col("od"),
                    (F.coalesce("tmp", F.lit(0.0)) - F.col("od") * F.col("label"))
                    / (F.col("ns") - F.col("od")),
                )
                .otherwise(F.col("label"))
                .alias("label"),
                "od",
                "ns",
            )
        )
        return new_state, {"halt": False, "edges_processed": n_edges}

    res = eng.run(base, step, max_rounds=max_round)
    res.state = res.state.select("user", "label")
    e.unpersist()
    return res
