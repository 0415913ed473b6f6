"""Benchmark harness: headline link-graph jobs on the derived
co-occurrence graph at $SPARK_GRAFT_SF_DIR (default sf0.1), on
local[$SPARK_GRAFT_CPUS].

Prints ONE JSON line:
  {"metric": ..., "value": sec, "unit": "sec", "queries": {...}, "sf": ...}

Every query runs TWICE in-process and `queries` reports the MIN —
this box runs the driver's bench under concurrent load, and single
observations have produced phantom ±3x regressions across rounds
(r02 44 s pagerank, r03 24.7 s triangles, both load noise); the
per-query {first, second} pair is kept in `queries_runs` so warm-up
and contention remain visible. The headline metric is PageRank
time-to-convergence (tol 1e-6), the BASELINE.json criterion;
per-superstep edges/sec and the other flagship algorithms are
reported alongside. Scaling-efficiency evidence (same job at two
parallelism levels) lives in tools/scaling_bench.py → BASELINE.md.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from linkgraph.session import get_spark, jvm_args  # noqa: E402
from linkgraph.tpch_graph import part_edges, part_graph  # noqa: E402
from linkgraph.algos.pagerank import pagerank  # noqa: E402
from linkgraph.algos.wcc import wcc  # noqa: E402
from linkgraph.algos.cdlp import cdlp  # noqa: E402
from linkgraph.algos.triangles import triangle_corners  # noqa: E402
from linkgraph import pipeline as pl  # noqa: E402


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    sf = sf_dir.rstrip("/").split("sf")[-1]
    spark = get_spark(
        app_name="linkgraph-bench", master=f"local[{cpus}]", shuffle_partitions=cpus
    )

    g = part_graph(spark, sf_dir)
    g.edges = g.edges.persist()
    n_edges = g.num_edges()
    n_verts = g.num_vertices()

    queries: dict[str, float] = {}
    runs: dict[str, dict] = {}
    extra: dict[str, object] = {}

    def mat(r):
        r.state.count()
        return r

    def run2(name: str, fn):
        """Execute fn twice; queries[name] = min, both kept in runs."""
        t0 = time.time()
        first_result = fn()
        first = time.time() - t0
        t0 = time.time()
        fn()
        second = time.time() - t0
        queries[name] = round(min(first, second), 3)
        runs[name] = {"first": round(first, 3), "second": round(second, 3)}
        return first_result

    pr = run2("pagerank_tol1e-6",
              lambda: mat(pagerank(g, alpha=0.85, max_iter=100, tol=1e-6)))
    step_secs = [m["superstep_sec"] for m in pr.metrics]
    per_step = sum(step_secs) / max(1, len(step_secs))
    extra["pagerank_rounds"] = pr.rounds
    extra["pagerank_converged"] = pr.converged
    # directed edges scanned per superstep / mean superstep wall time
    extra["edges_per_sec_per_superstep"] = round(n_edges / per_step, 1)

    w = run2("wcc", lambda: mat(wcc(g)))
    extra["wcc_rounds"] = w.rounds

    run2("cdlp_10", lambda: cdlp(g, max_round=10).state.count())

    extra["n_triangles"] = run2("triangles", lambda: triangle_corners(g).count())

    from linkgraph.algos.louvain import louvain_phase1
    from linkgraph.graph import Graph

    lg = Graph.from_edges(part_edges(spark, sf_dir), directed=True, weight_col="weight")
    run2("louvain_p1_4", lambda: louvain_phase1(lg, max_round=4).state.count())

    from linkgraph.algos.cores import kshell

    ks = run2("kshell", lambda: mat(kshell(g)))
    extra["kshell_rounds"] = ks.rounds

    from linkgraph.algos.paths import betweenness_centrality

    srcs = g.deduced_vertices().orderBy("id").limit(16)
    run2("betweenness_16src", lambda: betweenness_centrality(
        g, sources=srcs, directed=False).state.count())

    from linkgraph.algos.scc import scc
    from pyspark.sql import functions as F

    e = g.edges.select("src", "dst")
    even = (F.col("src") + F.col("dst")) % 2 == 0
    de = e.select(
        F.when(even, F.col("src")).otherwise(F.col("dst")).alias("src"),
        F.when(even, F.col("dst")).otherwise(F.col("src")).alias("dst"),
    )
    sc = run2("scc", lambda: mat(scc(Graph.from_edges(de, directed=True))))
    extra["scc_rounds"] = sc.rounds

    from linkgraph.algos.biconnectivity import biconnectivity

    def _bi():
        bi = biconnectivity(Graph.from_edges(e, directed=False))
        return bi.bcc.count() + bi.bridges.count() + bi.cut_points.count()

    run2("biconnectivity", _bi)

    from linkgraph.algos.subgraph import kclique_counts
    from linkgraph.algos.coloring import greedy_color

    run2("kclique_345", lambda: kclique_counts(g, ks=(3, 4, 5)).count())

    col = run2("coloring", lambda: mat(greedy_color(g)))
    extra["coloring_rounds"] = col.rounds

    run2("minhash_lsh", lambda: pl.lsh_candidate_pairs(spark, sf_dir).count())

    run2("embedding_topk", lambda: pl.embedding_topk(spark, sf_dir).count())

    print(
        json.dumps(
            {
                "metric": "pagerank_time_to_convergence_tol1e-6",
                "value": queries["pagerank_tol1e-6"],
                "unit": "sec",
                "queries": queries,
                "queries_runs": runs,
                "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
                "cpus": cpus,
                "n_vertices": n_verts,
                "n_edges_directed": n_edges,
                "jvm_args": jvm_args(spark),
                **extra,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
