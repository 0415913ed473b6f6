"""spark-submit entrypoint for the linkgraph engine.

Usage (cluster):
  spark-submit --py-files dist/linkgraph.zip jobs/run_algo.py \
      <algo> --edges <parquet path|dir> [--vertices <parquet>] \
      [--output <dir>] [--checkpoint-dir <dir>] [--resume] \
      [--directed/--undirected] [--source N] [--weight-col W] \
      [--max-iter N] [--tol T] [--alpha A] [--k K]

Algos: pagerank wcc cdlp triangles lcc bfs sssp hits kcore
Local smoke: python jobs/run_algo.py pagerank --edges <parquet> --output /tmp/pr

The driver loop + checkpointing lives in linkgraph.engine; this file
is only argument plumbing, so the same package serves notebooks,
tests, bench and cluster submission (the reference's coordinator
RUN_APP role, grape_instance.cc:1314-1317, collapses into this CLI).
"""

from __future__ import annotations

import argparse
import json
import os
import sys

# allow running without --py-files / PYTHONPATH: the repo root (parent
# of jobs/) carries the linkgraph package
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="run_algo")
    ap.add_argument("algo", choices=[
        "pagerank", "wcc", "cdlp", "triangles", "lcc", "bfs", "sssp", "hits", "kcore",
        "kshell", "louvain", "closeness", "betweenness", "voterank", "sssp_path",
        "eigenvector", "katz", "scc", "ppr", "articlerank", "bfs_tree",
        "bridges", "cut_points", "bcc", "mis", "maximal_matching",
        "min_dominating_set", "msf", "harmonic", "diameter_approx",
        "kclique", "motif_census", "densest", "degeneracy_ordering",
        "onion_layers", "min_vertex_cover", "color", "fluid",
        "k_center", "custom",
    ])
    ap.add_argument("--edges", required=True, help="parquet with (src,dst[,props])")
    ap.add_argument("--vertices", default=None, help="optional parquet with (id,...)")
    ap.add_argument("--output", default=None, help="parquet output dir")
    ap.add_argument("--checkpoint-dir", default=None)
    ap.add_argument("--checkpoint-every", type=int, default=5)
    ap.add_argument("--resume", action="store_true")
    ap.add_argument("--directed", dest="directed", action="store_true", default=True)
    ap.add_argument("--undirected", dest="directed", action="store_false")
    ap.add_argument("--source", type=int, default=0)
    ap.add_argument("--weight-col", default=None)
    ap.add_argument("--max-iter", type=int, default=None,
                    help="round cap (default 100; sssp: 10000)")
    ap.add_argument("--max-round", type=int, default=10,
                    help="cdlp/louvain rounds (distinct from --max-iter)")
    ap.add_argument("--tol", type=float, default=1e-6)
    ap.add_argument("--alpha", type=float, default=0.85)
    ap.add_argument("--k", type=int, default=2)
    ap.add_argument("--app", default=None,
                    help="custom PIE/Pregel-style app: a .py file (or "
                    "importable module) defining make(graph, spark, args)"
                    " -> (init_state_df, step_fn); step_fn follows the "
                    "SuperstepEngine contract (see README §custom apps)")
    ap.add_argument("--partitions", type=int, default=None,
                    help="spark.sql.shuffle.partitions of the job's session: the "
                    "partition count of every stored edge view and vertex state "
                    "(default: the master's core count)")
    args = ap.parse_args(argv)
    # sssp keeps its own 10,000-round cap unless --max-iter is given
    sssp_kw = {} if args.max_iter is None else {"max_iter": args.max_iter}
    if args.max_iter is None:
        args.max_iter = 100

    from linkgraph.engine import SuperstepEngine
    from linkgraph.graph import Graph
    from linkgraph.session import get_spark

    spark = get_spark(app_name=f"linkgraph-{args.algo}", shuffle_partitions=args.partitions)
    edges = spark.read.parquet(args.edges)
    vertices = spark.read.parquet(args.vertices) if args.vertices else None
    g = Graph.from_edges(edges, vertices=vertices, directed=args.directed,
                         weight_col=args.weight_col)
    eng = SuperstepEngine(
        spark,
        checkpoint_dir=args.checkpoint_dir,
        checkpoint_every=args.checkpoint_every,
        record_partition_lineage=True,
    )

    meta: dict = {"algo": args.algo}
    if args.algo == "pagerank":
        from linkgraph.algos.pagerank import pagerank
        res = pagerank(g, alpha=args.alpha, max_iter=args.max_iter, tol=args.tol,
                       engine=eng, resume=args.resume)
    elif args.algo == "wcc":
        from linkgraph.algos.wcc import wcc
        res = wcc(g, engine=eng, resume=args.resume)
    elif args.algo == "cdlp":
        from linkgraph.algos.cdlp import cdlp
        # back-compat: cdlp historically took --max-iter; honor it when
        # --max-round was left at its default instead of silently
        # changing behavior of existing invocations
        rounds = args.max_round
        if args.max_round == 10 and args.max_iter != 100:
            print(f"run_algo: cdlp using --max-iter={args.max_iter} as rounds "
                  "(pass --max-round to silence)", file=sys.stderr)
            rounds = args.max_iter
        res = cdlp(g, max_round=rounds, engine=eng, resume=args.resume)
    elif args.algo == "triangles":
        from linkgraph.algos.triangles import triangles
        out = triangles(g)
        res = None
    elif args.algo == "lcc":
        from linkgraph.algos.triangles import lcc
        out = lcc(g)
        res = None
    elif args.algo == "bfs":
        from linkgraph.algos.traversal import bfs
        res = bfs(g, source=args.source, engine=eng)
    elif args.algo == "sssp":
        from linkgraph.algos.traversal import sssp
        res = sssp(g, source=args.source, weight_col=args.weight_col,
                   engine=eng, resume=args.resume, **sssp_kw)
    elif args.algo == "hits":
        from linkgraph.algos.hits import hits
        res = hits(g, max_iter=args.max_iter, tol=args.tol, engine=eng)
    elif args.algo == "kcore":
        from linkgraph.algos.cores import kcore
        res = kcore(g, k=args.k, engine=eng)
    elif args.algo == "kshell":
        from linkgraph.algos.cores import kshell
        res = kshell(g, engine=eng)
    elif args.algo == "louvain":
        from linkgraph.algos.louvain import louvain
        res = louvain(g, max_round=args.max_round, engine=eng)
    elif args.algo == "closeness":
        from linkgraph.algos.paths import closeness_centrality
        res = closeness_centrality(g, engine=eng)
    elif args.algo == "betweenness":
        from linkgraph.algos.paths import betweenness_centrality
        res = betweenness_centrality(g, engine=eng)
    elif args.algo == "voterank":
        from linkgraph.algos.ranking import voterank
        out = voterank(g, num_seeds=args.k)
        res = None
    elif args.algo == "sssp_path":
        from linkgraph.algos.paths import sssp_path
        res = sssp_path(g, source=args.source, weight_col=args.weight_col,
                        engine=eng)
    elif args.algo == "eigenvector":
        from linkgraph.algos.centrality import eigenvector_centrality
        res = eigenvector_centrality(g, max_iter=args.max_iter, tol=args.tol,
                                     engine=eng)
    elif args.algo == "katz":
        from linkgraph.algos.centrality import katz_centrality
        res = katz_centrality(g, alpha=args.alpha, max_iter=args.max_iter,
                              tol=args.tol, engine=eng)
    elif args.algo == "scc":
        from linkgraph.algos.scc import scc
        res = scc(g, engine=eng)
    elif args.algo == "ppr":
        from linkgraph.algos.pagerank import ppr
        res = ppr(g, source=args.source, alpha=args.alpha,
                  max_iter=args.max_iter, engine=eng)
    elif args.algo == "articlerank":
        from linkgraph.algos.pagerank import articlerank
        res = articlerank(g, max_iter=args.max_iter, damping=args.alpha,
                          engine=eng)
    elif args.algo == "bfs_tree":
        from linkgraph.algos.traversal import bfs_tree
        res = bfs_tree(g, source=args.source, engine=eng)
    elif args.algo == "mis":
        from linkgraph.algos.matching import mis as _mis
        res = _mis(g)
    elif args.algo == "maximal_matching":
        from linkgraph.algos.matching import maximal_matching
        res = maximal_matching(g)
    elif args.algo == "min_dominating_set":
        from linkgraph.algos.matching import min_dominating_set
        res = min_dominating_set(g)
    elif args.algo == "msf":
        from linkgraph.algos.msf import msf as _msf
        res = _msf(g, weight_col=args.weight_col)
    elif args.algo == "harmonic":
        from linkgraph.algos.paths import harmonic_centrality
        res = harmonic_centrality(g, engine=eng)
    elif args.algo == "diameter_approx":
        from linkgraph.algos.paths import diameter_approx
        res = diameter_approx(g, k=args.k, engine=eng)
    elif args.algo == "kclique":
        from linkgraph.algos.subgraph import kclique_counts
        from linkgraph.engine import SuperstepResult
        res = SuperstepResult(state=kclique_counts(g, ks=(3, args.k)),
                              rounds=0, converged=True, metrics=[])
    elif args.algo == "motif_census":
        from linkgraph.algos.subgraph import motif_census
        from linkgraph.engine import SuperstepResult
        res = SuperstepResult(state=motif_census(g), rounds=0,
                              converged=True, metrics=[])
    elif args.algo == "densest":
        from linkgraph.algos.subgraph import densest_subgraph
        from linkgraph.engine import SuperstepResult
        res = SuperstepResult(state=densest_subgraph(g), rounds=0,
                              converged=True, metrics=[])
    elif args.algo == "degeneracy_ordering":
        from linkgraph.algos.ordering import degeneracy_ordering
        res = degeneracy_ordering(g)
    elif args.algo == "onion_layers":
        from linkgraph.algos.ordering import onion_layers
        res = onion_layers(g)
    elif args.algo == "min_vertex_cover":
        from linkgraph.algos.matching import min_vertex_cover
        res = min_vertex_cover(g)  # noqa: returns SuperstepResult
    elif args.algo == "color":
        from linkgraph.algos.coloring import greedy_color
        res = greedy_color(g, engine=eng)
    elif args.algo == "fluid":
        from linkgraph.algos.coloring import fluid_community
        res = fluid_community(g, n_communities=args.k,
                              max_round=args.max_round, engine=eng)
    elif args.algo == "k_center":
        from linkgraph.algos.paths import k_center
        res = k_center(g, k=args.k, engine=eng)
    elif args.algo in ("bridges", "cut_points", "bcc"):
        from linkgraph.algos.biconnectivity import biconnectivity
        from linkgraph.engine import SuperstepResult
        bires = biconnectivity(g, engine=eng)
        frame = {"bridges": bires.bridges, "cut_points": bires.cut_points,
                 "bcc": bires.bcc}[args.algo]
        res = SuperstepResult(state=frame, rounds=bires.rounds,
                              converged=True, metrics=bires.metrics)
    elif args.algo == "custom":
        # the §2.8 user-defined-app surface: the step_fn contract IS
        # the PIE shape (PEval = round 0 on the init state, IncEval =
        # every later round, the finalize aggregate = the Sum
        # collective + vote-to-halt). See examples/reach_within.py.
        if not args.app:
            ap.error("--algo custom requires --app <file.py|module>")
        import importlib
        import importlib.util
        if args.app.endswith(".py"):
            spec = importlib.util.spec_from_file_location("user_app", args.app)
            mod = importlib.util.module_from_spec(spec)
            spec.loader.exec_module(mod)
        else:
            mod = importlib.import_module(args.app)
        init_state, step_fn = mod.make(g, spark, args)
        res = eng.run(init_state, step_fn, max_rounds=args.max_iter,
                      resume=args.resume)

    if res is not None:
        out = res.state
        meta.update(rounds=res.rounds, converged=res.converged,
                    last_metrics=res.last)
    if args.output:
        out.write.mode("overwrite").parquet(args.output)
        meta["output"] = args.output
        meta["rows"] = spark.read.parquet(args.output).count()
    else:
        meta["rows"] = out.count()
    print(json.dumps(meta))
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
