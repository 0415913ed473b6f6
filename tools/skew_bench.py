"""Planted-hub skew benchmark.

VERDICT r1 asked for evidence that the hot-path aggregations survive a
power-law hub: per-superstep time should stay ~flat as one vertex's
degree grows from 0 to millions. Three configurations are exercised:

  * pagerank      — hub IN-degree: the scatter groupBy(dst).sum lands
    millions of messages on one key; Spark's map-side partial
    aggregation reduces that to one partial per map task, so no single
    reducer sees the raw fan-in.
  * pagerank_out  — hub OUT-degree: the hub's million edges sit in one
    src partition of the persisted edge frame, so one scatter task
    carries them all.
  * cdlp          — hub SRC with many distinct neighbor labels: the
    (src,label) histogram is the worst aggregation shape; partial
    aggregation + AQE cover it.

Each configuration runs a fixed number of supersteps at local[N] in a
fresh subprocess; the report is steady-state sec/superstep per hub
degree relative to the same configuration without a hub.

Usage: python tools/skew_bench.py [n_vertices] [avg_degree] [hub_degrees_csv]
"""

from __future__ import annotations

import json
import subprocess
import sys

WORKER = r"""
import json, os, statistics, sys, time
os.environ.setdefault("SPARK_DRIVER_MEMORY", "24g")
sys.path.insert(0, {repo!r})
from pyspark.sql import functions as F
from linkgraph.session import get_spark
from linkgraph.datagen import skewed_graph
from linkgraph.graph import Graph

algo = sys.argv[1]; cpus = int(sys.argv[2]); nv = int(sys.argv[3])
deg = int(sys.argv[4]); hub = int(sys.argv[5]); rounds = int(sys.argv[6])
spark = get_spark(app_name=f"skew-{{algo}}-{{hub}}", master=f"local[{{cpus}}]",
                  shuffle_partitions=cpus)
base = skewed_graph(spark, n_vertices=nv, avg_degree=deg, seed=42)
if hub > 0:
    if algo == "pagerank_out":
        # hub OUT-degree: vertex 0 -> 1..hub (one giant src partition)
        extra = spark.range(1, hub + 1).select(F.lit(0).alias("src"), F.col("id").alias("dst"))
    else:
        # hub IN-degree: 1..hub -> vertex 0 (the giant message fan-in)
        extra = spark.range(1, hub + 1).select(F.col("id").alias("src"), F.lit(0).alias("dst"))
    base = base.unionByName(extra)
e = base.repartition(cpus, "src").persist()
n_edges = e.count()
g = Graph.from_edges(e, directed=True)
t0 = time.time()
if algo.startswith("pagerank"):
    from linkgraph.algos.pagerank import pagerank
    res = pagerank(g, max_iter=rounds, tol=0.0)
elif algo == "cdlp":
    from linkgraph.algos.cdlp import cdlp
    res = cdlp(g, max_round=rounds)
res.state.count()
secs = [m["superstep_sec"] for m in res.metrics]
steady = min(secs[1:])  # min = interference-robust true cost
print(json.dumps({{"algo": algo, "hub": hub, "n_edges": n_edges,
                  "wall_s": round(time.time() - t0, 2),
                  "superstep_secs": [round(s, 2) for s in secs],
                  "steady_sec_per_superstep": round(steady, 3)}}))
spark.stop()
"""


def run(repo, algo, cpus, nv, deg, hub, rounds):
    code = WORKER.format(repo=repo)
    out = subprocess.run(
        [sys.executable, "-c", code, algo, str(cpus), str(nv), str(deg), str(hub), str(rounds)],
        capture_output=True, text=True, check=True,
    )
    line = [l for l in out.stdout.splitlines() if l.startswith("{")][-1]
    return json.loads(line)


def main():
    import os

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    nv = int(sys.argv[1]) if len(sys.argv) > 1 else 2_000_000
    deg = int(sys.argv[2]) if len(sys.argv) > 2 else 8
    hubs = (
        [int(x) for x in sys.argv[3].split(",")]
        if len(sys.argv) > 3
        else [0, 1_000_000, 4_000_000]
    )
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    rounds = 8
    results = []
    for algo in ("pagerank", "pagerank_out", "cdlp"):
        for hub in hubs:
            r = run(repo, algo, cpus, nv, deg, hub, rounds)
            results.append(r)
            print(json.dumps(r), flush=True)
    base = {r["algo"]: r["steady_sec_per_superstep"] for r in results if r["hub"] == 0}
    summary = {
        f"{r['algo']}@hub={r['hub']}": round(
            r["steady_sec_per_superstep"] / base[r["algo"]], 2
        )
        for r in results
    }
    print(json.dumps({"slowdown_vs_no_hub": summary}))


if __name__ == "__main__":
    main()
