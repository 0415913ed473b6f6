"""Decompose the fixed (non-core-scaling) part of a superstep.

BENCH_r4_scaling_512m_l16.json fitted superstep wall time as
  wall(c) ~= fixed + core_seconds / c
with fixed ~= 21 s at 512M edges — 52% of a 32-core superstep. This
tool measures WHERE that fixed part goes instead of guessing: it runs
the same tuned PageRank job with the Spark event log enabled, then
joins the engine's per-superstep wall times against the event log's
task metrics, bucketed per superstep by job-submission timestamps.

Per superstep it reports
  wall        engine-measured superstep seconds
  jobs        Spark jobs submitted (AQE query stages each submit one)
  tasks       tasks completed
  core_sec    sum of task executorRunTime (the genuinely parallel part)
  ideal       core_sec / cpus
  gap         wall - ideal  (the fixed part: driver/scheduler/AQE
              latency, stage-submission gaps, materialization barriers)
  gc_sec      sum of task jvmGcTime (inside core_sec)
  fetch_sec   shuffle fetch wait (inside core_sec)
  write_sec   shuffle write time (inside core_sec)
  sched_sec   sum over tasks of (task wall - run - deser - ser - fetch)
  shuf_mb     shuffle read+write bytes

Usage: python tools/superstep_profile.py [nv] [deg] [rounds] [cpus] [mode]
mode: join_tuned (default) | join_noaqe | join_noobs | join_persist
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import sys
import tempfile
import time


def main() -> None:
    nv = int(sys.argv[1]) if len(sys.argv) > 1 else 8_000_000
    deg = int(sys.argv[2]) if len(sys.argv) > 2 else 16
    rounds = int(sys.argv[3]) if len(sys.argv) > 3 else 8
    cpus = int(sys.argv[4]) if len(sys.argv) > 4 else 32
    mode = sys.argv[5] if len(sys.argv) > 5 else "join_tuned"

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sys.path.insert(0, repo)
    logdir = tempfile.mkdtemp(prefix="sparklog-")

    P = int(os.environ.get("SPARK_GRAFT_PROFILE_PARTITIONS", "0")) or max(
        cpus, (nv * deg * 16) >> 27
    )
    os.environ.setdefault("SPARK_GRAFT_STATE_LEVEL", "MEMORY_AND_DISK")
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "24g")

    from linkgraph.session import get_spark, jvm_args
    from linkgraph.datagen import skewed_graph
    from linkgraph.etl import compact_vertex_ids
    from linkgraph.graph import Graph
    from linkgraph.algos.pagerank import pagerank

    extra = {
        "spark.rdd.compress": "true",
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": logdir,
        "spark.eventLog.compress": "false",
    }
    if "noaqe" in mode:
        extra["spark.sql.adaptive.enabled"] = "false"
    spark = get_spark(app_name=f"profile-{cpus}", master=f"local[{cpus}]",
                      shuffle_partitions=P, extra_conf=extra)

    e = skewed_graph(spark, n_vertices=nv, avg_degree=deg, seed=42)
    e, _ = compact_vertex_ids(e, num_partitions=P)
    e = e.repartition(P, "src").persist()
    n_edges = e.count()
    g = Graph.from_edges(e, directed=True)

    t_run0 = time.time()
    res = pagerank(g, max_iter=rounds, tol=0.0)
    res.state.count()
    wall = time.time() - t_run0
    secs = [m["superstep_sec"] for m in res.metrics]
    app_id = spark.sparkContext.applicationId
    args = jvm_args(spark)
    spark.stop()

    # ---- parse the event log ------------------------------------------
    # Spark 4 rolling layout: <dir>/eventlog_v2_<appId>/events_*; older
    # single-file layout: <dir>/<appId>[.inprogress]
    paths = [p for p in glob.glob(os.path.join(logdir, "*" + app_id + "*"))
             if os.path.isfile(p)]
    for d in glob.glob(os.path.join(logdir, "*" + app_id + "*")):
        if os.path.isdir(d):
            paths += [p for p in glob.glob(os.path.join(d, "events_*"))]
    events = []
    for p in paths:
        with open(p) as fh:
            for line in fh:
                try:
                    events.append(json.loads(line))
                except json.JSONDecodeError:
                    pass

    # Reconstruct superstep windows: supersteps execute strictly after
    # t_run0; engine metrics give cumulative wall offsets.
    bounds = []
    t = t_run0
    # the pagerank prologue (deg/count/init jobs) runs before round 0's
    # step; approximate its end as t_run0 + (wall - sum(secs))
    prologue = wall - sum(secs)
    t = t_run0 + prologue
    for s in secs:
        bounds.append((t, t + s))
        t += s

    def bucket(ts_ms: float) -> int:
        ts = ts_ms / 1000.0
        for i, (a, b) in enumerate(bounds):
            if a <= ts < b:
                return i
        return -1

    n_r = len(secs)
    agg = [dict(jobs=0, tasks=0, core=0.0, gc=0.0, fetch=0.0, write=0.0,
                sched=0.0, deser=0.0, shuf=0.0, spill=0.0)
           for _ in range(n_r)]
    for ev in events:
        k = ev.get("Event")
        if k == "SparkListenerJobStart":
            i = bucket(ev["Submission Time"])
            if i >= 0:
                agg[i]["jobs"] += 1
        elif k == "SparkListenerTaskEnd":
            info = ev.get("Task Info") or {}
            m = ev.get("Task Metrics") or {}
            if not m:
                continue
            i = bucket(info.get("Finish Time", 0))
            if i < 0:
                continue
            a = agg[i]
            a["tasks"] += 1
            run = m.get("Executor Run Time", 0) / 1000.0
            deser = m.get("Executor Deserialize Time", 0) / 1000.0
            ser = m.get("Result Serialization Time", 0) / 1000.0
            a["core"] += run
            a["deser"] += deser
            a["gc"] += m.get("JVM GC Time", 0) / 1000.0
            sr = m.get("Shuffle Read Metrics") or {}
            sw = m.get("Shuffle Write Metrics") or {}
            a["fetch"] += sr.get("Fetch Wait Time", 0) / 1000.0
            a["write"] += sw.get("Shuffle Write Time", 0) / 1e9  # ns
            a["shuf"] += (sr.get("Local Bytes Read", 0)
                          + sr.get("Remote Bytes Read", 0)
                          + sw.get("Shuffle Bytes Written", 0)) / 1e6
            a["spill"] += (m.get("Memory Bytes Spilled", 0)
                           + m.get("Disk Bytes Spilled", 0)) / 1e6
            t_wall = (info.get("Finish Time", 0) - info.get("Launch Time", 0)) / 1000.0
            a["sched"] += max(0.0, t_wall - run - deser - ser)

    rows = []
    for i, s in enumerate(secs):
        a = agg[i]
        ideal = a["core"] / cpus
        rows.append({
            "round": i, "wall": round(s, 2), "jobs": a["jobs"],
            "tasks": a["tasks"], "core_sec": round(a["core"], 1),
            "ideal": round(ideal, 2), "gap": round(s - ideal, 2),
            "gc_sec": round(a["gc"], 1), "fetch_sec": round(a["fetch"], 1),
            "write_sec": round(a["write"], 1),
            "sched_sec": round(a["sched"], 1),
            "deser_sec": round(a["deser"], 1),
            "shuf_mb": round(a["shuf"], 0), "spill_mb": round(a["spill"], 0),
        })

    steady = rows[len(rows) // 2:]
    med = lambda k: round(statistics.median(r[k] for r in steady), 2)
    out = {
        "mode": mode, "cpus": cpus, "n_edges": n_edges, "partitions": P,
        "rounds": n_r, "wall_s": round(wall, 2), "prologue_s": round(prologue, 2),
        "jvm_args": args,
        "per_round": rows,
        "steady_median": {k: med(k) for k in
                          ("wall", "jobs", "tasks", "core_sec", "ideal", "gap",
                           "gc_sec", "fetch_sec", "write_sec", "sched_sec",
                           "deser_sec", "shuf_mb", "spill_mb")},
    }
    print(json.dumps(out))


if __name__ == "__main__":
    main()
