"""Spans recorded from the benchmark's side of each layer boundary, and
the per-layer metrics of a traced run.

Span tree: workload pass -> call (one timed call into linkgraph) ->
superstep (one round of a SuperstepEngine) -> Spark job. The first
three are recorded in Python; the benchmark tags every Spark job with
the innermost open span through a SparkContext local property, and the
jobs and their task metrics are read back from the Spark event log
after the session stops.
"""

from __future__ import annotations

import contextlib
import functools
import json
import statistics
import time

from linkgraph.engine import SuperstepEngine

TAG = "perfbench.span"


class Tracer:
    """In-memory span recorder. With a SparkContext it also tags the
    Spark jobs each span submits; without one (untraced runs) it only
    keeps the Python-side timings."""

    def __init__(self, sc=None) -> None:
        self.sc = sc
        self.spans: list[dict] = []
        self.stack: list[dict] = []

    def open(self, kind: str, name: str, **attrs) -> dict:
        rec = {"id": len(self.spans), "parent": self.stack[-1]["id"] if self.stack else None,
               "kind": kind, "name": name, "start": time.time(), "end": None, **attrs}
        self.spans.append(rec)
        self.stack.append(rec)
        self._tag()
        return rec

    def close(self, rec: dict) -> None:
        rec["end"] = time.time()
        if self.stack.pop() is not rec:
            raise RuntimeError(f"span {rec['name']} closed out of order")
        self._tag()

    @contextlib.contextmanager
    def span(self, kind: str, name: str, **attrs):
        rec = self.open(kind, name, **attrs)
        try:
            yield rec
        finally:
            self.close(rec)

    def _tag(self) -> None:
        if self.sc is not None:
            self.sc.setLocalProperty(TAG, str(self.stack[-1]["id"]) if self.stack else None)


class TracedEngine(SuperstepEngine):
    """SuperstepEngine whose rounds each open a superstep span, so the
    Spark jobs of round r (its truncation, checkpoint and observe) carry
    that round's tag. The span runs from step_fn entry to the next
    round's entry, or to the end of ``run``."""

    def __init__(self, spark, tracer: Tracer, **kwargs) -> None:
        super().__init__(spark, **kwargs)
        self.tracer = tracer

    def run(self, initial_state, step_fn, *args, **kwargs):
        current: list[dict] = []

        def traced_step(state, round_):
            if current:
                self.tracer.close(current.pop())
            current.append(self.tracer.open("superstep", f"round-{round_}", round=round_))
            return step_fn(state, round_)

        try:
            return super().run(initial_state, traced_step, *args, **kwargs)
        finally:
            if current:
                self.tracer.close(current.pop())


class Counters:
    """Call counts of the graph-view and scatter-join layers, installed
    by wrapping the module attributes the algorithms call through."""

    VIEWS = ("symmetrized_edges", "to_undirected", "deduced_vertices", "degrees")
    SCATTER_USERS = ("linkgraph.algos.pagerank", "linkgraph.algos.wcc", "linkgraph.algos.cdlp")

    def __init__(self) -> None:
        self.reset()

    def reset(self) -> None:
        self.view_calls = 0
        self.scatter_calls = 0
        self.broadcast_calls = 0

    def install(self) -> None:
        import importlib

        from linkgraph import joins
        from linkgraph.graph import Graph

        for name in self.VIEWS:
            setattr(Graph, name, self._counted_view(getattr(Graph, name)))
        default = joins.BROADCAST_THRESHOLD_ROWS
        for mod in map(importlib.import_module, self.SCATTER_USERS):
            mod.scatter_join = self._counted_scatter(mod.scatter_join, default)

    def _counted_view(self, fn):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            self.view_calls += 1
            return fn(*args, **kwargs)
        return wrapper

    def _counted_scatter(self, fn, default_threshold: int):
        @functools.wraps(fn)
        def wrapper(edges, msgs, key, n_vertices, broadcast_threshold=default_threshold):
            self.scatter_calls += 1
            self.broadcast_calls += n_vertices <= broadcast_threshold
            return fn(edges, msgs, key, n_vertices, broadcast_threshold)
        return wrapper


# -- event log ------------------------------------------------------------

def read_jobs(event_log: str) -> list[dict]:
    """Spark jobs of one application with their tag and summed task
    metrics (times in seconds since the epoch)."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    with open(event_log) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                jid = ev["Job ID"]
                tag = (ev.get("Properties") or {}).get(TAG)
                jobs[jid] = {"job": jid, "span": int(tag) if tag else None,
                             "start": ev["Submission Time"] / 1000.0, "end": None,
                             "tasks": 0, "core_s": 0.0, "gc_s": 0.0, "shuffle_read_bytes": 0,
                             "shuffle_write_bytes": 0, "shuffle_records": 0, "spill_bytes": 0}
                for sid in ev.get("Stage IDs", []):
                    stage_job.setdefault(sid, jid)
            elif kind == "SparkListenerJobEnd":
                jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
            elif kind == "SparkListenerTaskEnd":
                job = jobs.get(stage_job.get(ev["Stage ID"]))
                m = ev.get("Task Metrics")
                if job is None or not m:
                    continue
                rd = m.get("Shuffle Read Metrics", {})
                wr = m.get("Shuffle Write Metrics", {})
                job["tasks"] += 1
                job["core_s"] += m.get("Executor Run Time", 0) / 1000.0
                job["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
                job["shuffle_read_bytes"] += rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0)
                job["shuffle_write_bytes"] += wr.get("Shuffle Bytes Written", 0)
                job["shuffle_records"] += wr.get("Shuffle Records Written", 0)
                job["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
    for job in jobs.values():
        job["end"] = job["end"] or job["start"]
    return list(jobs.values())


def attach_jobs(tracer: Tracer, jobs: list[dict]) -> int:
    """Add each tagged job as a child span of the span that submitted
    it; returns the number of untagged jobs."""
    untagged = 0
    for job in jobs:
        if job["span"] is None:
            untagged += 1
            continue
        tracer.spans.append({"id": len(tracer.spans), "parent": job["span"], "kind": "job",
                             "name": f"job-{job['job']}", **{k: v for k, v in job.items()
                                                              if k not in ("job", "span")}})
    return untagged


# -- per-layer metrics ----------------------------------------------------

def _covered(intervals, lo: float, hi: float) -> float:
    """Length of the union of intervals clipped to [lo, hi]."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


class SpanTree:
    def __init__(self, spans: list[dict]) -> None:
        self.spans = spans
        self.children: dict[int, list[dict]] = {}
        for s in spans:
            if s["parent"] is not None:
                self.children.setdefault(s["parent"], []).append(s)

    def kids(self, span: dict, kind: str | None = None) -> list[dict]:
        return [c for c in self.children.get(span["id"], []) if kind is None or c["kind"] == kind]

    def descendants(self, span: dict, kind: str) -> list[dict]:
        out = []
        for c in self.children.get(span["id"], []):
            if c["kind"] == kind:
                out.append(c)
            out.extend(self.descendants(c, kind))
        return out

    def self_time(self, span: dict) -> float:
        return (span["end"] - span["start"]) - _covered(
            [(c["start"], c["end"]) for c in self.kids(span)], span["start"], span["end"])

    def call(self, workload: dict, name: str) -> dict | None:
        return next((c for c in self.kids(workload, "call") if c["name"] == name), None)


def _sum(jobs, key):
    return sum(j[key] for j in jobs)


ENGINE_ALGOS = ("pagerank", "wcc", "cdlp")


def layer_metrics(tracer: Tracer, workload: dict, probe: dict, results: dict,
                  counters: Counters) -> dict:
    """Per-layer metrics of one traced pass and the probe after it
    (``workload`` and ``probe`` are their spans; a call is looked up in
    either). Layers a workload does not run report 0."""
    tree = SpanTree(tracer.spans)
    out: dict[str, float] = {}

    def find(name):
        return tree.call(workload, name) or tree.call(probe, name)

    for algo in ENGINE_ALGOS:
        call, res = find(algo), results.get(algo)
        p = f"engine.{algo}."
        rounds = tree.kids(call, "superstep") if call else []
        n = max(1, len(rounds))
        steps = [m["superstep_sec"] for m in res.metrics] if res else [0.0]
        jobs = [j for r in rounds for j in tree.kids(r, "job")]
        out[p + "rounds"] = len(rounds)
        out[p + "prologue_s"] = (call["end"] - call["start"] - sum(steps)) if call else 0.0
        out[p + "superstep_s.p50"] = statistics.median(steps)
        out[p + "superstep_s.max"] = max(steps)
        out[p + "jobs_per_round"] = len(jobs) / n
        out[p + "tasks_per_round"] = _sum(jobs, "tasks") / n
        out[p + "core_s_per_round"] = _sum(jobs, "core_s") / n
        out[p + "driver_gap_s_per_round"] = sum(
            (r["end"] - r["start"]) - _covered([(j["start"], j["end"]) for j in tree.kids(r, "job")],
                                               r["start"], r["end"]) for r in rounds) / n
        out[p + "shuffle_read_bytes_per_round"] = _sum(jobs, "shuffle_read_bytes") / n
        out[p + "shuffle_write_bytes_per_round"] = _sum(jobs, "shuffle_write_bytes") / n
        out[p + "shuffle_records_per_round"] = _sum(jobs, "shuffle_records") / n
        out[p + "spill_bytes_per_round"] = _sum(jobs, "spill_bytes") / n
        out[p + "gc_s_per_round"] = _sum(jobs, "gc_s") / n

    call = find("triangles")
    jobs = tree.descendants(call, "job") if call else []
    out["algos.triangles.jobs"] = len(jobs)
    out["algos.triangles.core_s"] = _sum(jobs, "core_s")
    out["algos.triangles.shuffle_bytes"] = _sum(jobs, "shuffle_write_bytes")
    out["algos.triangles.spill_bytes"] = _sum(jobs, "spill_bytes")

    call, res = find("mis"), results.get("mis")
    jobs = tree.descendants(call, "job") if call else []
    out["algos.mis.rounds"] = res.rounds if res else 0
    out["algos.mis.jobs"] = len(jobs)
    out["algos.mis.jobs_per_round"] = len(jobs) / max(1, res.rounds) if res else 0.0
    out["algos.mis.core_s"] = _sum(jobs, "core_s")
    out["algos.mis.shuffle_bytes"] = _sum(jobs, "shuffle_write_bytes")

    pr, w, c = results.get("pagerank"), results.get("wcc"), results.get("cdlp")
    out["algos.pagerank.l1_delta_last"] = pr.last.get("l1_delta", 0.0) if pr else 0.0
    out["algos.wcc.dense_rounds"] = sum(m.get("mode") == "dense" for m in w.metrics) if w else 0
    out["algos.cdlp.changed_last"] = c.last.get("changed", 0) if c else 0

    out["graph.view_calls"] = counters.view_calls
    out["joins.scatter_calls"] = counters.scatter_calls
    out["joins.broadcast_share"] = counters.broadcast_calls / max(1, counters.scatter_calls)

    # Self time per span kind. Jobs can run concurrently, so theirs is
    # the time at least one job of the pass was running.
    for kind in ("call", "check", "superstep"):
        out[f"trace.self_s.{kind}"] = sum(map(tree.self_time, tree.descendants(workload, kind)))
    out["trace.self_s.workload"] = tree.self_time(workload)
    out["trace.self_s.job"] = _covered([(j["start"], j["end"]) for j in tree.descendants(workload, "job")],
                                       workload["start"], workload["end"])
    return out


def write_spans(path: str, tracer: Tracer) -> None:
    with open(path, "w") as fh:
        for s in tracer.spans:
            fh.write(json.dumps(s) + "\n")
