"""linkgraph benchmark: one seeded workload, timed end to end, every
output checked.

    python3 perfbench/run.py --workload copurchase-sf0.01 --seed 1 --seconds 10 --trace 0

Run from the repository root. The last line of standard output is one
JSON object {"correct", "attempted", "failed", "metrics"}; with
``--trace 0`` the metrics are the ``end_to_end`` list of BENCHMARK.json,
with ``--trace 1`` its ``per_layer`` list. The lines before it name
every metric with its unit, every output check, and the run
environment. Runtime files live under ``.perfbench/`` in the root; a
traced run leaves its span file in ``.perfbench/spans/``.

Policy, so that every run is the same experiment:
  * one driver process, ``local[N]`` with N = min(4, usable cores),
    shuffle partitions = N, driver heap fixed at DRIVER_MEMORY;
  * set-up = session start + the median of SETUP_REPEATS input
    materializations (generate, write parquet, read back);
  * no warm-up pass: every run is a fresh JVM, as a submitted Spark job
    is, so the first calls of a pass include JIT warm-up (a warm-up pass
    would not fit the run budget: on repo-etl-durable one on a tiny
    input costs as much as the timed pass);
  * passes repeat while another pass of the last pass's length still
    fits in ``--seconds`` (at least one); times are medians over passes;
  * end-to-end times but setup_s are CPU seconds of the Python driver
    and the driver JVM (``CpuClock``); wall-clock times are printed and
    reported per layer;
  * output checks and their references are outside the timed calls and
    are subtracted from wall_s and pass_cpu_s;
  * a traced run also runs the workload's probe after the passes: the
    calls only per-layer metrics report (copurchase: wcc, cdlp,
    triangles, mis; repo: the ETL stages one by one).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DRIVER_MEMORY = "3g"
MAX_CORES = 4
SETUP_REPEATS = 3


class Pass:
    """One pass of a workload: call times (wall and CPU), op outcomes
    and results."""

    def __init__(self, tracer, cpu) -> None:
        self.tracer, self.cpu = tracer, cpu
        self.times: dict[str, float] = {}
        self.cpu_times: dict[str, float] = {}
        self.results: dict = {}
        self.counts: dict[str, int] = {}
        self.ops: list[tuple[str, bool, str]] = []
        self.known: list[tuple[str, bool, str]] = []
        self.check_s = self.check_cpu_s = self.cpu_s = 0.0
        self.span: dict | None = None

    def call(self, name: str, fn, op: str | None = None):
        """Timed call; an exception fails the op and returns None."""
        cpu0 = self.cpu()
        with self.tracer.span("call", name) as s:
            try:
                result = fn()
            except Exception as exc:  # the benchmark reports a failed op and goes on
                traceback.print_exc()
                self.ops.append((op or name, False, f"raised {type(exc).__name__}: {exc}"))
                result = None
        self.times[name] = s["end"] - s["start"]
        self.cpu_times[name] = self.cpu() - cpu0
        return result

    def _checked(self, name: str, fn) -> tuple[bool, str]:
        cpu0 = self.cpu()
        with self.tracer.span("check", name) as s:
            try:
                ok, detail = fn()
            except Exception as exc:  # a check that cannot run counts as failed
                traceback.print_exc()
                ok, detail = False, f"check raised {type(exc).__name__}: {exc}"
        self.check_s += s["end"] - s["start"]
        self.check_cpu_s += self.cpu() - cpu0
        return bool(ok), detail

    def check(self, name: str, fn) -> None:
        self.ops.append((name, *self._checked(name, fn)))

    def known_defect(self, name: str, fn) -> None:
        self.known.append((name, *self._checked(name, fn)))

    @property
    def wall(self) -> float:
        return self.span["end"] - self.span["start"] - self.check_s

    @property
    def cpu_net(self) -> float:
        return self.cpu_s - self.check_cpu_s


class Context:
    def __init__(self, spark, seed: int, work: str, tracer, traced: bool) -> None:
        self.spark, self.seed, self.work, self.tracer, self.traced = spark, seed, work, tracer, traced
        self.refs: dict = {}
        self._n = 0

    def scratch(self, name: str) -> str:
        """A fresh, not yet existing path in the run's work directory."""
        self._n += 1
        return os.path.join(self.work, f"{self._n:03d}-{name}")

    def engine(self, **kwargs):
        from linkgraph.engine import SuperstepEngine
        from spans import TracedEngine

        if self.traced:
            return TracedEngine(self.spark, self.tracer, **kwargs)
        return SuperstepEngine(self.spark, **kwargs)

    @staticmethod
    def materialized(result):
        result.state.count()
        return result


class CpuClock:
    """CPU seconds (user + system, every thread) the Python driver and
    the driver JVM have used so far. Time the host takes from the
    virtual machine (steal) is not charged to them, unlike wall time."""

    def __init__(self, pids) -> None:
        self.paths = [f"/proc/{pid}/stat" for pid in pids]
        self.tick = os.sysconf("SC_CLK_TCK")

    def __call__(self) -> float:
        ticks = 0
        for path in self.paths:
            with open(path) as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
            ticks += int(fields[11]) + int(fields[12])  # utime, stime
        return ticks / self.tick


def _peak_rss_mb(pids) -> float:
    total_kb = 0
    for pid in pids:
        with open(f"/proc/{pid}/status") as fh:
            total_kb += next(int(line.split()[1]) for line in fh if line.startswith("VmHWM:"))
    return total_kb / 1024.0


def _mem_total_gb() -> float:
    with open("/proc/meminfo") as fh:
        return next(int(line.split()[1]) for line in fh if line.startswith("MemTotal:")) / 2**20


def _stop(spark) -> None:
    """Stop the session and the driver JVM, and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def _median(xs) -> float:
    return statistics.median(xs) if xs else 0.0


def _edges_per_s(result) -> float:
    """Edges one superstep processes over the median superstep time: the
    median keeps one slow round (a GC pause, a neighbour's burst) from
    moving the figure by a quarter, as it moved Σ edges / Σ seconds."""
    return (statistics.median(m["edges_processed"] for m in result.metrics)
            / statistics.median(m["superstep_sec"] for m in result.metrics))


def main(argv=None) -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    names = [w["name"] for w in bench["workloads"]]
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=names)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=bench["run_seconds"])
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    out_dir = os.path.join(ROOT, ".perfbench")
    work = os.path.join(out_dir, f"run-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    sys.path.insert(0, ROOT)
    try:
        return _run(args, bench, out_dir, work, tmp)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _run(args, bench, out_dir, work, tmp) -> int:
    from linkgraph.session import get_spark
    from pyspark import SparkContext

    from spans import Counters, Tracer, attach_jobs, layer_metrics, read_jobs, write_spans
    from workloads import WORKLOADS, checkpoint_usage

    wl = WORKLOADS[args.workload]
    cores = min(MAX_CORES, len(os.sched_getaffinity(0)))
    conf = {
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    }
    event_dir = os.path.join(work, "eventlog")
    if args.trace:
        os.makedirs(event_dir)
        conf.update({"spark.eventLog.enabled": "true", "spark.eventLog.dir": "file://" + event_dir,
                     "spark.eventLog.compress": "false",
                     "spark.eventLog.rolling.enabled": "false"})

    t0 = time.time()
    spark = get_spark(app_name=f"perfbench-{wl.name}", master=f"local[{cores}]",
                      shuffle_partitions=cores, extra_conf=conf)
    session_start_s = time.time() - t0
    try:
        sc = spark.sparkContext
        tracer = Tracer(sc if args.trace else None)
        counters = Counters()
        if args.trace:
            counters.install()
        cpu = CpuClock([os.getpid(), SparkContext._gateway.proc.pid])
        ctx = Context(spark, args.seed, work, tracer, bool(args.trace))
        env = {
            "workload": wl.name, "seed": args.seed, "nproc": len(os.sched_getaffinity(0)),
            "ram_gb": round(_mem_total_gb(), 1), "master": sc.master,
            "shuffle_partitions": int(spark.conf.get("spark.sql.shuffle.partitions")),
            "spark": spark.version, "java": sc._jvm.System.getProperty("java.version"),
            "SPARK_DRIVER_MEMORY": DRIVER_MEMORY, "setup_repeats": SETUP_REPEATS,
            "warm_up": "none: fresh JVM per run, first calls include JIT warm-up",
            "traced": bool(args.trace),
        }

        setups = []
        for i in range(SETUP_REPEATS):
            with tracer.span("setup", f"materialize-{i}") as s:
                wl.materialize(ctx)
            setups.append(s["end"] - s["start"])
        with tracer.span("setup", "references") as s:
            ctx.refs = wl.references(ctx)
        env.update(session_start_s=round(session_start_s, 3),
                   materialize_s=[round(x, 3) for x in setups],
                   references_s=round(s["end"] - s["start"], 3))

        passes: list[Pass] = []
        t_measure = time.time()
        while True:
            p = Pass(tracer, cpu)
            cpu0 = cpu()
            counters.reset()
            with tracer.span("workload", wl.name, index=len(passes)) as p.span:
                wl.run_pass(ctx, p)
            p.cpu_s = cpu() - cpu0
            passes.append(p)
            pass_s = p.span["end"] - p.span["start"]
            if time.time() - t_measure + pass_s > args.seconds:
                break
        env["pass_s"] = [round(p.span["end"] - p.span["start"], 3) for p in passes]
        last = passes[-1]
        probe = Pass(tracer, cpu)
        if args.trace:
            with tracer.span("workload", f"{wl.name}-probe") as probe.span:
                wl.probe(ctx, probe)

        peak_rss = _peak_rss_mb([os.getpid(), SparkContext._gateway.proc.pid])
        ckpt_bytes, ckpt_files = checkpoint_usage(work)

        def times(name, cpu=False):
            return _median([(p.cpu_times if cpu else p.times)[name] for p in passes
                            if name in p.times])

        e2e = {
            "setup_s": session_start_s + statistics.median(setups),
            "pass_cpu_s": _median([p.cpu_net for p in passes]),
            **{f"{k}_cpu_s": times(k, cpu=True) for k in ("pagerank", "etl", "resume")},
        }
        walls = {
            "wall_s": _median([p.wall for p in passes]),
            "pagerank_s": times("pagerank"),
            "pagerank_edges_per_s": _median([_edges_per_s(p.results["pagerank"])
                                             for p in passes if "pagerank" in p.results]),
            "etl_s": times("etl"),
            "resume_s": times("resume"),
        }
        op_times = {k: probe.times.get(k.removesuffix("_s"), 0.0)
                    for k in ("wcc_s", "cdlp_s", "triangles_s", "mis_s")}
    except BaseException:
        _stop(spark)
        raise
    _stop(spark)

    if args.trace:
        logs = [os.path.join(event_dir, f) for f in os.listdir(event_dir)]
        untagged = attach_jobs(tracer, read_jobs(logs[0]))
        layers = layer_metrics(tracer, last.span, probe.span, {**probe.results, **last.results},
                               counters)
        layers.update({
            "session.start_s": session_start_s,
            "etl.files": last.counts.get("etl.files", 0),
            "etl.distinct_ids": last.counts.get("etl.distinct_ids", 0),
            "etl.edges": last.counts.get("etl.edges", 0),
            "engine.checkpoint_bytes": ckpt_bytes,
            "engine.checkpoint_files": ckpt_files,
            **{f"trace.{k}": v for k, v in walls.items()},
            "trace.pass_cpu_s": e2e["pass_cpu_s"],
            "trace.untagged_jobs": untagged,
            **{f"{stage}_s": probe.times.get(stage, 0.0) for stage in
               ("etl.file_vertices", "etl.dependency_edges", "etl.cochange_edges",
                "etl.compact_vertex_ids")},
            **op_times,
        })
        spans_dir = os.path.join(out_dir, "spans")
        os.makedirs(spans_dir, exist_ok=True)
        spans_path = os.path.join(spans_dir, f"{wl.name}-seed{args.seed}.jsonl")
        write_spans(spans_path, tracer)
        env["spans"] = os.path.relpath(spans_path, ROOT)
        chosen, values = bench["per_layer"], layers
    else:
        chosen, values = bench["end_to_end"], e2e

    ops = [o for p in passes + [probe] for o in p.ops]
    for name, r in {**probe.results, **last.results}.items():
        print(f"rounds {name} = {r.rounds}")
    failed = sum(not ok for _, ok, _ in ops)
    print("env " + json.dumps(env))
    for name, ok, detail in ops:
        print(f"check {name}: {'ok' if ok else 'FAIL'} ({detail})")
    for name, ok, detail in (k for p in passes for k in p.known):
        print(f"known-defect {name}: {'ok' if ok else 'FAIL'} ({detail}); not counted in failed")
    print(f"error_rate = {failed / max(1, len(ops)):.4f} ({failed} failed / {len(ops)} attempted)")
    if args.trace:
        for k, v in op_times.items():
            print(f"{k} = {v:.4f} s")
    else:
        for k, v in walls.items():
            print(f"{k} = {v:.6g} {'edges/s' if k.endswith('per_s') else 's'} (wall clock)")
    print(f"peak_rss_mb = {peak_rss:.1f} MB")
    metrics = {}
    for m in chosen:
        metrics[m["name"]] = {"value": values[m["name"]], "unit": m["unit"]}
        print(f"{m['name']} = {values[m['name']]:.6g} {m['unit']}")
    print(json.dumps({"correct": failed == 0, "attempted": len(ops), "failed": failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
