"""Steadiness self-check: run the benchmark as sets of seeded runs and
report, per workload and end-to-end metric, each set's median and
spread against the metric's bound in BENCHMARK.json, and how far the
second set's median moved from the first's.

    python3 perfbench/check_steady.py --workload repo-etl-durable --seeds 1-10 --sets 2
    python3 perfbench/check_steady.py --seeds 1-3 --sets 1 --trace-overhead

spread = (Q3 - Q1) / median of a set, quartiles as
statistics.quantiles(values, n=4) gives them. It must stay within the
bound for every metric but setup_s (the tuning target is a third of the
bound). drift = how much worse the second set's median is than the
first's, as a share of the first; it must stay within the bound for
every metric. --trace-overhead also runs each seed traced and reports
the median traced pass time minus the median untraced one, wall clock
(trace.wall_s against the printed wall_s) and CPU (trace.pass_cpu_s
against pass_cpu_s). Exits 1 if any check fails. Every run's result line is appended
to .perfbench/steady.jsonl.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def seeds(spec: str) -> list[int]:
    if "-" in spec:
        lo, hi = map(int, spec.split("-"))
        return list(range(lo, hi + 1))
    return [int(s) for s in spec.split(",")]


def run_once(workload: str, seed: int, seconds: int, trace: int) -> dict:
    t0 = time.time()
    proc = subprocess.run(
        [sys.executable, os.path.join(ROOT, "perfbench", "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=600)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stderr[-4000:])
        raise RuntimeError(f"{workload} seed {seed}: exit {proc.returncode}")
    result = json.loads(lines[-1])
    wall = {ln.split(" = ")[0]: float(ln.split(" = ")[1].split()[0])
            for ln in lines if ln.endswith("(wall clock)")}
    result.update(workload=workload, seed=seed, trace=trace, run_s=time.time() - t0, wall=wall)
    os.makedirs(os.path.join(ROOT, ".perfbench"), exist_ok=True)
    with open(os.path.join(ROOT, ".perfbench", "steady.jsonl"), "a") as fh:
        fh.write(json.dumps(result) + "\n")
    return result


def spread(values: list[float]) -> float:
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)


def worse_by(first: float, second: float, better: str) -> float:
    change = (second - first) / first
    return change if better == "lower" else -change


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", action="append", choices=[w["name"] for w in bench["workloads"]],
                    help="repeatable; default: every workload")
    ap.add_argument("--seeds", default="1-10", help="'1-10' or '3,5,8'")
    ap.add_argument("--sets", type=int, default=2, choices=(1, 2))
    ap.add_argument("--seconds", type=int, default=bench["run_seconds"])
    ap.add_argument("--trace-overhead", action="store_true")
    args = ap.parse_args()

    ok = True
    for wl in args.workload or [w["name"] for w in bench["workloads"]]:
        sets = []
        for k in range(args.sets):
            runs = []
            for seed in seeds(args.seeds):
                r = run_once(wl, seed, args.seconds, 0)
                print(f"{wl} set {k + 1} seed {seed}: correct={r['correct']} "
                      f"failed={r['failed']}/{r['attempted']} run {r['run_s']:.0f} s", flush=True)
                ok &= r["correct"]
                runs.append(r)
            sets.append(runs)
        print(f"\n{wl}: {len(sets[0])} runs per set")
        print(f"{'metric':24} {'bound':>6} " + " ".join(
            f"{'median' + str(k + 1):>12} {'spread' + str(k + 1):>8}" for k in range(len(sets)))
            + ("  drift" if len(sets) == 2 else ""))
        for m in bench["end_to_end"]:
            name, bound = m["name"], m["bound"]
            cols, medians = [], []
            for runs in sets:
                vals = [r["metrics"][name]["value"] for r in runs]
                s = spread(vals) if len(vals) > 1 else 0.0
                medians.append(statistics.median(vals))
                flag = "!" if s > bound and name != "setup_s" else ("~" if s > bound / 3 else " ")
                ok &= flag != "!"
                cols.append(f"{medians[-1]:12.5g} {s:7.3f}{flag}")
            line = f"{name:24} {bound:6.2f} " + " ".join(cols)
            if len(sets) == 2:
                d = worse_by(medians[0], medians[1], m["better"])
                ok &= d <= bound
                line += f" {d:+7.3f}{'!' if d > bound else ''}"
            print(line)
        if args.trace_overhead:
            traced = [run_once(wl, seed, args.seconds, 1)["metrics"] for seed in seeds(args.seeds)]
            for what, t_name, u_of in (
                    ("wall", "trace.wall_s", lambda r: r["wall"]["wall_s"]),
                    ("CPU", "trace.pass_cpu_s", lambda r: r["metrics"]["pass_cpu_s"]["value"])):
                t = statistics.median(m[t_name]["value"] for m in traced)
                u = statistics.median(map(u_of, sets[0]))
                print(f"tracing overhead ({what}): traced {t:.3f} s - untraced {u:.3f} s = "
                      f"{t - u:+.3f} s ({(t - u) / u:+.1%})")
        print(flush=True)
    print("steady" if ok else "NOT steady (! = over the bound, ~ = over a third of it)")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
