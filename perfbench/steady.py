#!/usr/bin/env python3
"""Steadiness check: run workloads repeatedly, each run in a fresh JVM with
its own seed, and report the median and quartiles of every end-to-end
metric, flagging a metric whose spread (interquartile distance over the
median) exceeds its bound in BENCHMARK.json. The bounds are set from this
tool's output.

    python3 perfbench/steady.py --workload dashboard --runs 10
    python3 perfbench/steady.py --workload all --runs 10 --first-seed 101

Exits 1 when a spread (setup_s aside) exceeds its bound or a run fails.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)


def load_spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def run_once(workload, seed, seconds, trace):
    cmd = [sys.executable, os.path.join(BENCH_DIR, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    t0 = time.time()
    proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, cwd=ROOT)
    wall = time.time() - t0
    lines = [l for l in proc.stdout.decode(errors="replace").splitlines() if l.strip()]
    if proc.returncode != 0 or not lines:
        return None, wall
    return json.loads(lines[-1]), wall


def summarize(values):
    q1, q2, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return {"median": med, "q1": q1, "q3": q3,
            "spread": (q3 - q1) / abs(med) if med else float("inf")}


def main():
    spec = load_spec()
    names = [w["name"] for w in spec["workloads"]]
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, help="a workload name or 'all'")
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=spec["run_seconds"])
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    workloads = names if a.workload == "all" else [a.workload]
    metrics = spec["end_to_end"] if a.trace == 0 else spec["per_layer"]
    bad = False
    report = {}
    for w in workloads:
        vals = {m["name"]: [] for m in metrics}
        walls, failures = [], 0
        for k in range(a.runs):
            seed = a.first_seed + k
            res, wall = run_once(w, seed, a.seconds, a.trace)
            walls.append(wall)
            if res is None or not res["correct"] or res["failed"]:
                failures += 1
                print(f"{w} seed {seed}: run failed or incorrect: {res}", flush=True)
                continue
            for m in metrics:
                vals[m["name"]].append(res["metrics"][m["name"]]["value"])
            print(f"{w} seed {seed} ({wall:.0f}s): " + ", ".join(
                f"{n}={v[-1]:.4g}" for n, v in vals.items()), flush=True)
        rows = {}
        print(f"\n{w}: {a.runs} runs, {failures} failed, wall per run "
              f"{statistics.median(walls):.1f}s (max {max(walls):.1f}s)")
        for m in metrics:
            v = vals[m["name"]]
            if len(v) < 2:
                continue
            s = summarize(v)
            bound = m.get("bound")
            flag = ""
            if bound is not None and m["name"] != "setup_s" and s["spread"] > bound:
                flag, bad = "  EXCEEDS BOUND", True
            elif bound is not None and s["spread"] > bound / 3:
                flag = "  above a third of the bound"
            rows[m["name"]] = dict(s, bound=bound, values=v)
            print(f"  {m['name']:<28} median {s['median']:<12.5g} q1 {s['q1']:<12.5g} "
                  f"q3 {s['q3']:<12.5g} spread {s['spread']:.3f}"
                  + (f" / bound {bound}" if bound is not None else "") + flag)
        report[w] = {"runs": a.runs, "failed": failures, "wall_s": walls, "metrics": rows}
        bad = bad or failures > 0
    out = os.path.join(ROOT, ".bench_build", f"steady-{a.workload}-t{a.trace}.json")
    os.makedirs(os.path.dirname(out), exist_ok=True)
    with open(out, "w") as fh:
        json.dump(report, fh, indent=1)
    print(f"\nwritten {os.path.relpath(out, ROOT)}")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
