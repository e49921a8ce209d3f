#!/usr/bin/env python3
"""Run the benchmark once per seed and summarize each metric's spread.

Usage (from the repository root):
  python3 perfbench/repeat.py --workloads catalog,medallion --seeds 1-10 \
      [--seconds 10] [--trace 0] [--out summary.json]

For every workload and metric it prints the median, the quartiles as
statistics.quantiles(values, n=4) gives them, and the spread
(Q3 - Q1) / median next to the metric's bound from BENCHMARK.json, plus
whether every run was correct. Runs are sequential; each is one
perfbench/run.py call.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.getcwd()
HERE = os.path.dirname(os.path.abspath(__file__))


def seeds_of(spec):
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += list(range(int(lo), int(hi or lo) + 1))
    return out


def summarize(values):
    med = statistics.median(values)
    q1, _, q3 = statistics.quantiles(values, n=4) if len(values) > 1 else (med, med, med)
    return {"median": med, "q1": q1, "q3": q3,
            "spread": (q3 - q1) / med if med else 0.0, "n": len(values)}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workloads", required=True)
    ap.add_argument("--seeds", required=True)
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--out")
    args = ap.parse_args()
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    seconds = args.seconds or spec["run_seconds"]
    bounds = {m["name"]: m.get("bound") for m in spec["end_to_end"]}
    summary = {}
    for w in args.workloads.split(","):
        runs = []
        for seed in seeds_of(args.seeds):
            t = time.time()
            r = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
                                "--seed", str(seed), "--seconds", str(seconds),
                                "--trace", str(args.trace)],
                               capture_output=True, text=True)
            wall = time.time() - t
            lines = r.stdout.strip().splitlines()
            if r.returncode != 0 or not lines:
                print(f"{w} seed {seed}: FAILED (exit {r.returncode})\n{r.stderr[-1500:]}",
                      flush=True)
                continue
            res = json.loads(lines[-1])
            res["seed"], res["wall_s"] = seed, wall
            busy = any(ln.startswith("WARNING: the machine was busy") for ln in lines)
            res["busy"] = busy
            runs.append(res)
            print(f"{w} seed {seed}: wall {wall:.1f}s correct={res['correct']} "
                  f"failed={res['failed']}/{res['attempted']}" + (" BUSY" if busy else "") + " "
                  + " ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()),
                  flush=True)
        metrics = {}
        for name in (runs[0]["metrics"] if runs else {}):
            metrics[name] = summarize([r["metrics"][name]["value"] for r in runs])
            metrics[name]["bound"] = bounds.get(name)
        summary[w] = {"runs": runs, "metrics": metrics,
                      "all_correct": all(r["correct"] and r["failed"] == 0 for r in runs),
                      "wall": summarize([r["wall_s"] for r in runs]) if runs else None}
        print(f"== {w}: {len(runs)} runs, all correct: {summary[w]['all_correct']}, "
              f"median wall {summary[w]['wall']['median'] if runs else 0:.1f}s")
        for name, s in metrics.items():
            b = s["bound"]
            flag = "" if b is None else ("  ok" if s["spread"] <= b / 3 else
                                         ("  within bound" if s["spread"] <= b else "  OVER BOUND"))
            print(f"   {name:24s} median {s['median']:.5g}  q1 {s['q1']:.5g}  q3 {s['q3']:.5g}"
                  f"  spread {s['spread']:.4f}" + (f" / bound {b}{flag}" if b is not None else ""))
    if args.out:
        with open(args.out, "w") as fh:
            json.dump(summary, fh, indent=1)
            fh.write("\n")


if __name__ == "__main__":
    main()
