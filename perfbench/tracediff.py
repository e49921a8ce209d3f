#!/usr/bin/env python3
"""Compare benchmark results layer by layer.

Usage (from the repository root):
  python3 perfbench/tracediff.py --base A.json [A2.json ...] --new B.json [B2.json ...]

Each file is a full run result that perfbench/run.py keeps under
.bench_results/ (<workload>-s<seed>-t<trace>.json). With several files on
a side, each metric is that side's median. It prints the end-to-end
metrics, then every per-layer metric both sides have, with the change as a
share of the base, largest change first.

When one side holds traced runs and the other untraced runs of the same
workload, the end-to-end difference is the tracing overhead, and it is
reported as such. When both sides are traced, the per-layer table shows
where a change moved time or work.
"""
import argparse
import json
import statistics


def load(paths):
    runs = [json.load(open(p)) for p in paths]
    workloads = {r["workload"] for r in runs}
    if len(workloads) != 1:
        raise SystemExit(f"one workload per side, got {sorted(workloads)}")
    traced = {r["trace"] for r in runs}
    if len(traced) != 1:
        raise SystemExit("mix of traced and untraced runs on one side")

    def med(section):
        keys = set.intersection(*(set(r[section]) for r in runs))
        return {k: statistics.median(r[section][k] for r in runs) for k in keys}
    return {"workload": workloads.pop(), "trace": traced.pop(), "n": len(runs),
            "e2e": med("e2e"), "layers": med("layers"),
            "correct": all(r["correct"] for r in runs)}


def table(title, base, new):
    rows = []
    for k in sorted(set(base) & set(new)):
        b, n = base[k], new[k]
        change = (n - b) / b if b else (0.0 if n == b else float("inf"))
        rows.append((k, b, n, change))
    rows.sort(key=lambda r: -abs(r[3]) if r[3] != float("inf") else float("-inf"))
    print(f"\n{title}")
    print(f"  {'metric':36s} {'base':>14s} {'new':>14s} {'change':>9s}")
    for k, b, n, c in rows:
        cs = "   n/a" if c == float("inf") else f"{c:+8.1%}"
        print(f"  {k:36s} {b:14.6g} {n:14.6g} {cs}")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--base", nargs="+", required=True)
    ap.add_argument("--new", nargs="+", required=True)
    args = ap.parse_args()
    base, new = load(args.base), load(args.new)
    if base["workload"] != new["workload"]:
        raise SystemExit(f"workloads differ: {base['workload']} vs {new['workload']}")
    print(f"workload {base['workload']}: base {base['n']} run(s) trace={base['trace']}, "
          f"new {new['n']} run(s) trace={new['trace']}; "
          f"all correct: base {base['correct']}, new {new['correct']}")
    if base["trace"] != new["trace"]:
        untraced, traced = (base, new) if base["trace"] == 0 else (new, base)
        table("tracing overhead: end-to-end metrics, untraced (base) vs traced (new)",
              untraced["e2e"], traced["e2e"])
        return
    table("end-to-end metrics", base["e2e"], new["e2e"])
    if base["trace"] == 1:
        table("per-layer metrics", base["layers"], new["layers"])


if __name__ == "__main__":
    main()
