#!/usr/bin/env python3
"""The repository benchmark: one command per (workload, seed, trace) run.

Usage (from the repository root):
  python3 perfbench/run.py --workload catalog|medallion|index-maintain \
      --seed N --seconds S --trace 0|1 [--record-reference]

Builds the program and the benchmark from source with sbt the first time
(and whenever a source changes), generates the inputs, runs one workload
in one JVM on local[nproc] with its own fresh index, Spark-local, temp and
output dirs (all removed afterwards), and prints every metric by name and
unit with its sample count. The last stdout line is one JSON object:
  {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
with the end-to-end metrics of BENCHMARK.json (--trace 0) or its per-layer
metrics (--trace 1). The full result, and for traced runs the spans, are
kept under .bench_results/ for perfbench/tracediff.py.

--record-reference writes the run's output fingerprints into
perfbench/reference/ (used once, on a tree whose catalog passes the DuckDB
oracle, to take the reference the checks compare against).
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

ROOT = os.getcwd()
HERE = os.path.dirname(os.path.abspath(__file__))
BUILD = os.path.join(ROOT, ".bench_build")
RESULTS = os.path.join(ROOT, ".bench_results")
WORKLOADS = ("catalog", "medallion", "index-maintain")
# Inputs of the catalog tables: sf0.01-sized (see gendata.py).
DATA_SCALE = "0.01"
# a run after the build must end within 180 s
RUN_LIMIT_S = 170
JVM_HEAP = "-Xmx3g"


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def sources_key():
    """Digest of every file the build reads, so an edited tree rebuilds."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(ROOT, "project"), os.path.join(HERE, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, dirs, fs in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """sbt-compile program + benchmark; returns the JVM launch arguments."""
    if not os.path.isfile(os.path.join(ROOT, "build.sbt")) or \
            not os.path.isdir(os.path.join(ROOT, "src", "main")):
        raise SystemExit("perfbench: run from the repository root (no build.sbt/src here)")
    launch = os.path.join(BUILD, "launch.txt")
    key_file = os.path.join(BUILD, "launch.key")
    key = sources_key()
    fresh = os.path.isfile(launch) and os.path.isfile(key_file) and \
        open(key_file).read() == key
    if not fresh:
        log("building program and benchmark with sbt")
        os.makedirs(BUILD, exist_ok=True)
        env = dict(os.environ)
        env["COURSIER_MODE"] = "offline"
        env["SBT_OPTS"] = (env.get("SBT_OPTS") or "-Xmx2g") + \
            " -Dsbt.override.build.repos=true -Dsbt.offline=true"
        r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "launchSpec"],
                           cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr,
                           stdin=subprocess.DEVNULL)
        if r.returncode != 0 or not os.path.isfile(launch):
            raise SystemExit(f"perfbench: build failed (sbt exit {r.returncode})")
        with open(key_file, "w") as fh:
            fh.write(key)
    with open(launch) as fh:
        return [ln for ln in fh.read().splitlines() if ln]


def unit_of(name):
    if name.endswith("rows_per_s"):
        return "1/s"
    if name.endswith("_ms") or name.endswith("ms_per_job"):
        return "ms"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("_s"):
        return "s"
    return "count"


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record-reference", action="store_true")
    args = ap.parse_args()
    # a terminated run still stops its JVM and removes its run dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    launch = build()
    cores = os.cpu_count() or 1
    t_run = time.time()

    run_id = f"{args.workload}-s{args.seed}-t{args.trace}"
    run_dir = os.path.join(ROOT, ".bench_runs", f"{run_id}-{os.getpid()}")
    os.makedirs(RESULTS, exist_ok=True)
    out_file = os.path.join(RESULTS, f"{run_id}.json")
    spans_file = os.path.join(RESULTS, f"{run_id}.spans.jsonl")
    for f in (out_file, spans_file):
        if os.path.exists(f):
            os.remove(f)
    proc = None
    try:
        for d in ("index", "tmp", "spark-local", "data"):
            os.makedirs(os.path.join(run_dir, d))
        data = os.path.join(run_dir, "data")
        if args.workload != "medallion":
            subprocess.run([sys.executable, os.path.join(HERE, "gendata.py"), data, DATA_SCALE],
                           check=True)
        # set-up time counts from the JVM launch: the program's, not the
        # benchmark's own input generation
        t_start = time.time()
        env = dict(os.environ)
        env["GRAFT_INDEX_DIR"] = os.path.join(run_dir, "index")
        cmd = ["java"] + launch[:-2] + [
            JVM_HEAP, f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}",
            "-cp", launch[-1], "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--data", data, "--run", run_dir, "--ref", os.path.join(HERE, "reference"),
            "--out", out_file, "--spans", spans_file, "--cores", str(cores),
            "--t0-ms", str(int(t_start * 1000))]
        proc = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=sys.stderr,
                                stderr=sys.stderr, stdin=subprocess.DEVNULL,
                                start_new_session=True)
        try:
            rc = proc.wait(timeout=max(10, RUN_LIMIT_S - (time.time() - t_run)))
        except subprocess.TimeoutExpired:
            raise SystemExit("perfbench: run exceeded its time limit")
        if rc != 0 or not os.path.isfile(out_file):
            raise SystemExit(f"perfbench: benchmark JVM failed (exit {rc})")
    finally:
        if proc is not None and proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(run_dir))
        except OSError:
            pass

    res = json.load(open(out_file))
    if args.record_reference:
        ref_dir = os.path.join(HERE, "reference")
        os.makedirs(ref_dir, exist_ok=True)
        with open(os.path.join(ref_dir, f"{args.workload}.json"), "w") as fh:
            json.dump(res["notes"]["fingerprints"], fh, indent=1, sort_keys=True)
            fh.write("\n")
        log(f"recorded reference for {args.workload}")

    m = res["machine"]
    print(f"run {run_id}: cores_used={m['cores_used']} loadavg {m['loadavg_start']:.2f}"
          f" -> {m['loadavg_end']:.2f} steal={m['steal_frac']:.4f} jvm={m['jvm']}"
          f" spark={m['spark']} commit={source_commit()}")
    if m["busy"]:
        print("WARNING: the machine was busy during this run (load or steal); "
              "its timings overstate the program's cost")
    smp = res["samples"]
    print(f"samples: steady_passes={smp['steady_passes']}"
          f" ops={smp['ops']} attempted={res['attempted']} failed={res['failed']}"
          f" fail_frac={res['failed'] / max(1, res['attempted']):.4f}")
    bad = {k: v for k, v in res["checks"].items() if v != "ok"}
    print(f"checks: {len(res['checks']) - len(bad)}/{len(res['checks'])} ok"
          + "".join(f"\n  MISMATCH {k}: {v}" for k, v in bad.items()))
    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    source = res["layers"] if args.trace else res["e2e"]
    missing = [w["name"] for w in spec["end_to_end"] if w["name"] not in res["e2e"]]
    if missing:
        raise SystemExit(f"perfbench: the run produced no {missing}")
    # a per-layer metric of a layer the workload never enters reads 0
    metrics = {w["name"]: {"value": float(source.get(w["name"], 0.0)), "unit": w["unit"]}
               for w in wanted}
    for k, v in (res["layers"] if args.trace else res["e2e"]).items():
        print(f"  {k} = {v} {unit_of(k)}")
    print(json.dumps({"correct": bool(res["correct"]), "attempted": int(res["attempted"]),
                      "failed": int(res["failed"]), "metrics": metrics}))


def source_commit():
    """git HEAD when the checkout is a repository, else a digest of the sources."""
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                           text=True, timeout=10)
        if r.returncode == 0:
            return r.stdout.strip()
    except (OSError, subprocess.SubprocessError):
        pass
    return "src-sha256:" + sources_key()[:16]


if __name__ == "__main__":
    main()
