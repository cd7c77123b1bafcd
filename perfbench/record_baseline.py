#!/usr/bin/env python3
"""Records a baseline of the benchmark on this host. Run from the repo root:

    python3 perfbench/record_baseline.py --first-seed 101 --out perfbench/baseline/local4.json

Runs every workload of BENCHMARK.json ten times at its run_seconds, each
time with the next seed, then once with --trace 1, and writes the runs and,
per end-to-end metric, the median and the interquartile range as a share of
the median (statistics.quantiles(values, n=4)).
"""
import argparse
import datetime
import json
import os
import statistics
import subprocess
import sys

RECORDS = ".bench_build/records"


def run(workload, seed, seconds, trace):
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", str(trace)]
    p = subprocess.run(cmd, capture_output=True, text=True)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        sys.exit(f"baseline: {workload} seed {seed} failed:\n{p.stderr[-3000:]}")
    full = json.load(open(f"{RECORDS}/{workload}-seed{seed}-trace{trace}.json"))
    return json.loads(lines[-1]), full


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--first-seed", type=int, default=101)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    spec = json.load(open("BENCHMARK.json"))
    seconds = spec["run_seconds"]
    cpu = [l.split(":", 1)[1].strip() for l in open("/proc/cpuinfo") if l.startswith("model name")]
    mem_kb = [int(l.split()[1]) for l in open("/proc/meminfo") if l.startswith("MemTotal")][0]
    out = {"host": {"nproc": os.cpu_count(), "cpu": cpu[0] if cpu else "",
                    "mem_gb": round(mem_kb / 1048576, 1), "master": f"local[{os.cpu_count()}]"},
           "date": datetime.date.today().isoformat(), "run_seconds": seconds, "workloads": {}}
    seeds = range(args.first_seed, args.first_seed + args.runs)
    for w in spec["workloads"]:
        name = w["name"]
        runs = []
        for seed in seeds:
            res, full = run(name, seed, seconds, 0)
            runs.append({"seed": seed, "correct": res["correct"], "attempted": res["attempted"],
                         "failed": res["failed"],
                         "metrics": {k: v["value"] for k, v in res["metrics"].items()},
                         "pass_walls_s": full["info"].get("pass_walls_s"),
                         "setup_reps_s": full["info"].get("setup_reps_s"),
                         "host": full["host"], "wall_s": round(full["wall_s"], 1)})
            print(name, seed, runs[-1]["metrics"], flush=True)
        summary = {}
        for m in spec["end_to_end"]:
            v = [r["metrics"][m["name"]] for r in runs]
            q = statistics.quantiles(v, n=4)
            med = statistics.median(v)
            summary[m["name"]] = {"median": med, "q1": q[0], "q3": q[2],
                                  "iqr_share": (q[2] - q[0]) / med, "bound": m["bound"]}
            print(name, m["name"], f"median {med:.4g}", f"iqr/median {(q[2] - q[0]) / med:.4f}",
                  f"bound {m['bound']}", flush=True)
        res, full = run(name, seeds[-1] + 1, seconds, 1)
        traced = {"seed": seeds[-1] + 1, "correct": res["correct"], "attempted": res["attempted"],
                  "failed": res["failed"], "metrics": {k: v["value"] for k, v in res["metrics"].items()},
                  "info": full["info"], "wall_s": round(full["wall_s"], 1)}
        out["workloads"][name] = {"summary": summary, "runs": runs, "traced_run": traced}
    os.makedirs(os.path.dirname(args.out) or ".", exist_ok=True)
    with open(args.out, "w") as f:
        json.dump(out, f, indent=1)


if __name__ == "__main__":
    main()
