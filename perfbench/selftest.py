#!/usr/bin/env python3
"""Self-test of the benchmark's correctness checks. Run from the repo root:

    python3 perfbench/selftest.py

1. Each check family must fail on a perturbed output: one written quad
   dropped (construct), one triangle count off by one (analytics graph
   checks), one query result row dropped (analytics DuckDB oracle).
   PERFBENCH_PERTURB makes the harness corrupt what it observed, after the
   timed region and before the checks.
2. Outside a full checkout (only BENCHMARK.json and perfbench/), the
   benchmark must exit non-zero without printing a result.
"""
import json
import os
import shutil
import subprocess
import sys

CASES = [("construct", "quad", "construct.written_digest"),
         ("analytics", "graph", "graph.triangles"),
         ("analytics", "query", "query.dedup_minhash_lsh")]


def run(workload, perturb, cwd="."):
    env = dict(os.environ, PERFBENCH_PERTURB=perturb)
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7",
           "--seconds", "1", "--trace", "0"]
    return subprocess.run(cmd, cwd=cwd, env=env, capture_output=True, text=True, timeout=900)


def main():
    ok = True
    for workload, perturb, check in CASES:
        p = run(workload, perturb)
        lines = p.stdout.strip().splitlines()
        result = json.loads(lines[-1]) if lines else {}
        caught = (p.returncode == 0 and result.get("correct") is False and result.get("failed", 0) >= 1
                  and f"check failed: {check}" in p.stderr)
        print(f"{workload} with perturbation '{perturb}': "
              f"{'caught by ' + check if caught else 'NOT CAUGHT'}")
        ok &= caught

    bare = os.path.abspath(".bench_build/selftest-bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    shutil.copy("BENCHMARK.json", bare)
    shutil.copytree("perfbench", os.path.join(bare, "perfbench"))
    p = run("construct", "", cwd=bare)
    refused = p.returncode != 0 and not p.stdout.strip()
    print(f"outside a checkout: {'refused' if refused else 'NOT REFUSED'} (exit {p.returncode})")
    ok &= refused
    shutil.rmtree(bare, ignore_errors=True)
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
