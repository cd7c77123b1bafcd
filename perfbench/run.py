#!/usr/bin/env python3
"""Benchmark entry point. Run from the repo root:

    python3 perfbench/run.py --workload construct --seed 1 --seconds 10 --trace 0

Builds the program and the harness if their sources changed, generates the
workload's inputs from the seed, times the workload in one JVM at
local[<cores>], checks its outputs against references computed outside the
measured program, and prints one JSON line as the last line of stdout:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the metrics
are BENCHMARK.json's end_to_end list, with --trace 1 its per_layer list.
The full record (checks, host probes, pass walls) and, when tracing, the
span file go to .bench_build/records/.
"""
import argparse
import glob
import hashlib
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import threading
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

LIMIT_S = 170          # a run must end within 180 s
FIRST_BUILD_S = 880    # the first run in a checkout may take 900 s
JVM_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def host_probes(work):
    """sha256 MB/s at 1 and nproc threads, and write GB/s into the work dir.
    Recorded beside the run only; never used to discard or pick runs."""
    buf = os.urandom(1 << 20)

    def hash_for(seconds, out, i):
        n, t0 = 0, time.monotonic()
        while time.monotonic() - t0 < seconds:
            hashlib.sha256(buf).digest()
            n += 1
        out[i] = n / (time.monotonic() - t0)

    one = [0.0]
    hash_for(0.3, one, 0)
    nproc = os.cpu_count() or 1
    many = [0.0] * nproc
    threads = [threading.Thread(target=hash_for, args=(0.3, many, i)) for i in range(nproc)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    path = os.path.join(work, "write.probe")
    chunk = os.urandom(4 << 20)
    t0 = time.monotonic()
    with open(path, "wb") as f:
        for _ in range(16):
            f.write(chunk)
        f.flush()
    write_gbps = (64 / 1024) / (time.monotonic() - t0)
    os.remove(path)
    return {"sha256_mbps_1": round(one[0], 1), f"sha256_mbps_{nproc}": round(sum(many), 1),
            "write_gbps": round(write_gbps, 3), "nproc": nproc}


def run_jvm(args, work, record, deadline):
    cp = build.classpath()
    # a fixed heap size keeps the collector's sizing the same in every run;
    # it is not pre-touched, so jvm.peak_rss_mb counts the heap pages used
    cmd = (["java", "-Xms3g", "-Xmx3g", "-Xss16m", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={work}/tmp",
            "-Dlog4j2.configurationFile=perfbench/log4j2.properties"] + JVM_OPENS +
           ["-cp", cp, "perfbench.Main", args.workload, str(args.seed), str(args.seconds),
            str(args.trace), work, record])
    os.makedirs(f"{work}/tmp", exist_ok=True)
    with open(f"{work}/jvm.log", "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, start_new_session=True)
        try:
            rc = p.wait(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            rc = None
    return rc


def norm(v):
    if isinstance(v, float):
        return "nan" if math.isnan(v) else f"{v:.6g}"
    if isinstance(v, bool):
        return str(int(v))
    return str(v)


def canon(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(norm(r[i]) for i in order) for r in rows)


def oracle_checks(work):
    """Each query's result must equal SparkEntry.oracleSql run in DuckDB on
    the same generated tables (columns by name, rows as a multiset, floats
    to six significant digits)."""
    import duckdb
    results = f"{work}/results"
    sql = json.load(open(f"{results}/oracle_sql.json"))
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for path in glob.glob(f"{work}/in/tables/*.parquet"):
        name = os.path.basename(path)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{path}/*.parquet'")
    checks = []
    for name, q in sorted(sql.items()):
        files = glob.glob(f"{results}/{name}/*.parquet")
        if not files:
            checks.append({"name": f"query.{name}", "ok": False, "detail": "no result"})
            continue
        s = con.execute(f"SELECT * FROM '{results}/{name}/*.parquet'")
        scols = [d[0] for d in s.description]
        srows = s.fetchall()
        try:
            o = con.execute(q)
            ocols = [d[0] for d in o.description]
            orows = o.fetchall()
        except Exception as e:  # an oracle that cannot run is a failed check
            checks.append({"name": f"query.{name}", "ok": False, "detail": f"oracle error {e}"})
            continue
        ok = sorted(scols) == sorted(ocols) and canon(srows, scols) == canon(orows, ocols)
        checks.append({"name": f"query.{name}", "ok": ok,
                       "detail": f"spark_rows={len(srows)} oracle_rows={len(orows)}"})
    return checks


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    t_start = time.monotonic()

    try:
        spec = json.load(open("BENCHMARK.json"))
    except OSError:
        fail("BENCHMARK.json not found; run from the repo root")
    if args.workload not in [w["name"] for w in spec["workloads"]]:
        fail(f"unknown workload {args.workload}")
    if not os.path.isdir("src/main/scala"):
        fail("src/main/scala not found; run from the repo root")

    os.makedirs(build.BUILD_DIR, exist_ok=True)
    first = not os.path.exists(build.STAMP)
    built_s = build.build(timeout=FIRST_BUILD_S if first else LIMIT_S - 60)
    deadline = t_start + (FIRST_BUILD_S if built_s else LIMIT_S)

    work = os.path.abspath(f"{build.BUILD_DIR}/work/{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    records = f"{build.BUILD_DIR}/records"
    os.makedirs(records, exist_ok=True)
    t0 = time.monotonic()
    host = host_probes(work)
    t1 = time.monotonic()
    record_path = f"{work}/record.json"
    with open(f"{work}/per_layer.txt", "w") as f:
        f.write("".join(m["name"] + "\n" for m in spec["per_layer"]))
    rc = run_jvm(args, work, record_path, deadline)
    t2 = time.monotonic()
    if rc != 0 or not os.path.exists(record_path):
        print(open(f"{work}/jvm.log", errors="replace").read()[-3000:], file=sys.stderr)
        fail("timed out" if rc is None else f"JVM exited with {rc}", 3)
    rec = json.load(open(record_path))
    if args.workload == "analytics":
        rec["checks"] += oracle_checks(work)
    rec["phases_s"] = {"pre": t0 - t_start, "probes": t1 - t0, "jvm": t2 - t1,
                       "oracle": time.monotonic() - t2}

    checks = rec["checks"]
    failed_checks = [c for c in checks if not c["ok"]]
    for c in failed_checks:
        print(f"perfbench: check failed: {c['name']}: {c['detail']}", file=sys.stderr)
    attempted = rec["ops"] + len(checks)
    failed = rec["failed_ops"] + len(failed_checks)

    measured = rec["metrics"]
    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    metrics = {m["name"]: {"value": measured.get(m["name"]), "unit": m["unit"]} for m in wanted}

    rec.update({"host": host, "build_s": built_s, "wall_s": time.monotonic() - t_start,
                "metrics_out": metrics})
    stem = f"{records}/{args.workload}-seed{args.seed}-trace{args.trace}"
    if args.trace and rec.get("spans"):
        with open(f"{stem}-spans.json", "w") as f:
            json.dump(rec["spans"], f, indent=1)
    rec.pop("spans", None)
    with open(f"{stem}.json", "w") as f:
        json.dump(rec, f, indent=1)
    shutil.rmtree(work, ignore_errors=True)

    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
