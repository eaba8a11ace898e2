#!/usr/bin/env python3
"""Benchmark entry point. Run from the repository root:

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the program and the benchmark from source (once per source state,
cached in .bench_build/), takes a machine-load probe, runs one workload in
one JVM on local[<cores>], checks the outputs, prints one summary line per
metric (median, quartiles, n) and, as the last line, the result object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are BENCHMARK.json's end_to_end set; with
--trace 1 its per_layer set. Run records, gate outputs and spans are kept
under .bench_build/runs/.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
DATA = os.path.join(HERE, "data", "sf0.01")
GATE_WORKLOADS = ("batch_gates",)
TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")
RUN_TIMEOUT_S = 170
# A fixed heap: no resizing noise, and peak RSS reads the heap plus all
# native memory.
JVM_HEAP = ["-Xms3g", "-Xmx3g"]
# JDK 17 needs these for Spark outside spark-submit (as the program's build.sbt sets).
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    """Hash of everything the build reads, so a checkout builds once."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "project"),
             os.path.join(HERE, "src", "main"), os.path.join(HERE, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, dirs, fs in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x != "target")
            files += [os.path.join(d, f) for f in sorted(fs)]
    for f in files:
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile the program and the benchmark with sbt; return the classpath."""
    os.makedirs(BUILD, exist_ok=True)
    cp_file, stamp_file = os.path.join(BUILD, "classpath.txt"), os.path.join(BUILD, "stamp")
    stamp = source_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f, open(cp_file) as g:
            if f.read() == stamp:
                return g.read()
    env = dict(os.environ, COURSIER_MODE="offline")
    env["SBT_OPTS"] = (env.get("SBT_OPTS", "") + " -Dsbt.override.build.repos=true"
                       " -Dsbt.offline=true -Dsbt.server.autostart=false -Xmx2g").strip()
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as out:
        r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                            "export Runtime/fullClasspath"],
                           cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=out,
                           text=True, timeout=800)
        out.write(r.stdout)
    lines = [l for l in r.stdout.splitlines() if "scala-2.13/classes" in l and not l.startswith("[")]
    if r.returncode != 0 or not lines:
        die(f"build failed (exit {r.returncode}); see {log}")
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


def load_probe():
    """Machine load before the run: load averages and the time of a fixed
    CPU-bound loop. Stored with the run; runs are compared by their own
    spread, not against a fixed idle reference."""
    t0 = time.perf_counter()
    x = 0
    for i in range(2_000_000):
        x += i * i
    return {"loadavg": list(os.getloadavg()), "spin_s": time.perf_counter() - t0}


def norm_cell(v):
    if isinstance(v, float):
        return ("f", repr(v))
    if isinstance(v, list):
        return ("l", tuple(norm_cell(x) for x in v))
    return ("v", str(v))


def norm_rows(cols, rows):
    """Columns sorted by name, cells normalised, rows sorted: the program's
    oracle comparison (tools/check_oracle.py, exact mode)."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = sorted(tuple(norm_cell(r[i]) for i in order) for r in rows)
    return [cols[i] for i in order], out


def oracle_check(results, data_dir, gates):
    """Compare each gate's warm-pass output with its DuckDB oracle over the
    same tables. Returns the list of mismatches."""
    import duckdb
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(data_dir, f"{t}.parquet")
        if os.path.isdir(p):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{p}/*.parquet'")
        elif os.path.exists(p):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    with open(os.path.join(results, "oracle_sql.json")) as f:
        oracles = json.load(f)
    bad = []
    for g in gates:
        d = os.path.join(results, g)
        if not os.path.isdir(d):
            continue  # the gate threw; already counted as failed
        if g not in oracles:
            bad.append(f"{g}: no oracle")
            continue
        try:
            got = con.sql(f"SELECT * FROM '{d}/*.parquet'")
            gc, gr = norm_rows(got.columns, got.fetchall())
            exp = con.sql(oracles[g])
            ec, er = norm_rows(exp.columns, exp.fetchall())
        except Exception as e:
            bad.append(f"{g}: {str(e).splitlines()[0]}")
            continue
        if gc != ec:
            bad.append(f"{g}: columns {gc} vs {ec}")
        elif gr != er:
            bad.append(f"{g}: rows differ ({len(gr)} vs {len(er)} rows)")
    return bad


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cores", type=int, default=len(os.sched_getaffinity(0)),
                    help="local[n]; defaults to every core this process may use")
    a = ap.parse_args()
    started = time.monotonic()

    for need in (os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "src", "main", "scala")):
        if not os.path.exists(need):
            die(f"{os.path.relpath(need, ROOT)} not found: run from a full checkout")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    if a.workload not in [w["name"] for w in spec["workloads"]]:
        die(f"unknown workload {a.workload}")
    wanted = spec["per_layer"] if a.trace else spec["end_to_end"]

    cp = build()
    probe = load_probe()
    run_dir = os.path.join(BUILD, "runs", f"{a.workload}-s{a.seed}-t{a.trace}-c{a.cores}")
    shutil.rmtree(run_dir, ignore_errors=True)
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    cmd = (["java", *ADD_OPENS, *JVM_HEAP, f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", cp, "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--cores", str(a.cores), "--data", DATA, "--out", run_dir])
    env = dict(os.environ, SPARK_LOCAL_DIRS=tmp)
    budget = RUN_TIMEOUT_S - (time.monotonic() - started)
    with open(os.path.join(run_dir, "jvm.log"), "w") as log:
        proc = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=log, stderr=subprocess.STDOUT)
        try:
            rc = proc.wait(timeout=budget)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            die(f"run exceeded {RUN_TIMEOUT_S} s; see {run_dir}/jvm.log")
    if rc != 0 or not os.path.exists(os.path.join(run_dir, "result.json")):
        die(f"JVM exited {rc}; see {run_dir}/jvm.log")
    with open(os.path.join(run_dir, "result.json")) as f:
        res = json.load(f)

    errors = list(res["record"].get("errors", []))
    failed = res["failed"]
    if a.workload in GATE_WORKLOADS:
        mismatches = oracle_check(os.path.join(run_dir, "results"), res["record"]["dir"],
                                  res["record"]["gates"])
        errors += mismatches
        failed += len(mismatches)
    # Scratch space and checkpoints are not kept; results and spans are.
    for d in os.listdir(run_dir):
        if d == "tmp" or d.startswith("ckpt-"):
            shutil.rmtree(os.path.join(run_dir, d), ignore_errors=True)

    metrics, missing = {}, []
    for m in wanted:
        got = res["metrics"].get(m["name"])
        if got is None or got["value"] is None or not math.isfinite(got["value"]):
            missing.append(m["name"])
            continue
        metrics[m["name"]] = {"value": got["value"], "unit": m["unit"]}
        print(f"{a.workload:14s} {m['name']:32s} {got['value']:14.6g} {m['unit']:8s} "
              f"q1={got['q1']:.6g} q3={got['q3']:.6g} n={got['n']} {got.get('note', '')}")
    attempted = max(1, res["attempted"])
    print(f"{a.workload:14s} {'failed_frac':32s} {failed / attempted:14.6g} ratio    "
          f"({failed} of {attempted} attempted)")
    for e in errors[:20]:
        print(f"  error: {e}")
    with open(os.path.join(run_dir, "record.json"), "w") as f:
        json.dump({"load_probe": probe, "result": res, "errors": errors,
                   "wall_s": time.monotonic() - started}, f, indent=1)
    correct = failed == 0 and not missing
    if missing:
        print(f"  missing metrics: {missing}")
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
