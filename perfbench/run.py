#!/usr/bin/env python3
"""Benchmark entry point: one workload, one seed, one JSON line.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the root of a checkout. The script builds the engine and the
benchmark from source (sbt, offline; rebuilt only when a source changes),
runs the workload in a fresh JVM over the tables in `perfbench/data/`,
checks the results the JVM dumped against DuckDB, and prints as its last
stdout line

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

with every end-to-end metric of BENCHMARK.json (--trace 0) or every
per-layer metric (--trace 1). Everything it writes lives under
`.perfbench/` in the checkout; per-run warehouses are deleted on exit.
"""
import argparse
import decimal
import datetime
import hashlib
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
WORKLOADS = ["pipeline_suite", "lakehouse_ingest", "metadata_scale"]
# The project's 1%-scale fixtures; every seed of a workload reads the same
# bytes (the workload seed draws everything else).
DATA = os.path.join(HERE, "data")
TABLES = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem",
          "events", "documents", "embeddings"]
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_files():
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")]
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    return sorted(files)


def build():
    """Compile engine + benchmark; return the runtime classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        die(f"no engine sources under {ROOT}/src/main/scala: run from a full checkout")
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    stamp = os.path.join(WORK, "build", h.hexdigest()[:16] + ".classpath")
    if os.path.exists(stamp):
        with open(stamp) as fh:
            return fh.read().strip()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.exists(repos):
        env["SBT_OPTS"] = (f"-Dsbt.override.build.repos=true -Dsbt.repository.config={repos} "
                           "-Dsbt.offline=true -Xmx4g")
    print("perfbench: building engine and benchmark (sbt)", file=sys.stderr)
    with subprocess.Popen(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                           "export Runtime/fullClasspath"], cwd=HERE, env=env,
                          stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
                          start_new_session=True) as p:
        try:
            out, _ = p.communicate(timeout=840)
        finally:
            if p.poll() is None:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()
    lines = [l for l in out.splitlines() if l and not l.startswith("[")]
    if p.returncode != 0 or not lines:
        sys.stderr.write(out[-4000:])
        die("build failed")
    os.makedirs(os.path.dirname(stamp), exist_ok=True)
    with open(stamp + ".tmp", "w") as fh:
        fh.write(lines[-1])
    os.replace(stamp + ".tmp", stamp)
    return lines[-1]


def heap():
    """Half the host's memory in GB, clamped to [2, 8]."""
    try:
        with open("/proc/meminfo") as fh:
            kb = int(next(l for l in fh if l.startswith("MemTotal:")).split()[1])
        return f"{min(8, max(2, kb // 2097152))}g"
    except (OSError, StopIteration, ValueError):
        return "2g"


def run_jvm(cp, args, work, timeout):
    env = dict(os.environ)
    env["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # A fixed heap under the stop-the-world throughput collector: no
    # concurrent marking threads compete with the operations for the cores
    # and caches, and collector pauses are not CPU time of a Java thread.
    cmd = ["java", f"-Xms{heap()}", f"-Xmx{heap()}", "-XX:+UseParallelGC",
           f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "graft.perfbench.Main"] + args
    log_path = os.path.join(work, "jvm.log")
    # start with no dirty pages left by the build or earlier runs, so their
    # writeback does not overlap this run
    os.sync()
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=log, stderr=subprocess.STDOUT,
                                start_new_session=True)
        try:
            code = proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            code = "timeout"
        finally:
            if proc.poll() is None:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
    if code != 0:
        with open(log_path) as fh:
            sys.stderr.write("".join(fh.readlines()[-60:]))
        die(f"workload JVM exited with {code}")


# ---- correctness against DuckDB -------------------------------------------

def same(s, o):
    """Value-exact equality of a JVM-dumped value and a DuckDB value."""
    if s is None or o is None:
        return s is None and o is None
    if isinstance(o, bool):
        return s is o
    if isinstance(o, decimal.Decimal):
        return decimal.Decimal(str(s)) == o
    if isinstance(o, float):
        f = float(s)
        return f == o or (math.isnan(f) and math.isnan(o))
    if isinstance(o, int):
        return isinstance(s, int) and s == o
    if isinstance(o, datetime.datetime):
        return s == str(o)
    if isinstance(o, datetime.date):
        return s == o.isoformat()
    if isinstance(o, (list, tuple)):
        return isinstance(s, list) and len(s) == len(o) and all(map(same, s, o))
    if isinstance(o, dict):
        return same(s, list(o.values()))
    return str(s) == str(o)


def duck(data):
    import duckdb
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data}/{t}.parquet')")
    return con


def check_pipeline(con, path):
    """Each query's result against its oracle SQL, columns sorted by name."""
    bad = []
    with open(path) as fh:
        for q in json.load(fh):
            if q["oracle"] is None:
                bad.append(f"{q['name']}: no oracle SQL")
                continue
            cur = con.execute(q["oracle"])
            names = [d[0] for d in cur.description]
            exp = cur.fetchall()
            if sorted(names) != sorted(q["columns"]):
                bad.append(f"{q['name']}: columns {q['columns']} vs oracle {names}")
                continue
            si = [q["columns"].index(c) for c in sorted(names)]
            oi = [names.index(c) for c in sorted(names)]
            if len(exp) != len(q["rows"]):
                bad.append(f"{q['name']}: {len(q['rows'])} rows vs oracle {len(exp)}")
                continue
            for i, (s, o) in enumerate(zip(q["rows"], exp)):
                if not all(same(s[a], o[b]) for a, b in zip(si, oi)):
                    bad.append(f"{q['name']}: row {i} {s} vs oracle {o}")
                    break
    return bad


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=[0, 1])
    args = ap.parse_args()
    # a terminated launcher takes its build or JVM down with it (finally blocks)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    bench_json = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(bench_json):
        die("BENCHMARK.json not found at the checkout root")
    with open(bench_json) as fh:
        spec = json.load(fh)
    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]

    missing = [t for t in TABLES if not os.path.exists(os.path.join(DATA, f"{t}.parquet"))]
    if missing:
        die(f"input tables missing from {DATA}: {missing}")
    cp = build()
    os.makedirs(os.path.join(WORK, "runs"), exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=os.path.join(WORK, "runs"))
    try:
        out = os.path.join(work, "result.json")
        run_jvm(cp, ["--workload", args.workload, "--seed", str(args.seed),
                     "--seconds", str(args.seconds), "--trace", str(args.trace),
                     "--data", DATA, "--work", work, "--out", out,
                     "--cpus", str(os.cpu_count() or 1)], work,
                # JVM start, set-up and warm-up, the window, the final checks
                timeout=145 + 2 * args.seconds)
        with open(out) as fh:
            res = json.load(fh)
        bad = list(res["failures"])
        failed = res["failed"]
        if res["checks"]:
            con = duck(DATA)
            for path in res["checks"]:
                extra = check_pipeline(con, path)
                failed += len(extra)
                bad += extra
        if args.trace:
            os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
            shutil.copyfile(os.path.join(work, "trace.json"), os.path.join(
                WORK, "traces", f"{args.workload}-seed{args.seed}.json"))
    finally:
        shutil.rmtree(work, ignore_errors=True)

    for b in bad:
        print(f"perfbench: WRONG {b}", file=sys.stderr)
    got = res["metrics"]
    unknown = sorted(set(got) - {m["name"] for m in wanted})
    if unknown:
        die(f"metrics not declared in BENCHMARK.json: {unknown}")
    metrics = {}
    for m in wanted:
        v = got.get(m["name"])
        if v is None and not args.trace:
            die(f"end-to-end metric {m['name']} was not measured")
        # a per-layer metric absent from the result is a layer this
        # workload's path does not touch
        metrics[m["name"]] = {"value": 0.0 if v is None else v, "unit": m["unit"]}
    h = res["host"]
    print(f"# host nproc={h['nproc']} load1_before={h['load1_before']:.2f} "
          f"load1_after={h['load1_after']:.2f} steal_pct={h['steal_pct']:.2f} "
          f"contended={h['contended']} samples={res['samples']} "
          f"measured_s={res['measured_s']:.2f} calib_ms={res['calib_ms']:.4g} "
          f"wall_op_ms={res['op_ms']:.4g} cpu_op_ms={res['op_cpu_ms']:.4g} "
          f"setup_wall_s={','.join(f'{s:.3g}' for s in res['setup_wall_s'])} "
          f"setup_cpu_s={','.join(f'{s:.3g}' for s in res['setup_cpu_s'])}")
    print("# cpu_ms_by_kind " + " ".join(f"{k}={v:.4g}" for k, v in res["kinds"].items()))
    print(json.dumps({"correct": failed == 0, "attempted": res["attempted"],
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
