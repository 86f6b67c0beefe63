#!/usr/bin/env python3
"""Benchmark runner for the graft engine (see perfbench/README.md).

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> \
        --trace <0|1> [--cores <n>]

Run from the root of a checkout. The first run builds the program and
the harness with sbt (perfbench/harness/build.sbt, which depends on the
repository's own build) into the checkout; later runs reuse the build
while no source file has changed. Each run starts one JVM (the harness,
perfbench.Main), which runs the workload and writes result.json; this
script then checks the outputs (the DuckDB oracle, or the
stream-vs-batch comparison the harness made), records the host
state, and prints one JSON line as the last line of stdout:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end metrics of BENCHMARK.json,
with --trace 1 its per-layer metrics. The full report of a run (host
state, Spark conf, per-query medians, errors, spans) is written under
.bench_build/runs/.
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

HERE = os.path.dirname(os.path.abspath(__file__))
DATA = os.path.join("perfbench", "data", "sf0.1")
BUILD = ".bench_build"
HARNESS = os.path.join("perfbench", "harness")
DEADLINE_S = 170.0

# The workloads; each is defined in the harness (BatchWorkload.queries,
# StreamWorkload).
WORKLOADS = ["mr-batch", "curation-batch", "cep-stream"]

JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(msg)
    sys.exit(code)


# ---------------------------------------------------------------- host

def proc_stat():
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    return vals  # user nice system idle iowait irq softirq steal ...


def load1():
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def steal_share(a, b):
    d = [y - x for x, y in zip(a, b)]
    total = sum(d[:8])
    return d[7] / total if total > 0 and len(d) > 7 else 0.0


# --------------------------------------------------------------- build

def source_stamp():
    h = hashlib.sha256()
    roots = ["build.sbt", os.path.join("project", "build.properties"),
             os.path.join("src", "main"), HARNESS]
    for r in roots:
        paths = []
        if os.path.isfile(r):
            paths = [r]
        for d, dirs, files in os.walk(r):
            dirs[:] = sorted(x for x in dirs
                             if x not in ("target", "project", ".bsp"))
            paths += [os.path.join(d, f) for f in sorted(files)]
        if r == HARNESS:
            paths.append(os.path.join(HARNESS, "project", "build.properties"))
        for p in paths:
            st = os.stat(p)
            h.update(f"{p}:{st.st_size}:{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser(os.path.join("~", ".sbt", "repositories"))
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true",
                 f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    return env


def build():
    """Compile program + harness once; returns the runtime classpath."""
    os.makedirs(BUILD, exist_ok=True)
    stamp_f = os.path.join(BUILD, "build.stamp")
    cp_f = os.path.join(BUILD, "classpath.txt")
    stamp = source_stamp()
    if (os.path.exists(stamp_f) and os.path.exists(cp_f)
            and open(stamp_f).read() == stamp):
        return open(cp_f).read().strip()
    log("building program and harness with sbt (first run) ...")
    t0 = time.time()
    logf = os.path.join(BUILD, "build.log")
    with open(logf, "w") as out:
        p = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=HARNESS, env=sbt_env(), stdout=out, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL, timeout=840)
    lines = open(logf).read().splitlines()
    if p.returncode != 0 or not lines:
        fail(f"build failed (see {logf})")
    cp = lines[-1].strip()
    if "perfbench" not in cp or ":" not in cp:
        fail(f"could not read the classpath from {logf}")
    with open(cp_f, "w") as f:
        f.write(cp + "\n")
    with open(stamp_f, "w") as f:
        f.write(stamp)
    log(f"build done in {time.time() - t0:.0f} s")
    return cp


# ---------------------------------------------------------------- run

def run_jvm(cp, args, out_dir, deadline):
    # Spark's scratch space (block manager, shuffle files) and the JVM's
    # temp files stay inside the run's directory
    tmp = os.path.abspath(os.path.join(out_dir, "tmp"))
    os.makedirs(tmp)
    cmd = (["java", "-Xmx3g", "-XX:+UseG1GC", f"-Djava.io.tmpdir={tmp}"]
           + [x for o in JDK_OPENS for x in ("--add-opens", f"{o}=ALL-UNNAMED")]
           + ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
              f"-Dspark.local.dir={tmp}", "-cp", cp, "perfbench.Main"] + args)
    with open(os.path.join(out_dir, "jvm.log"), "w") as logf:
        p = subprocess.Popen(cmd, stdout=logf, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL,
                             start_new_session=True)
        try:
            rc = p.wait(timeout=max(5.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            fail("the harness JVM did not finish in time")
    return rc


# ---------------------------------------------------------- correctness

def digest(rel, canon):
    cols = sorted(rel.columns)
    rows = sorted(tuple(canon(v) for v in row) for row in
                  rel.select(", ".join(f'"{c}"' for c in cols)).fetchall())
    h = hashlib.sha256()
    for r in rows:
        h.update(("\x1f".join(r) + "\n").encode())
    return {"columns": cols, "rows": len(rows), "sha256": h.hexdigest()}


def duck():
    import duckdb
    con = duckdb.connect()
    con.execute("SET enable_progress_bar = false")
    for f in sorted(os.listdir(DATA)):
        if f.endswith(".parquet"):
            con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM "
                        f"'{os.path.join(DATA, f)}'")
    return con


def check_batch(out_dir, queries):
    """Compare each batch query's set-up output with its DuckDB oracle.
    Returns the list of problems found."""
    if not queries:
        return []
    # tools/check_correctness.py's rules: floats at full precision
    sys.path.insert(0, "tools")
    from check_correctness import canon
    con = duck()
    oracle = json.load(open(os.path.join(out_dir, "oracle_sql.json")))
    # An oracle's result depends only on its text and the input tables, so
    # it is cached per checkout under a key of both: the curation oracles
    # take about 5 s a run, a tenth of the run.
    h = hashlib.sha256()
    for f in sorted(os.listdir(DATA)):
        with open(os.path.join(DATA, f), "rb") as fh:
            h.update(f.encode() + b"\0" + fh.read())
    data_key = h.hexdigest()
    cache = os.path.join(BUILD, "oracle")
    os.makedirs(cache, exist_ok=True)
    bad = []
    for q in queries:
        res = os.path.join(out_dir, "results", q)
        if not os.path.isdir(res):
            bad.append(f"{q}: no output")
            continue
        if q not in oracle:
            bad.append(f"{q}: no oracle")
            continue
        got = digest(con.sql(f"SELECT * FROM '{res}/*.parquet'"), canon)
        key = hashlib.sha256((data_key + oracle[q]).encode()).hexdigest()
        cf = os.path.join(cache, f"{q}-{key[:16]}.json")
        if os.path.exists(cf):
            exp = json.load(open(cf))
        else:
            exp = digest(con.sql(oracle[q]), canon)
            with open(cf, "w") as f:
                json.dump(exp, f)
        if got["columns"] != exp["columns"]:
            bad.append(f"{q}: columns {got['columns']} != oracle "
                       f"{exp['columns']}")
        elif got["rows"] != exp["rows"]:
            bad.append(f"{q}: {got['rows']} rows != oracle {exp['rows']}")
        elif got["sha256"] != exp["sha256"]:
            bad.append(f"{q}: row values differ from the oracle")
    return bad


# ----------------------------------------------------------------- main

def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--cores", type=int, default=0,
                    help="local[N] cores (default: all)")
    a = ap.parse_args()
    deadline = time.time() + DEADLINE_S
    if a.workload not in WORKLOADS:
        fail(f"unknown workload {a.workload!r}; one of {WORKLOADS}")
    for need in ("build.sbt", os.path.join("src", "main", "scala"),
                 os.path.join("tools", "check_correctness.py"), DATA):
        if not os.path.exists(need):
            fail(f"{need} not found: run from the root of a checkout")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java must be on PATH")

    cp = build()
    # a build in this run does not count against the measuring deadline
    deadline = max(deadline, time.time() + 160.0)
    stat0, load0 = proc_stat(), load1()
    nproc = len(os.sched_getaffinity(0))
    cores = a.cores or nproc
    out_dir = os.path.join(BUILD, "runs",
                           f"{a.workload}-s{a.seed}-t{a.trace}-c{cores}")
    shutil.rmtree(out_dir, ignore_errors=True)
    os.makedirs(out_dir)
    args = ["--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--cores", str(cores), "--data", DATA, "--out", out_dir]
    rc = run_jvm(cp, args, out_dir, deadline)
    res_f = os.path.join(out_dir, "result.json")
    if rc != 0 or not os.path.exists(res_f):
        fail(f"harness failed (exit {rc}); see {out_dir}/jvm.log")
    r = json.load(open(res_f))

    bad = list(r["errors"]) + check_batch(out_dir, r["queries"])

    bench = json.load(open(os.path.join(HERE, "..", "BENCHMARK.json")))
    key = "per_layer" if a.trace else "end_to_end"
    got_m = r["layers"] if a.trace else r["e2e"]
    metrics = {}
    for m in bench[key]:
        if m["name"] in got_m:
            metrics[m["name"]] = got_m[m["name"]]
        elif a.trace:
            # a layer the workload does not reach did no work
            metrics[m["name"]] = {"value": 0.0, "unit": m["unit"]}
        else:
            bad.append(f"metric {m['name']} was not measured")
    host = {"nproc": nproc, "cores": cores, "load1_start": load0,
            "load1_end": load1(), "steal_share": steal_share(stat0, proc_stat())}
    report = dict(r, host=host, problems=bad, workload=a.workload,
                  seed=a.seed, seconds=a.seconds, trace=a.trace)
    with open(os.path.join(out_dir, "report.json"), "w") as f:
        json.dump(report, f, indent=1)
    for b in bad:
        log(f"PROBLEM {b}")
    print("host " + json.dumps(host))
    print("info " + json.dumps(r["info"]))
    wrong_n = len(bad) - len(r["errors"])
    result = {"correct": not bad, "attempted": int(r["attempted"]),
              "failed": int(r["failed"]) + wrong_n, "metrics": metrics}
    print(json.dumps(result))
    sys.exit(0 if not bad else 1)


if __name__ == "__main__":
    main()
