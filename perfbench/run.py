#!/usr/bin/env python3
"""graft's benchmark: one workload, one seed, one JSON line.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --pins      # regenerate perfbench/pins.tsv
    python3 perfbench/run.py --probe <sf> [--passes n] [--prefixes a,b,...]
                                         # phase shares of candidate queries

Run from the root of a checkout. The first run builds graft and the
harness from source (sbt, offline) and writes the fixture tables; both are
kept under .bench_build/ and rebuilt when their inputs change. Each run
then starts one JVM (`perfbench.Main`), which sets up a session, warms up,
measures for about --seconds and checks every output. The last line on stdout
is {"correct", "attempted", "failed", "metrics"}: the end-to-end metrics
of BENCHMARK.json with --trace 0, its per-layer metrics with --trace 1.
Everything else (build output, progress, details) goes to stderr; the full
result of each run is kept in .bench_build/perfbench/runs/.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
# fixture scale of the workloads: lineitem ~600k rows, 1000 documents, 600 embeddings
SF, N_DOCS, N_VECS = 0.1, 1000, 600
# the query families the sql_tier list is drawn from (see README, "sql_tier query list")
SQL_FAMILIES = "q_sql_tpch_,q_join_,q_agg_,q_window_"
RUN_TIMEOUT_S = 170
JVM_HEAP = "2g"
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio",
             "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg):
    log(f"ERROR: {msg}")
    sys.exit(2)


def digest(paths):
    """Hash of every file under `paths` (files or directories)."""
    h = hashlib.sha256()
    for top in paths:
        walk = os.walk(top) if os.path.isdir(top) else [(os.path.dirname(top), [], [os.path.basename(top)])]
        for d, dirs, files in sorted(walk):
            dirs.sort()
            for f in sorted(files):
                p = os.path.join(d, f)
                h.update(os.path.relpath(p, ROOT).encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile graft + harness with sbt when sources changed; return the classpath."""
    inputs = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
              os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for p in inputs:
        if not os.path.exists(p):
            fail(f"missing {os.path.relpath(p, ROOT)}: run from the root of a graft checkout")
    stamp = digest(inputs)
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "build.stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return open(cp_file).read().strip()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    # no lock file in the shared sbt boot directory: write only inside the checkout
    env["SBT_OPTS"] += " -Dsbt.boot.lock=false"
    log("building graft + harness (sbt compile)")
    t0 = time.time()
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
                        "compile", "export Runtime/fullClasspath"],
                       cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True, timeout=840)
    sys.stderr.write(p.stdout[-4000:])
    cps = [l.strip() for l in p.stdout.splitlines() if l.startswith("/") and ".jar" in l]
    if p.returncode != 0 or not cps:
        fail(f"build failed (sbt exit {p.returncode})")
    with open(cp_file, "w") as f:
        f.write(cps[-1])
    with open(stamp_file, "w") as f:
        f.write(stamp)
    log(f"built in {time.time() - t0:.1f} s")
    return cps[-1]


def fixtures(sf=SF):
    """Write the fixture tables once per checkout (pure function of the scale)."""
    data = os.path.join(BUILD, f"data-sf{sf}-d{N_DOCS}-v{N_VECS}")
    done = os.path.join(data, ".done")
    if not os.path.exists(done):
        shutil.rmtree(data, ignore_errors=True)
        subprocess.run([sys.executable, os.path.join(HERE, "gen_fixtures.py"), data, str(sf),
                        str(N_DOCS), str(N_VECS)], check=True, timeout=600)
        open(done, "w").close()
    return data


def cpu_times():
    """The machine-wide jiffy counters of /proc/stat (user ... steal)."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def calibrate():
    """Milliseconds for a fixed single-threaded loop, best of 5: how fast
    the machine itself is right now, to tell machine drift from a change."""
    best = float("inf")
    for _ in range(5):
        t0 = time.perf_counter()
        sum(i * i for i in range(300_000))
        best = min(best, time.perf_counter() - t0)
    return best * 1000.0


def jvm(cp, args, work, timeout):
    cmd = (["java", f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}",
            f"-Djava.io.tmpdir={work}/tmp",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Main"] + args)
    os.makedirs(f"{work}/tmp", exist_ok=True)
    launched = time.time()
    # the JVM's stdout joins stderr: this script's stdout carries only the result
    proc = subprocess.Popen(cmd, cwd=work, stdout=sys.stderr, stderr=sys.stderr)
    try:
        rc = proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        fail(f"JVM did not finish within {timeout} s")
    if rc != 0:
        fail(f"JVM exited with {rc}")
    return launched


def probe(a):
    """Print the construct/plan/execute shares of the probed queries."""
    cp = build()
    data = fixtures(a.probe)
    work = os.path.join(BUILD, "work", str(os.getpid()))
    os.makedirs(work)
    out = os.path.join(BUILD, f"probe-sf{a.probe}.tsv")
    try:
        jvm(cp, ["--mode", "probe", "--data", data, "--work", work,
                 "--out", os.path.join(work, "result.json"),
                 "--prefixes", a.prefixes, "--passes", str(a.passes), "--probe_out", out],
            work, 3000)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    rows = [l.split("\t") for l in open(out).read().splitlines()]
    tot = [sum(float(r[i]) for r in rows) for i in (1, 2, 3)]
    all_s = sum(tot)
    log(f"{len(rows)} queries, {all_s:.2f} s per pass: construct {tot[0] / all_s:.1%}, "
        f"plan {tot[1] / all_s:.1%}, execute {tot[2] / all_s:.1%}; per query in {out}")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--pins", action="store_true", help="rewrite perfbench/pins.tsv")
    ap.add_argument("--probe", type=float, metavar="SF",
                    help="time every query of --prefixes phase by phase on sf SF fixtures")
    ap.add_argument("--passes", type=int, default=3)
    ap.add_argument("--prefixes", default=SQL_FAMILIES)
    a = ap.parse_args()
    if a.probe:
        return probe(a)

    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    workloads = [w["name"] for w in spec["workloads"]]
    if not a.pins and a.workload not in workloads:
        fail(f"--workload must be one of {workloads}")
    cp = build()
    data = fixtures()
    work = os.path.join(BUILD, "work", str(os.getpid()))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    out = os.path.join(work, "result.json")
    args = ["--data", data, "--work", work, "--out", out,
            "--pins", os.path.join(HERE, "pins.tsv")]
    try:
        if a.pins:
            jvm(cp, args + ["--mode", "pins", "--pins_out", os.path.join(HERE, "pins.tsv")],
                work, 900)
            log("wrote perfbench/pins.tsv")
            return
        runs = os.path.join(BUILD, "runs")
        os.makedirs(runs, exist_ok=True)
        tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
        args += ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                 "--trace", str(a.trace), "--trace_out", os.path.join(runs, f"{tag}.spans.json")]
        calib0 = calibrate()
        load0, cpu0 = os.getloadavg(), cpu_times()
        launched = jvm(cp, args, work, RUN_TIMEOUT_S)
        load1, cpu1 = os.getloadavg(), cpu_times()
        calib1 = calibrate()
        res = json.load(open(out))
    finally:
        shutil.rmtree(work, ignore_errors=True)

    res["metrics"]["setup_s"] = res["ready_epoch_ms"] / 1000.0 - launched
    res["details"]["loadavg_before"] = load0
    res["details"]["loadavg_after"] = load1
    res["details"]["calib_ms_before"] = calib0
    res["details"]["calib_ms_after"] = calib1
    busy = [b - a for a, b in zip(cpu0, cpu1)]
    res["details"]["cpu_steal_pct"] = 100.0 * busy[7] / max(1, sum(busy))
    with open(os.path.join(runs, f"{tag}.json"), "w") as f:
        json.dump(res, f, indent=1)
    for p in res["problems"]:
        log(f"check failed: {p}")
    log("details: " + json.dumps(res["details"]))

    want = spec["per_layer" if a.trace else "end_to_end"]
    metrics = {}
    for m in want:
        if m["name"] not in res["metrics"]:
            fail(f"metric {m['name']} was not measured")
        metrics[m["name"]] = {"value": res["metrics"][m["name"]], "unit": m["unit"]}
    print(json.dumps({"correct": res["correct"], "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
