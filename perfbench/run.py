#!/usr/bin/env python3
"""Benchmark entry point: the query sample, the batch lifecycle and the
stream drain of the graft engine, each in its own JVM on local[nproc],
checked against DuckDB after the measured window.

    python3 perfbench/run.py --workload queries|lifecycle|stream \
        --seed N --seconds S --trace 0|1
    python3 perfbench/run.py --smoke

Run from the repository root. The first run builds the engine and the
harness offline with sbt (perfbench/build.sbt) and generates the input
lake with tools/gen_sf.py; later runs reuse both. The last line of
standard output is one JSON object: correct, attempted, failed and the
end-to-end metrics (--trace 0) or the per-layer metrics (--trace 1) of
BENCHMARK.json. A traced run also writes every layer figure it has to
perfbench/results/<workload>-seed<N>-trace1.json.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time

import checks

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CACHE = os.path.join(HERE, "cache")
RESULTS = os.path.join(HERE, "results")
CLASSPATH = os.path.join(HERE, "target", "perfbench-classpath.txt")

# The lake (tools/gen_sf.py scale factor) each workload reads. Smoke
# runs the same code once on the smallest lake.
LAKES = {"full": {"queries": "0.1", "lifecycle": "0.01", "stream": "0.01"},
         "smoke": {"queries": "0.001", "lifecycle": "0.001", "stream": "0.001"}}

# The JDK 17 module opens build.sbt gives forked runs.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]

SBT_OPTS = ("-Dsbt.override.build.repos=true "
            f"-Dsbt.repository.config={os.path.expanduser('~/.sbt/repositories')} "
            "-Dsbt.offline=true -Xmx4g")

JVM_TIMEOUT_S = 165


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def require_repo():
    need = [os.path.join(ROOT, "src", "main", "scala", "graft", "SparkEntry.scala"),
            os.path.join(ROOT, "tools", "gen_sf.py"),
            os.path.join(ROOT, "BENCHMARK.json")]
    missing = [p for p in need if not os.path.exists(p)]
    if missing:
        log("not a graft checkout, missing: " + ", ".join(os.path.relpath(p, ROOT) for p in missing))
        sys.exit(2)


def nproc():
    return len(os.sched_getaffinity(0))


def heap():
    """-Xmx as the tier-1 test run sets SPARK_DRIVER_MEM: half the RAM,
    between 2g and 8g, unless SPARK_DRIVER_MEM is set."""
    if os.environ.get("SPARK_DRIVER_MEM"):
        return os.environ["SPARK_DRIVER_MEM"]
    with open("/proc/meminfo") as f:
        kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
    return f"{min(8, max(2, kb // 2097152))}g"


def sources_mtime():
    newest = 0.0
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
                 os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")):
        if os.path.isfile(base):
            newest = max(newest, os.path.getmtime(base))
        for d, _, files in os.walk(base):
            for f in files:
                newest = max(newest, os.path.getmtime(os.path.join(d, f)))
    return newest


def build():
    """Compile engine + harness offline once; later runs reuse the
    classpath file as long as no source is newer than it."""
    if os.path.exists(CLASSPATH) and os.path.getmtime(CLASSPATH) >= sources_mtime():
        with open(CLASSPATH) as f:
            return f.read().strip()
    log("building engine and harness with sbt (offline)")
    env = dict(os.environ, COURSIER_MODE="offline",
               SBT_OPTS=os.environ.get("SBT_OPTS", SBT_OPTS))
    t0 = time.time()
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                        "export Runtime/fullClasspath"],
                       cwd=HERE, env=env, capture_output=True, text=True, timeout=840)
    if p.returncode != 0:
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-4000:])
        log("build failed")
        sys.exit(3)
    cp = [l.strip() for l in p.stdout.splitlines()
          if "perfbench" in l and l.strip().startswith("/") and ":" in l]
    if not cp:
        log("build produced no classpath")
        sys.exit(3)
    os.makedirs(os.path.dirname(CLASSPATH), exist_ok=True)
    with open(CLASSPATH, "w") as f:
        f.write(cp[-1])
    log(f"built in {time.time() - t0:.0f}s")
    return cp[-1]


def lake(sf):
    """The input lake: tools/gen_sf.py at its fixed seed 42, generated
    once per checkout."""
    os.makedirs(CACHE, exist_ok=True)
    out = os.path.join(CACHE, f"sf{sf}")
    done = os.path.join(out, "GEN_META.json")
    if not os.path.exists(done):
        shutil.rmtree(out, ignore_errors=True)
        subprocess.run([sys.executable, os.path.join(ROOT, "tools", "gen_sf.py"), sf, out],
                       check=True, stdout=subprocess.DEVNULL, timeout=300)
        if not os.path.exists(done):
            log("tools/gen_sf.py wrote no GEN_META.json")
            sys.exit(4)
    return out


def run_jvm(cp, workload, seed, seconds, trace, lake_dir, work):
    out = os.path.join(work, "harness.json")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java"] + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        f"-Xmx{heap()}", "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
        f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
        "-cp", cp, "perfbench.Harness",
        "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
        "--trace", "1" if trace else "0", "--lake", lake_dir,
        "--work", os.path.join(work, "w"), "--out", out,
        "--sample", os.path.join(HERE, "queries.txt")]
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(nproc()), SPARK_LOCAL_DIRS=tmp)
    # the JVM's own output goes to stderr; stdout carries only the result
    p = subprocess.Popen(cmd, cwd=work, env=env, stdout=sys.stderr, stderr=sys.stderr,
                         start_new_session=True)
    try:
        rc = p.wait(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        log(f"harness JVM exceeded {JVM_TIMEOUT_S}s and was killed")
        sys.exit(5)
    if rc != 0 or not os.path.exists(out):
        log(f"harness JVM exited with {rc}")
        sys.exit(5)
    with open(out) as f:
        return json.load(f)


def one(workload, seed, seconds, trace, mode, spec):
    cp = build()
    lake_dir = lake(LAKES[mode][workload])
    work = tempfile.mkdtemp(prefix=f"{workload}-", dir=CACHE)
    try:
        res = run_jvm(cp, workload, seed, seconds, trace, lake_dir, work)
        t0 = time.time()
        check = checks.run(workload, res, lake_dir, threads=nproc())
        log(f"checks took {time.time() - t0:.1f}s")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    failed = res["failed"] + check["failed"]
    for e in res["errors"] + check["errors"]:
        log(e)
    if trace:
        os.makedirs(RESULTS, exist_ok=True)
        name = f"{workload}-seed{seed}-trace1.json"
        side = os.path.join(RESULTS, name if mode == "full" else f"smoke-{name}")
        with open(side, "w") as f:
            json.dump({k: res[k] for k in ("workload", "seed", "cpus", "rounds", "round_walls_s",
                                          "attempted", "e2e", "layers", "detail")}
                      | {"failed": failed, "check_errors": check["errors"]},
                      f, indent=1, sort_keys=True)
        log(f"layer figures written to {os.path.relpath(side, ROOT)}")
    figures = res["layers"] if trace else res["e2e"]
    wanted = spec["per_layer"] if trace else spec["end_to_end"]
    metrics = {m["name"]: {"value": figures[m["name"]], "unit": m["unit"]} for m in wanted}
    return {"correct": check["correct"], "attempted": res["attempted"], "failed": failed,
            "metrics": metrics}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=["queries", "lifecycle", "stream"])
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="every workload once on sf0.001, every check on")
    a = ap.parse_args()
    require_repo()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    if a.smoke:
        ok = True
        for w in ("queries", "lifecycle", "stream"):
            r = one(w, a.seed, 0, True, "smoke", spec)
            log(f"smoke {w}: correct={r['correct']} attempted={r['attempted']} failed={r['failed']}")
            ok = ok and r["correct"] and r["failed"] == 0
        print(json.dumps({"smoke": "pass" if ok else "fail"}))
        sys.exit(0 if ok else 1)
    if not a.workload:
        ap.error("--workload is required")
    print(json.dumps(one(a.workload, a.seed, a.seconds, a.trace == 1, "full", spec)))


if __name__ == "__main__":
    main()
