#!/usr/bin/env python3
"""Run one benchmark workload against the graft engine.

    python3 perfbench/run.py --workload peek|ingest|pipeline --seed N \\
        --seconds S --trace 0|1

Run from the root of a checkout. The first run builds the engine and
the benchmark with sbt (offline) and generates the input tables; both
are cached under .bench_build/ and rebuilt when their sources change.
The last line of standard output is one JSON object: correct,
attempted, failed and metrics (the end-to-end metrics, or with
--trace 1 the per-layer ones). `--workload selftest` feeds each output
checker a wrong answer and exits non-zero if one goes unnoticed.
"""
import argparse
import hashlib
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("peek", "ingest", "pipeline", "selftest")
SCALE = "0.01"
RUN_LIMIT_S = 170
BUILD_LIMIT_S = 700

# Spark 4 on JDK 17 needs these when started outside spark-submit
# (org.apache.spark.launcher.JavaModuleOptions).
OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def digest(paths):
    h = hashlib.sha256()
    for top in paths:
        if os.path.isfile(top):
            files = [top]
        else:
            files = sorted(os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def run_group(cmd, limit, **kw):
    """Run cmd in its own process group; kill the group past `limit` s."""
    proc = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = proc.communicate(timeout=limit)
        return proc.returncode, out
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        return None, None
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()


def build():
    """Compile engine + benchmark once per source state; return the classpath."""
    key = digest([os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
                  os.path.join(ROOT, "src", "main"), os.path.join(HERE, "build.sbt"),
                  os.path.join(HERE, "project", "build.properties"), os.path.join(HERE, "src")])
    stamp = os.path.join(BUILD, "classpath.txt")
    if os.path.exists(stamp):
        with open(stamp) as fh:
            got_key, cp = fh.read().split("\n", 1)
        if got_key == key:
            return cp.strip()
    log("building engine and benchmark with sbt")
    env = dict(os.environ, COURSIER_MODE="offline")
    env["SBT_OPTS"] = env.get("SBT_OPTS") or "-Dsbt.offline=true -Xmx2g"
    t0 = time.time()
    code, out = run_group(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                           "export perfbench/Runtime/fullClasspath"],
                          BUILD_LIMIT_S, cwd=HERE, env=env, stdout=subprocess.PIPE, text=True)
    if code != 0:
        sys.stderr.write(out or "")
        sys.exit("[perfbench] build failed" if code is not None else "[perfbench] build timed out")
    cp = [l for l in out.splitlines() if ".jar" in l and ":" in l and not l.startswith("[")][-1]
    os.makedirs(BUILD, exist_ok=True)
    with open(stamp, "w") as fh:
        fh.write(key + "\n" + cp + "\n")
    log(f"built in {time.time() - t0:.1f} s")
    return cp


def inputs():
    """Generate the input tables once per generator version."""
    key = digest([os.path.join(HERE, "gen.py")])
    out = os.path.join(BUILD, "data", f"sf{SCALE}")
    stamp = os.path.join(out, ".done")
    if not (os.path.exists(stamp) and open(stamp).read() == key):
        shutil.rmtree(out, ignore_errors=True)
        code, _ = run_group([sys.executable, os.path.join(HERE, "gen.py"), out, SCALE], RUN_LIMIT_S)
        if code != 0:
            sys.exit(f"[perfbench] generating sf{SCALE} inputs failed")
        with open(stamp, "w") as fh:
            fh.write(key)
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()
    for need in ("build.sbt", os.path.join("src", "main", "scala")):
        if not os.path.exists(os.path.join(ROOT, need)):
            sys.exit(f"[perfbench] no engine sources here ({need} is missing)")

    cp = build()
    data = inputs()
    work = os.path.join(BUILD, f"work-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", "-Xmx3g", *OPENS, f"-Djava.io.tmpdir={tmp}",
           f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}", "-cp", cp, "perfbench.Main",
           "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
           "--trace", a.trace, "--data", data, "--work", work,
           "--expected", os.path.join(HERE, "expected", "pipeline.tsv")]
    try:
        code, out = run_group(cmd, RUN_LIMIT_S, cwd=ROOT, stdout=subprocess.PIPE, text=True)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if code is None:
        sys.exit("[perfbench] run timed out")
    lines = out.splitlines()
    if a.workload == "selftest":
        sys.stdout.write(out)
        sys.exit(code)
    if code != 0 or not lines or not lines[-1].startswith("{"):
        sys.stdout.write(out)
        sys.exit(f"[perfbench] run failed (exit code {code})")
    sys.stdout.write(out)


if __name__ == "__main__":
    main()
