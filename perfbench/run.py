#!/usr/bin/env python3
"""Run one workload of the repository benchmark and print its result.

Usage (from the repository root):

    python3 perfbench/run.py --workload <chart_queries|nightly_etl> \
        --seed <n> --seconds <s> --trace <0|1>

The first run in a checkout builds the program and the harness with sbt
(offline) and records the runtime classpath under perfbench/target/;
later runs reuse it while the sources are unchanged. The harness runs in
one JVM: Spark local[4], one client in a closed loop. Its last line of
standard output is the result object, which this script checks and
prints as its own last line. Scratch stores go to perfbench/work/ and are
removed after the run; traced runs leave their spans in
perfbench/work/spans/.

Exits non-zero without printing a result when the program's sources are
missing, the build fails, the run fails or overruns its time limit.
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

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
DATA = os.path.join(BENCH, "data", "sf0.01")
EXPECTED = os.path.join(BENCH, "expected_digests.tsv")
TARGET = os.path.join(BENCH, "target")
CLASSPATH = os.path.join(TARGET, "perfbench-classpath.txt")
WORK = os.path.join(BENCH, "work")
WORKLOADS = ("chart_queries", "nightly_etl")

BUILD_LIMIT_S = 840
RUN_LIMIT_S = 175
FIRST_RUN_LIMIT_S = 885

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
    print(f"[run.py] {msg}", file=sys.stderr, flush=True)


def source_stamp():
    """Hash of every input of the build: the program's and the harness's
    sources and build definitions."""
    h = hashlib.sha256()
    inputs = [os.path.join(ROOT, "build.sbt"),
              os.path.join(ROOT, "project", "build.properties"),
              os.path.join(BENCH, "build.sbt"),
              os.path.join(BENCH, "project", "build.properties")]
    for tree in (os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src", "main")):
        for d, dirs, files in os.walk(tree):
            dirs.sort()
            inputs += [os.path.join(d, f) for f in sorted(files)]
    for p in inputs:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def run_group(cmd, cwd, env, limit_s, stdout):
    """Run `cmd` in its own process group; kill the whole group if it
    outlives `limit_s`, and always wait for it. Returns the exit code,
    or None when it was killed."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=stdout,
                         stderr=sys.stderr, start_new_session=True)
    try:
        p.wait(timeout=max(1.0, limit_s))
        return p.returncode
    except subprocess.TimeoutExpired:
        log(f"{cmd[0]} overran {limit_s:.0f} s; stopping it")
        return None
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGTERM)
            try:
                p.wait(timeout=15)
            except subprocess.TimeoutExpired:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()


def build(stamp):
    sbt = shutil.which("sbt")
    if sbt is None:
        log("sbt is not on PATH")
        return None
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    os.makedirs(TARGET, exist_ok=True)
    out_path = os.path.join(TARGET, "sbt-export.txt")
    log("building the program and the harness with sbt")
    with open(out_path, "w") as out:
        rc = run_group([sbt, "--batch", "--no-server", "-Dsbt.log.noformat=true",
                        "compile", "export Runtime/fullClasspath"],
                       BENCH, env, BUILD_LIMIT_S, out)
    if rc != 0:
        log(f"build failed (exit {rc}); sbt output is in {out_path}")
        return None
    lines = [l.strip() for l in open(out_path) if l.strip()]
    cp = lines[-1] if lines else ""
    if not cp or cp.startswith("[") or "perfbench" not in cp:
        log(f"no classpath in the sbt output ({out_path})")
        return None
    with open(CLASSPATH, "w") as f:
        f.write(stamp + "\n" + cp + "\n")
    return cp


def classpath():
    """(classpath, whether it had to be built now); None when the build failed."""
    stamp = source_stamp()
    if os.path.exists(CLASSPATH):
        with open(CLASSPATH) as f:
            saved = f.read().split("\n")
        if len(saved) >= 2 and saved[0] == stamp:
            return saved[1], False
    cp = build(stamp)
    return None if cp is None else (cp, True)


def check_result(line):
    try:
        r = json.loads(line)
    except ValueError:
        return None
    ok = (isinstance(r, dict) and set(r) == {"correct", "attempted", "failed", "metrics"}
          and isinstance(r["attempted"], int) and r["attempted"] >= 1
          and isinstance(r["failed"], int) and isinstance(r["metrics"], dict))
    return r if ok else None


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    started = time.monotonic()
    # being stopped must still stop (and wait for) the build or the JVM
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    if not os.path.exists(os.path.join(ROOT, "src", "main", "scala", "graft", "SparkEntry.scala")):
        log(f"the program's sources are not in {ROOT}; nothing to benchmark")
        return 2
    found = classpath()
    if found is None:
        return 3
    cp, built = found
    # a run that had to build may take up to 900 s in all; others 180 s
    limit = (FIRST_RUN_LIMIT_S if built else RUN_LIMIT_S) - (time.monotonic() - started)

    run_work = os.path.join(WORK, f"run-{os.getpid()}-{int(time.time() * 1000)}")
    os.makedirs(run_work)
    cmd = (["java"] + [x for p in JDK_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-Xmx3g", "-Duser.timezone=UTC", "-Dspark.ui.enabled=false",
              "-Dlog4j2.configurationFile=log4j2.properties",
              f"-Djava.io.tmpdir={run_work}",
              f"-Dspark.sql.warehouse.dir={os.path.join(run_work, 'spark-warehouse')}",
              "-cp", cp, "graft.perfbench.Main",
              "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
              "--trace", str(a.trace), "--data", DATA, "--work", run_work,
              "--spans", os.path.join(WORK, "spans"), "--expected", EXPECTED])
    out_path = os.path.join(run_work, "stdout.txt")
    try:
        with open(out_path, "w") as out:
            rc = run_group(cmd, ROOT, dict(os.environ), limit, out)
        lines = [l.rstrip("\n") for l in open(out_path) if l.strip()]
    finally:
        shutil.rmtree(run_work, ignore_errors=True)
    if rc != 0:
        log(f"the harness exited with {rc}")
        return 4
    result = check_result(lines[-1]) if lines else None
    if result is None:
        log("the harness printed no result object")
        return 5
    for l in lines[:-1]:
        print(l)
    print(lines[-1], flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
