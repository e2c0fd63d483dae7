#!/usr/bin/env python3
"""Benchmark entry point.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload <ingest_dump|sql_session|pipeline_gates> \
        --seed <n> --seconds <s> --trace <0|1> [--scale full|smoke] [--wrong-expected 1]

It builds the program with its own build definition and the harness on
top of it (sbt, offline, once per source state), then runs the harness in one plain JVM and prints the
harness's result JSON object as the last line of standard output.
Everything it writes goes under `.bench_build/` in the checkout.
"""
import argparse
import hashlib
import os
import signal
import subprocess
import sys

ROOT = os.path.abspath(os.getcwd())
BENCH = os.path.join(ROOT, "perfbench")
WORK = os.path.join(ROOT, ".bench_build", "perfbench-work")
CLASSPATH = os.path.join(WORK, "classpath.txt")
STAMP = os.path.join(WORK, "build.stamp")
RUN_TIMEOUT = 170

JAVA_OPTS = [
    "--add-opens=java.base/java.lang=ALL-UNNAMED",
    "--add-opens=java.base/java.lang.invoke=ALL-UNNAMED",
    "--add-opens=java.base/java.lang.reflect=ALL-UNNAMED",
    "--add-opens=java.base/java.io=ALL-UNNAMED",
    "--add-opens=java.base/java.net=ALL-UNNAMED",
    "--add-opens=java.base/java.nio=ALL-UNNAMED",
    "--add-opens=java.base/java.util=ALL-UNNAMED",
    "--add-opens=java.base/java.util.concurrent=ALL-UNNAMED",
    "--add-opens=java.base/java.util.concurrent.atomic=ALL-UNNAMED",
    "--add-opens=java.base/sun.nio.ch=ALL-UNNAMED",
    "--add-opens=java.base/sun.nio.cs=ALL-UNNAMED",
    "--add-opens=java.base/sun.security.action=ALL-UNNAMED",
    "--add-opens=java.base/sun.util.calendar=ALL-UNNAMED",
    "-Xms2g",
    "-Xmx2g",
    "-XX:+UseParallelGC",
    "-XX:-UsePerfData",
    "-Duser.timezone=UTC",
    "-Dspark.ui.enabled=false",
]


def log(msg):
    print(f"[run.py] {msg}", file=sys.stderr, flush=True)


def source_stamp():
    """Hash of every file the build reads, so a changed tree rebuilds."""
    h = hashlib.sha256()
    tops = [os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "build.sbt"),
            os.path.join(BENCH, "src"), os.path.join(BENCH, "build.sbt"),
            os.path.join(BENCH, "project", "build.properties")]
    for top in tops:
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for p in paths:
            h.update(p[len(ROOT):].encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def run_bounded(cmd, timeout, **kw):
    """Run cmd in its own process group; kill the group on timeout."""
    proc = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.communicate()
        raise
    return proc.returncode, out


def build():
    stamp = source_stamp()
    if os.path.exists(STAMP) and os.path.exists(CLASSPATH):
        with open(STAMP) as f:
            if f.read() == stamp:
                return
    log("building the program and the harness with sbt")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.exists(repos):
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true -Dsbt.repository.config="
                           f"{repos} -Dsbt.offline=true -Xmx2g")
    rc, _ = run_bounded(["sbt", "--batch", "-Dsbt.log.noformat=true", "perfbench/compile",
                         f"perfbench/writeClasspath {CLASSPATH}"], 840, cwd=BENCH, env=env,
                        stdout=sys.stderr, stdin=subprocess.DEVNULL)
    if rc != 0:
        sys.exit(f"build failed (sbt exit {rc})")
    with open(STAMP, "w") as f:
        f.write(stamp)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    choices=["ingest_dump", "sql_session", "pipeline_gates"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", choices=["0", "1"], default="0")
    ap.add_argument("--scale", choices=["full", "smoke"], default="full")
    ap.add_argument("--wrong-expected", choices=["0", "1"], default="0")
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        sys.exit("no program sources under src/main/scala/graft: run from the root of a checkout")
    os.makedirs(WORK, exist_ok=True)
    build()

    with open(CLASSPATH) as f:
        cp = f.read().strip()
    scratch = os.path.join(WORK, "scratch")
    tmp = os.path.join(WORK, "tmp")
    for d in (scratch, tmp):
        os.makedirs(d, exist_ok=True)
    env = dict(os.environ, SPARK_GRAFT_SCRATCH=scratch, SPARK_LOCAL_DIRS=os.path.join(WORK, "spark-local"))
    cmd = ["java", *JAVA_OPTS, f"-Djava.io.tmpdir={tmp}",
           f"-Dlog4j2.configurationFile={os.path.join(BENCH, 'log4j2.properties')}", "-cp", cp, "perfbench.Main",
           "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
           "--trace", a.trace, "--scale", a.scale, "--wrong-expected", a.wrong_expected,
           "--work", WORK, "--root", ROOT]
    try:
        rc, out = run_bounded(cmd, RUN_TIMEOUT, cwd=WORK, env=env, stdout=subprocess.PIPE,
                              stdin=subprocess.DEVNULL, text=True)
    except subprocess.TimeoutExpired:
        sys.exit(f"harness did not finish within {RUN_TIMEOUT} s")
    lines = [l for l in out.splitlines() if l.strip()]
    for l in lines[:-1]:
        print(l, file=sys.stderr)
    if rc != 0 or not lines or not lines[-1].startswith("{"):
        sys.exit(f"harness failed (exit {rc})")
    print(lines[-1], flush=True)


if __name__ == "__main__":
    main()
