#!/usr/bin/env python3
"""Run one benchmark workload and print its result as the last stdout line.

    python3 perfbench/run.py --workload relational --seed 1 --seconds 15 --trace 0

Run from the root of a checkout. The first run builds the engine and the
harness from the checkout's sources with sbt; later runs reuse the build
while the sources are unchanged. Everything a run writes stays under
perfbench/ (.build, .run, out). See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
BUILD = os.path.join(BENCH, ".build")
DATA = os.path.join(BENCH, "data", "sf0.01")
WORKLOADS = ("relational", "pipeline_heavy", "sql_session")
HEAP = "4g"
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840

# Spark 4 on JDK 17 outside spark-submit needs these (the engine's build
# passes the same list to its forked runs).
OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_stamp():
    """Digest of every input of the build."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src", "main")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(BENCH, "build.sbt"),
             os.path.join(BENCH, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def classpath():
    """Builds when the sources changed; returns the runtime classpath."""
    stamp = source_stamp()
    stamp_file = os.path.join(BUILD, "stamp")
    cp_file = os.path.join(BUILD, "classpath")
    if os.path.exists(stamp_file) and os.path.exists(cp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as f:
                    return f.read()
    log("building engine and harness with sbt")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    t0 = time.time()
    p = subprocess.run(
        ["sbt", "-batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
         "compile", "export Runtime/fullClasspath"],
        cwd=BENCH, env=env, stdin=subprocess.DEVNULL, capture_output=True,
        text=True, timeout=BUILD_TIMEOUT_S)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines or "perfbench" not in lines[-1]:
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-4000:])
        raise SystemExit(f"build failed (sbt exit {p.returncode})")
    cp = lines[-1].strip()
    os.makedirs(BUILD, exist_ok=True)
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    log(f"built in {time.time() - t0:.0f} s")
    return cp


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", help="also dump results and digests here")
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        raise SystemExit("no engine sources next to perfbench/: run from a checkout")
    if not os.path.isdir(DATA):
        raise SystemExit(f"fixture missing: {DATA}")
    cp = classpath()

    run_dir = os.path.join(BENCH, ".run", f"{a.workload}-{os.getpid()}")
    os.makedirs(os.path.join(run_dir, "tmp"), exist_ok=True)
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    cmd = [java, f"-Xmx{HEAP}", "-Duser.timezone=UTC",
           f"-Djava.io.tmpdir={run_dir}/tmp", f"-Dderby.system.home={run_dir}",
           "-Dspark.ui.enabled=false"]
    for o in OPENS:
        cmd += ["--add-opens", f"{o}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main", "--workload", a.workload,
            "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--data", DATA, "--run-dir", run_dir,
            "--out", os.path.join(BENCH, "out")]
    if a.record:
        cmd += ["--record", os.path.abspath(a.record)]
    try:
        p = subprocess.run(cmd, cwd=run_dir, stdin=subprocess.DEVNULL,
                           stdout=subprocess.PIPE, text=True,
                           timeout=RUN_TIMEOUT_S)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines:
        raise SystemExit(f"benchmark exited {p.returncode}")
    result = json.loads(lines[-1])
    for l in lines[:-1]:
        print(l)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
