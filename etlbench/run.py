#!/usr/bin/env python3
"""Build (once per source state) and run one etlbench workload.

    python3 etlbench/run.py --workload etl_roundtrip --seed 1 --seconds 8 --trace 0

Run from the root of the repository. The library and the harness are built
with sbt from this directory's build, which compiles the enclosing
repository's sources; the runtime classpath is cached under
`.bench_build/etlbench/` keyed by a hash of every build input. Each run uses
a fresh scratch directory under the same cache and removes it afterwards.
The last line of standard output is the JSON result; the exit code is 0
only when every op's output was right.
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
ROOT = os.getcwd()
CACHE = os.path.join(ROOT, ".bench_build", "etlbench")
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170
HEAP = "2g"

# Spark on JDK 17 outside spark-submit needs the module opens spark-submit
# would add (org.apache.spark.launcher.JavaModuleOptions).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"etlbench: {msg}", file=sys.stderr)
    sys.exit(code)


def build_inputs():
    """Every file whose change calls for a rebuild, in a stable order."""
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for base in (os.path.join(ROOT, "project"), os.path.join(HERE, "project")):
        if os.path.isdir(base):
            files += [os.path.join(base, f) for f in sorted(os.listdir(base))
                      if f.endswith((".sbt", ".properties", ".scala"))]
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")):
        for d, subdirs, names in os.walk(base):
            subdirs.sort()
            files += [os.path.join(d, n) for n in sorted(names)]
    return files


def classpath():
    for need in ("build.sbt", os.path.join("src", "main", "scala")):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"{need} not found: run from the root of the repository")
    h = hashlib.sha256()
    for f in build_inputs():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    stamp = os.path.join(CACHE, f"classpath-{h.hexdigest()[:20]}.txt")
    if os.path.exists(stamp):
        with open(stamp) as fh:
            return fh.read().strip()
    os.makedirs(CACHE, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true")
    cmd = ["sbt", "-batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
           "compile", "export Runtime/fullClasspath"]
    proc = subprocess.Popen(cmd, cwd=HERE, env=env, stdout=subprocess.PIPE,
                            stderr=sys.stderr, text=True, start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        stop(proc)
        fail("build timed out", 3)
    sys.stderr.write(out)
    lines = [l for l in out.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines:
        fail(f"build failed (sbt exit {proc.returncode})", 3)
    cp = lines[-1].strip()
    missing = [p for p in cp.split(os.pathsep) if not os.path.exists(p)]
    if missing:
        fail(f"build printed a classpath with missing entries: {missing[:3]}", 3)
    for old in os.listdir(CACHE):
        if old.startswith("classpath-"):
            os.remove(os.path.join(CACHE, old))
    with open(stamp, "w") as fh:
        fh.write(cp)
    return cp


def stop(proc):
    """Kill the process group of `proc` and wait for it to end."""
    try:
        os.killpg(proc.pid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    proc.wait()


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    choices=["etl_roundtrip", "corpus_stream"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    cp = classpath()
    scratch = os.path.join(CACHE, "run")
    shutil.rmtree(scratch, ignore_errors=True)
    dirs = {d: os.path.join(scratch, d) for d in ("tmp", "work", "derby", "spark-local", "warehouse")}
    for d in dirs.values():
        os.makedirs(d)
    opts = [f"--add-opens={p}=ALL-UNNAMED" for p in ADD_OPENS] + [
        f"-Xms{HEAP}", f"-Xmx{HEAP}",
        "-XX:-UsePerfData",
        "-Duser.timezone=UTC",
        f"-Djava.io.tmpdir={dirs['tmp']}",
        f"-Dderby.system.home={dirs['derby']}",
        f"-Dspark.local.dir={dirs['spark-local']}",
        "-Dspark.ui.enabled=false",
        f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
        f"-Dgraftbench.work={dirs['work']}",
    ]
    env = dict(os.environ, TMPDIR=dirs["tmp"], GRAFT_WAREHOUSE=dirs["warehouse"])
    cmd = ["java"] + opts + ["-cp", cp, "graftbench.Main", "--workload", a.workload,
                             "--seed", str(a.seed), "--seconds", str(a.seconds),
                             "--trace", str(a.trace)]
    proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=subprocess.PIPE,
                            stderr=sys.stderr, text=True, start_new_session=True)
    deadline = time.monotonic() + RUN_TIMEOUT_S

    def on_signal(signum, _frame):
        stop(proc)
        shutil.rmtree(scratch, ignore_errors=True)
        sys.exit(128 + signum)

    signal.signal(signal.SIGTERM, on_signal)
    signal.signal(signal.SIGINT, on_signal)
    try:
        out, _ = proc.communicate(timeout=max(1.0, deadline - time.monotonic()))
    except subprocess.TimeoutExpired:
        stop(proc)
        shutil.rmtree(scratch, ignore_errors=True)
        fail(f"run exceeded {RUN_TIMEOUT_S} s", 4)
    shutil.rmtree(scratch, ignore_errors=True)
    sys.stdout.write(out)
    sys.stdout.flush()
    lines = out.rstrip("\n").split("\n")
    if not lines[-1].startswith('{"correct"'):
        fail(f"no result line (java exit {proc.returncode})", proc.returncode or 5)
    sys.exit(proc.returncode)


if __name__ == "__main__":
    main()
