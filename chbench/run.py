#!/usr/bin/env python3
"""Run one workload of the layer-by-layer benchmark.

    python3 chbench/run.py --workload scan|ingest --seed N --seconds S --trace 0|1

Run from the root of a checkout. The first run compiles the engine
(../src/main) together with the benchmark sources with sbt; later runs
reuse the build while the sources are unchanged. The last stdout line is
the JSON result printed by chbench.Main. Build output and run files stay
under chbench/target.
"""
import argparse
import hashlib
import os
import signal
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
TARGET = os.path.join(BENCH, "target")
WORK = os.path.join(TARGET, "work")
STAMP = os.path.join(TARGET, "chbench-build.txt")
RUN_LIMIT_S = 170
HEAP = "3g"

# What spark-submit adds for Spark 4 on JDK 17 (as in the engine's build.sbt).
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def fail(msg, code=2):
    print(f"chbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_hash():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src"),
             os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "project", "build.properties")]
    for r in roots:
        files = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()[:16]


def run_bounded(cmd, limit_s, **kw):
    """Run cmd in its own process group; kill the group after limit_s."""
    proc = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = proc.communicate(timeout=limit_s)
    except BaseException:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise
    return proc.returncode, out


def spark_home():
    """SPARK_HOME, else the first spark-submit on PATH that sits in a Spark installation."""
    homes = [os.environ.get("SPARK_HOME")] + [
        os.path.dirname(os.path.dirname(os.path.realpath(os.path.join(d, "spark-submit"))))
        for d in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.isfile(os.path.join(d, "spark-submit"))]
    for home in homes:
        if home and os.path.isdir(os.path.join(home, "jars")):
            return home
    fail("no Spark installation found: set SPARK_HOME")


def build(digest):
    """Compile with sbt; returns the runtime classpath."""
    if os.path.exists(STAMP):
        with open(STAMP) as fh:
            stamp, cp = fh.read().split("\n", 1)
        if stamp == digest:
            return cp.strip()
    env = dict(os.environ, COURSIER_MODE="offline", SPARK_HOME=spark_home())
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    rc, out = run_bounded(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                           "export Runtime/fullClasspath"], 840, cwd=BENCH, env=env,
                          stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    lines = [l for l in out.splitlines() if l.strip()]
    if rc != 0 or not lines or "classes" not in lines[-1]:
        sys.stderr.write(out[-4000:])
        fail(f"sbt build failed (exit {rc})")
    cp = lines[-1].strip()
    os.makedirs(TARGET, exist_ok=True)
    with open(STAMP, "w") as fh:
        fh.write(digest + "\n" + cp)
    return cp


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=["scan", "ingest"])
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=["0", "1"])
    a = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        fail("engine sources (src/main/scala) not found next to the benchmark")
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    digest = source_hash()
    cp = build(digest)
    os.makedirs(os.path.join(WORK, "tmp"), exist_ok=True)
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseG1GC", f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')}"]
    cmd += [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    cmd += ["-cp", cp, "chbench.Main", "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", a.trace, "--work", WORK, "--source-hash", digest]
    t0 = time.time()
    try:
        rc, out = run_bounded(cmd, RUN_LIMIT_S, cwd=WORK, stdout=subprocess.PIPE, text=True)
    except subprocess.TimeoutExpired:
        fail(f"run exceeded {RUN_LIMIT_S} s", 3)
    sys.stdout.write(out)
    sys.stdout.flush()
    print(f"chbench: {a.workload} seed {a.seed} finished in {time.time() - t0:.1f} s, exit {rc}",
          file=sys.stderr)
    sys.exit(rc)


if __name__ == "__main__":
    main()
