#!/usr/bin/env python3
"""Run one benchmark workload against the engine in this checkout.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1
                             [--scale full|tiny] [--wrong-reference]

Builds the engine and the harness from source with sbt (once per source
state, into .bench_build/ and the sbt target directories), clears the run
state, then runs the workload in a fresh JVM on local[nproc]. The JVM prints
the result as the last line of standard output and writes its trace table
to .bench_build/artifacts/.
"""
import argparse
import hashlib
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("web_pipeline", "frontier_kernels")
HEAP = "3g"
# offline build: resolve only from the repositories in ~/.sbt/repositories
SBT_OPTS = ("-Dsbt.override.build.repos=true -Dsbt.offline=true -Xmx2g "
            "-XX:-UsePerfData")
# Spark on JDK 17 needs these outside spark-submit (as in the root build).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_files():
    """Every file the build reads, relative to the checkout root."""
    out = []
    for top in ("build.sbt", "project", "src/main", "perfbench"):
        path = os.path.join(ROOT, top)
        if os.path.isfile(path):
            out.append(top)
            continue
        for d, dirs, files in os.walk(path):
            dirs[:] = sorted(x for x in dirs if x != "target" and not (
                x == "project" and os.path.basename(d) == "project"))
            for f in sorted(files):
                if f.endswith((".scala", ".sbt", ".properties", ".java")):
                    out.append(os.path.relpath(os.path.join(d, f), ROOT))
    return sorted(out)


def stamp():
    h = hashlib.sha256()
    for rel in source_files():
        h.update(rel.encode())
        with open(os.path.join(ROOT, rel), "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def build():
    """Compile with sbt unless the classpath for these sources exists."""
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "classpath.stamp")
    want = stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read().strip() == want:
                with open(cp_file) as g:
                    return g.read().strip()
    log("building engine and harness with sbt")
    env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=SBT_OPTS)
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true",
         "export perfbench/Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=sys.stderr,
        text=True, timeout=850)
    lines = [x for x in proc.stdout.splitlines() if x.strip()]
    if proc.returncode != 0 or not lines or "[" in lines[-1][:1]:
        sys.stderr.write(proc.stdout)
        raise SystemExit(f"build failed (sbt exit {proc.returncode})")
    os.makedirs(BUILD, exist_ok=True)
    with open(cp_file, "w") as f:
        f.write(lines[-1])
    with open(stamp_file, "w") as f:
        f.write(want)
    return lines[-1]


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    ap.add_argument("--scale", default="full", choices=("full", "tiny"))
    ap.add_argument("--wrong-reference", action="store_true",
                    help="shift one reference answer (self-test of checks)")
    a = ap.parse_args()
    # a SIGTERM unwinds through subprocess.run, which kills and reaps the
    # child (sbt or the JVM) before this process exits
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    engine = os.path.join(ROOT, "src", "main", "scala", "graft")
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(engine)):
        raise SystemExit(f"no engine sources under {ROOT}; nothing to measure")

    classpath = build()
    state = os.path.join(BUILD, "state")
    # same start state every run: no snapshots, spill files or temp files
    # left by an earlier run
    shutil.rmtree(state, ignore_errors=True)
    os.makedirs(os.path.join(state, "tmp"))
    # -XX:-UsePerfData: no hsperfdata file in /tmp; all run files stay here
    cmd = ["java", f"-Xmx{HEAP}", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={state}/tmp"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "graftbench.Main",
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", a.trace,
            "--scale", a.scale, "--state-dir", state,
            "--artifact-dir", os.path.join(BUILD, "artifacts")]
    if a.wrong_reference:
        cmd.append("--wrong-reference")
    try:
        return subprocess.run(cmd, cwd=ROOT).returncode
    finally:
        shutil.rmtree(state, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
