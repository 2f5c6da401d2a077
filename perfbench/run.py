#!/usr/bin/env python3
"""Benchmark entry point for the graft dedup engine.

Run from the root of a checkout:

    python3 perfbench/run.py --workload batch_dup --seed 1 --seconds 20 --trace 0

It builds the benchmark program (perfbench/build.sbt, which depends on the
engine's own build at the checkout root) with sbt, offline, and skips the
build while the sources are unchanged. It then runs one benchmark process and
prints the result as the last line of standard output:

    {"correct": true, "attempted": 5, "failed": 0, "metrics": {...}}

Everything it writes stays inside the checkout: the engine's classes in
target/, everything else (build output, inputs, span files) under
perfbench/. It exits non-zero without a result when the engine sources are
missing, the build fails or the run fails.
"""
import argparse
import fcntl
import hashlib
import json
import os
import pathlib
import subprocess
import sys
import threading

HERE = pathlib.Path(__file__).resolve().parent
ROOT = HERE.parent
BUILD = HERE / ".build"
OUT = HERE / "out"
WORKLOADS = ("batch_dup", "ops_suite", "batch_longdoc", "incremental")
RUN_TIMEOUT_S = 170

# JDK 17 module opens Spark needs outside spark-submit.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_stamp():
    """Hash of every input of the build: the engine's and the benchmark's."""
    h = hashlib.sha256()
    roots = [ROOT / "src" / "main", ROOT / "build.sbt", ROOT / "project" / "build.properties",
             HERE / "src" / "main", HERE / "build.sbt", HERE / "project" / "build.properties"]
    for r in roots:
        files = [r] if r.is_file() else sorted(p for p in r.rglob("*") if p.is_file())
        for p in files:
            h.update(str(p.relative_to(ROOT)).encode())
            h.update(p.read_bytes())
    return h.hexdigest()


def build():
    """Compiles with sbt and returns the runtime classpath. A lock keeps two
    runs started together from compiling into the same directory at once."""
    BUILD.mkdir(parents=True, exist_ok=True)
    with open(BUILD / "lock", "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        return build_locked()


def build_locked():
    stamp = source_stamp()
    cp_file, stamp_file = BUILD / "classpath.txt", BUILD / "stamp"
    if cp_file.exists() and stamp_file.exists() and stamp_file.read_text() == stamp:
        return cp_file.read_text().strip()
    env = dict(os.environ, COURSIER_MODE="offline")
    repos = pathlib.Path.home() / ".sbt" / "repositories"
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    if repos.exists():
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    # every JVM sbt starts keeps its scratch files inside the checkout
    tmp = BUILD / "tmp"
    tmp.mkdir(exist_ok=True)
    env["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    log("building the engine and the benchmark with sbt")
    p = subprocess.run(["sbt", "-batch", "-Dsbt.log.noformat=true", "compile",
                        "export Runtime/fullClasspath"],
                       cwd=HERE, env=env, stdin=subprocess.DEVNULL,
                       capture_output=True, text=True, timeout=800)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines or "classes" not in lines[-1]:
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-4000:])
        raise SystemExit("build failed")
    cp = lines[-1].strip()
    cp_file.write_text(cp)
    stamp_file.write_text(stamp)
    return cp


def java_cmd(cp, argv):
    tmp = OUT / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return (["java"] + opens +
            ["-Xms2g", "-Xmx3g", "-XX:+UseParallelGC", "-XX:-UsePerfData",
             f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
             "-cp", cp, "perfbench.Main"] + argv + ["--out", str(OUT)])


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()
    if not (ROOT / "src" / "main" / "scala" / "graft").is_dir():
        raise SystemExit(f"engine sources not found under {ROOT / 'src'}; "
                         "run from the root of a full checkout")
    cp = build()
    argv = ["--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", a.trace]
    proc = subprocess.Popen(java_cmd(cp, argv), cwd=ROOT, stdin=subprocess.DEVNULL,
                            stdout=subprocess.PIPE, text=True)
    watchdog = threading.Timer(RUN_TIMEOUT_S, proc.kill)
    watchdog.start()
    result = None
    try:
        for line in proc.stdout:
            if line.startswith("RESULT "):
                result = json.loads(line[len("RESULT "):])
            else:
                sys.stderr.write(line)
        proc.wait()
    finally:
        watchdog.cancel()
        if proc.poll() is None:
            proc.kill()
            proc.wait()
    if proc.returncode != 0 or result is None:
        raise SystemExit(f"benchmark run failed (exit {proc.returncode})")
    print(json.dumps(result))


if __name__ == "__main__":
    main()
