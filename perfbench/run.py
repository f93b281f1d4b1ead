#!/usr/bin/env python3
"""Run one benchmark workload and print its result as the last stdout line.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload lake-ops --seed 1 --seconds 10 --trace 0

The first call builds the engine and the benchmark from source with sbt
(``perfbench/build.sbt``) and caches the runtime classpath under
``.bench_build/``; later calls reuse it until a source file changes. Each
call then starts one JVM running ``perfbench.Main`` and waits for it.
Everything the run writes stays under ``.bench_build/`` in the checkout.
"""
import argparse
import hashlib
import os
import shutil
import signal
import subprocess
import sys

import fixtures

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("lake-ops", "query-warm")

# Spark 4 on JDK 17 needs these outside spark-submit (the list the engine's
# own build.sbt passes to its forked runs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
HEAP = {"lake-ops": "1g", "query-warm": "3g"}


def source_files():
    """Every file the build reads, relative to the checkout root."""
    files = [os.path.join("perfbench", "build.sbt"),
             os.path.join("perfbench", "project", "build.properties")]
    for top in (os.path.join("perfbench", "src", "main"), os.path.join("src", "main")):
        for d, _, names in os.walk(os.path.join(ROOT, top)):
            files += [os.path.relpath(os.path.join(d, n), ROOT) for n in names]
    return sorted(files)


def stamp():
    h = hashlib.sha256()
    for f in source_files():
        h.update(f.encode())
        with open(os.path.join(ROOT, f), "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def classpath():
    """Build if the sources changed since the cached build; return the classpath."""
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "stamp.txt")
    want = stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            if fh.read() == want:
                with open(cp_file) as fc:
                    return fc.read()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    out = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true",
         "-Dsbt.global.base=" + os.path.join(BUILD, "sbt-global"),
         "export Runtime/fullClasspath"],
        cwd=BENCH, env=env, stdin=subprocess.DEVNULL, stdout=subprocess.PIPE,
        stderr=subprocess.STDOUT, text=True, timeout=850)
    lines = [l for l in out.stdout.splitlines()
             if not l.startswith("[") and os.path.join("perfbench", "target") in l]
    if out.returncode != 0 or not lines:
        sys.stderr.write(out.stdout[-4000:])
        raise SystemExit("perfbench: build failed")
    cp = lines[-1].strip()
    with open(cp_file, "w") as fh:
        fh.write(cp)
    with open(stamp_file, "w") as fh:
        fh.write(want)
    return cp


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    cp = classpath()
    work = os.path.join(BUILD, "runs", str(os.getpid()))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    extra = []
    if args.workload != "lake-ops":
        data = os.path.join(work, "data")
        fixtures.write(data, fixtures.SEED)
        extra = ["--data", data]
    # -XX:-UsePerfData: no hsperfdata file in the system temp directory
    cmd = (["java", "-XX:-UsePerfData", "-Xmx" + HEAP[args.workload],
            "-Djava.io.tmpdir=" + tmp,
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + [a for p in ADD_OPENS for a in ("--add-opens", p + "=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--work", work, "--traces", os.path.join(BUILD, "traces")] + extra)
    # a terminated run stops its JVM too: SIGTERM unwinds through finally
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    proc = subprocess.Popen(cmd, cwd=ROOT, stdin=subprocess.DEVNULL)
    try:
        code = proc.wait(timeout=170)
    except subprocess.TimeoutExpired:
        code = 124
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)
    sys.exit(code)


if __name__ == "__main__":
    main()
