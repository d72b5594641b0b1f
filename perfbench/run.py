#!/usr/bin/env python3
"""Run one benchmark workload against the engine built from this checkout.

    python3 perfbench/run.py --workload kb_serve --seed 1 --seconds 6 --trace 0

Builds the engine and the benchmark program with sbt when their sources
changed since the last build (perfbench/build.sbt), then runs it in
its own JVM on local[nproc]. Every run gets a fresh work directory (input
tables, Spark warehouse, spark.local.dir) under perfbench/work/, deleted at
exit. Spans, untraced end-to-end results and JVM logs go to perfbench/out/.
The last stdout line is the result JSON.
"""
import argparse
import hashlib
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

WORKLOADS = ("kb_serve", "curate_spine")
HEAP = ["-Xms3g", "-Xmx3g"]
RUN_LIMIT_S = 175  # a run must end within 180 s, set-up included
BUILD_LIMIT_S = 850

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
LAUNCH = BENCH / "target" / "launch"
OUT = BENCH / "out"


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_stamp():
    """Digest of every build input's path, size and mtime."""
    inputs = [ROOT / "build.sbt", ROOT / "project" / "build.properties",
              BENCH / "build.sbt", BENCH / "project" / "build.properties"]
    for top in (ROOT / "src" / "main", BENCH / "src"):
        inputs += sorted(p for p in top.rglob("*") if p.is_file())
    h = hashlib.sha256()
    for p in inputs:
        st = p.stat()
        h.update(f"{p}\0{st.st_size}\0{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def build():
    stamp = source_stamp()
    stamp_file = LAUNCH / "stamp"
    if (stamp_file.exists() and stamp_file.read_text() == stamp
            and (LAUNCH / "classpath.txt").exists()):
        return
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    # sbt's ivy home (lock files only: dependencies come from the coursier
    # cache) goes under target/ so the build writes inside the checkout
    env["SBT_OPTS"] = (env.get("SBT_OPTS", "-Dsbt.override.build.repos=true -Dsbt.offline=true")
                       + f" -Dsbt.ivy.home={BENCH / 'target' / 'ivy'}")
    log = OUT / "build.log"
    with open(log, "w") as f:
        try:
            rc = subprocess.run(
                ["sbt", "--batch", "-Dsbt.log.noformat=true", "writeLaunch"],
                cwd=BENCH, env=env, stdout=f, stderr=subprocess.STDOUT,
                stdin=subprocess.DEVNULL, timeout=BUILD_LIMIT_S).returncode
        except subprocess.TimeoutExpired:
            rc = -1
    if rc != 0:
        sys.stderr.write(log.read_text()[-4000:])
        fail(f"build failed (exit {rc}); full log in {log}", 3)
    stamp_file.write_text(stamp)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()
    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main" / "scala").is_dir():
        fail(f"no engine sources next to {BENCH.name}/ (expected ../build.sbt and ../src/main/scala)")
    OUT.mkdir(parents=True, exist_ok=True)
    build()

    cp = (LAUNCH / "classpath.txt").read_text().strip()
    jvm_opts = [o for o in (LAUNCH / "jvm_options.txt").read_text().splitlines() if o]
    work = BENCH / "work" / f"{a.workload}-{a.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    tag = f"{a.workload}_seed{a.seed}_trace{a.trace}"
    cmd = (["java"] + jvm_opts + HEAP + ["-cp", cp, "graft.perfbench.Main",
           "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
           "--trace", a.trace, "--work", str(work), "--out", str(OUT)])
    proc = None

    def stop(*_):
        raise SystemExit(143)

    signal.signal(signal.SIGTERM, stop)
    try:
        with open(OUT / f"{tag}.log", "w") as err:
            # SPARK_LOCAL_DIRS would override spark.local.dir: keep Spark's files in the run's dir
            env = dict(os.environ, SPARK_LOCAL_DIRS=str(work / "local"))
            proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=subprocess.PIPE,
                                    stderr=err, stdin=subprocess.DEVNULL, text=True)
            deadline = time.monotonic() + RUN_LIMIT_S
            try:
                out, _ = proc.communicate(timeout=max(1.0, deadline - time.monotonic()))
            except subprocess.TimeoutExpired:
                fail(f"run exceeded {RUN_LIMIT_S} s; log in {OUT / (tag + '.log')}", 4)
        sys.stdout.write(out)
        sys.stdout.flush()
        if proc.returncode != 0:
            fail(f"benchmark JVM exited {proc.returncode}; log in {OUT / (tag + '.log')}",
                 proc.returncode if proc.returncode > 0 else 5)
    finally:
        if proc is not None and proc.poll() is None:
            proc.terminate()
            try:
                proc.wait(timeout=10)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
