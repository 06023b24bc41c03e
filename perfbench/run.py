#!/usr/bin/env python3
"""graft benchmark runner.

Usage, from the repository root:

    python3 perfbench/run.py --workload chat --seed 1 --seconds 10 --trace 0

Builds graft's main sources together with the harness in perfbench/src
(sbt, offline) when they changed since the last build, then runs one
workload in a fresh JVM with a fresh local[nproc] Spark session and prints
the harness's detail record and, as the last line, the result line:
{"correct", "attempted", "failed", "metrics"}. --trace 0 reports the
end-to-end metrics, --trace 1 the per-layer metrics. Everything it writes
stays under perfbench/ (target/ for the build, .work/ for the run's
warehouse, deleted afterwards, and .results/ for detail records, spans and
the exact counts that later traced runs compare against).
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

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
TARGET = HERE / "target"
CLASSPATH = TARGET / "classpath.txt"
STAMP = TARGET / "bench.stamp"
WORKLOADS = ("chat", "ingest")
RUN_LIMIT_S = 170
BUILD_LIMIT_S = 700

# Spark 4 on JDK 17 outside spark-submit needs these module openings.
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
    """Hash of every input of the build: graft's main tree and the harness."""
    h = hashlib.sha256()
    roots = [ROOT / "src" / "main", HERE / "src", HERE / "build.sbt", HERE / "project" / "build.properties"]
    for r in roots:
        files = [r] if r.is_file() else sorted(p for p in r.rglob("*") if p.is_file())
        for p in files:
            h.update(str(p.relative_to(ROOT)).encode())
            h.update(p.read_bytes())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = Path.home() / ".sbt" / "repositories"
    if repos.is_file():
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    return env


def java_cmd(work, main_args):
    cp = CLASSPATH.read_text().strip()
    cmd = ["java"]
    for m in ADD_OPENS:
        cmd += ["--add-opens", f"{m}=ALL-UNNAMED"]
    # C1 only: with C2 a run's latencies kept falling deck after deck as
    # the compiler caught up, so a run's figure depended on how far it got
    cmd += ["-XX:TieredStopAtLevel=1", "-Xmx3g", f"-Djava.io.tmpdir={work / 'tmp'}",
            f"-Dlog4j2.configurationFile={HERE / 'log4j2.properties'}",
            "-Dspark.ui.enabled=false"]
    cmd += ["-cp", cp, "graftbench.Main"] + main_args
    return cmd


def run(cmd, limit, **kw):
    """Run to completion, or kill after `limit` seconds or when this script
    is interrupted; waits for the process to end either way."""
    p = subprocess.Popen(cmd, **kw)
    try:
        out, _ = p.communicate(timeout=limit)
    finally:
        if p.poll() is None:
            p.kill()
            p.wait()
    return p.returncode, out


def harness_args(workload, seed, seconds, trace, work, out, stamp):
    # the stamp keys the exact-count baseline, so traced runs compare only
    # with traced runs of the same build
    return ["--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
            "--trace", str(trace), "--work", str(work), "--out", str(out),
            "--results", str(HERE / ".results"), "--stamp", stamp[:16]]


def build(stamp):
    """Compile and record the runtime classpath."""
    log("building graft and the harness (sbt, offline)")
    for p in (CLASSPATH, STAMP):
        p.unlink(missing_ok=True)
    code, _ = run(["sbt", "-batch", "-Dsbt.log.noformat=true", "compile", "writeClasspath"],
                  BUILD_LIMIT_S, cwd=HERE, env=sbt_env(), stdout=sys.stderr)
    if code != 0 or not CLASSPATH.is_file():
        raise RuntimeError(f"sbt build failed ({code})")
    STAMP.write_text(stamp)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    if not (ROOT / "src" / "main" / "scala" / "graft").is_dir():
        log(f"graft sources not found under {ROOT / 'src'}; run from a full checkout")
        return 2
    stamp = source_stamp()
    if not (STAMP.is_file() and STAMP.read_text() == stamp and CLASSPATH.is_file()):
        build(stamp)

    work = HERE / ".work" / f"{a.workload}-{a.seed}-{os.getpid()}"
    out = work / "result.txt"
    try:
        (work / "tmp").mkdir(parents=True, exist_ok=True)
        start = time.time()
        code, _ = run(java_cmd(work, harness_args(a.workload, a.seed, a.seconds, a.trace, work, out, stamp)),
                      RUN_LIMIT_S, stdout=sys.stderr)
        if code != 0 or not out.is_file():
            log(f"harness exited {code} after {time.time() - start:.1f} s without a result")
            return 1
        lines = out.read_text().strip().splitlines()
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print("\n".join(lines), flush=True)
    return 0


if __name__ == "__main__":
    # a terminated runner still stops and waits for its JVM (see run())
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(1))
    try:
        sys.exit(main())
    except (RuntimeError, subprocess.TimeoutExpired) as e:
        log(f"error: {e}")
        sys.exit(1)
