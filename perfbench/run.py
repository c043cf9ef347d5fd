#!/usr/bin/env python3
"""Benchmark of the graft engine: one workload, one seed, one JSON line.

    python3 perfbench/run.py --workload ticket_sync --seed 1 --seconds 10 --trace 0

Run from the repository root. The first run builds the library and the
harness from source with sbt (offline) and caches the classpath under
perfbench/target; later runs reuse it while no source file changed. The
JVM writes every input and table under perfbench/work/ (deleted when the run
ends) and the full per-op record to perfbench/out/. The last stdout line is
{"correct", "attempted", "failed", "metrics"}: end-to-end metrics with
--trace 0, per-layer metrics with --trace 1. The exit code is nonzero when a
correctness check fails or the program cannot be built or run.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
TARGET = HERE / "target"
CLASSPATH = TARGET / "perfbench.classpath"
WORKLOADS = ("ticket_sync", "sql_analytics", "corpus_curation")
BUILD_TIMEOUT_S = 850
RUN_TIMEOUT_S = 170
HEAP = "3g"

# Spark on JDK 17 outside spark-submit needs these (the same list the
# library's own build passes to forked JVMs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def sources_stamp():
    """Hash of every input of the build: library sources, harness sources
    and both build definitions."""
    files = [ROOT / "build.sbt", ROOT / "project" / "build.properties",
             HERE / "build.sbt", HERE / "project" / "build.properties"]
    for d in (ROOT / "src" / "main", HERE / "src"):
        files += sorted(p for p in d.rglob("*") if p.is_file())
    h = hashlib.sha256()
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def run_group(cmd, timeout, **kw):
    """Run `cmd` in its own process group; kill the whole group on timeout
    and always wait for it to end."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, err = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.communicate()
        fail(f"{cmd[0]} did not finish within {timeout} s", 3)
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.communicate()
        raise
    return p.returncode, out, err


def build():
    """Compile library + harness if any source changed; return the classpath."""
    if not (ROOT / "src" / "main" / "scala" / "graft").is_dir():
        fail("library sources not found next to perfbench/; run from a full checkout")
    stamp = sources_stamp()
    if CLASSPATH.is_file():
        cached_stamp, _, cp = CLASSPATH.read_text().partition("\n")
        if cached_stamp == stamp and cp.strip():
            return cp.strip()
    env = dict(os.environ, COURSIER_MODE="offline")
    cmd = ["sbt", "--batch", "-Dsbt.offline=true", "-Dsbt.log.noformat=true",
           "-Dsbt.server.forcestart=false", "export perfbench/Runtime/fullClasspath"]
    rc, out, err = run_group(cmd, BUILD_TIMEOUT_S, cwd=HERE, env=env,
                             stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    lines = [l for l in out.splitlines() if ".jar" in l and os.pathsep in l
             and not l.startswith("[")]
    if rc != 0 or not lines:
        errors = [l for l in (out + err).splitlines() if l.startswith("[error]")]
        sys.stderr.write("\n".join(errors[-60:] or (out + err).splitlines()[-60:]) + "\n")
        fail("build failed")
    TARGET.mkdir(exist_ok=True)
    CLASSPATH.write_text(stamp + "\n" + lines[-1].strip() + "\n")
    return lines[-1].strip()


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    ap.add_argument("--sf", type=float, default=0.1,
                    help="fixture scale factor (0.1 measures; tests use 0.001)")
    ap.add_argument("--corrupt", action="store_true",
                    help="damage one result before the check (the check must fail)")
    a = ap.parse_args()

    cp = build()
    work = HERE / "work" / f"{a.workload}-{a.seed}-{os.getpid()}"
    detail = Path("perfbench") / "out" / f"{a.workload}-seed{a.seed}-trace{a.trace}.json"
    (ROOT / detail).parent.mkdir(parents=True, exist_ok=True)
    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    java = [
        # The parallel collector runs no concurrent threads beside the ops;
        # with G1 one run in three or so was 20-30% slower throughout.
        "java", f"-Xmx{HEAP}", "-XX:+UseParallelGC", f"-Djava.io.tmpdir={tmp}",
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        *[x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")],
        "-cp", cp, "perfbench.Main",
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", str(a.trace), "--sf", str(a.sf),
        "--work", str(work), "--detail", str(detail),
        "--corrupt", "1" if a.corrupt else "0",
    ]
    log = ROOT / detail.with_suffix(".log")
    try:
        with open(log, "w") as err:
            rc, out, _ = run_group(java, RUN_TIMEOUT_S, cwd=ROOT, stdout=subprocess.PIPE,
                                   stderr=err, text=True)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = out.strip().splitlines()
    result = None
    if lines:
        try:
            result = json.loads(lines[-1])
        except ValueError:
            pass
    if result is None or set(result) != {"correct", "attempted", "failed", "metrics"}:
        sys.stderr.write(log.read_text()[-4000:])
        fail(f"the JVM printed no result (exit code {rc})", rc or 4)
    for line in lines:
        print(line)
    if rc != 0 or not result["correct"]:
        sys.stderr.write("".join(l + "\n" for l in log.read_text().splitlines()
                                 if "INCORRECT" in l or "failed" in l)[-4000:])
        sys.exit(rc or 1)


if __name__ == "__main__":
    main()
