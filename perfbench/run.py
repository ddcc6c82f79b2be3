#!/usr/bin/env python3
"""Benchmark driver: builds the program and the benchmark from source with
sbt (once per source state), then runs one workload in a fresh JVM.

Usage: python3 perfbench/run.py --workload <name> --seed <n> \
           --seconds <s> --trace <0|1>

The last line of stdout is the result JSON. The exit code is non-zero,
with no result printed, when the build fails, the run fails or hangs, or
the result lacks a metric that BENCHMARK.json declares.
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
WORKLOADS = ("etl_weekly_ok", "query_graded14")
# a run that builds must end within 900 s, any other within 180 s
BUILD_TIMEOUT_S = 700
RUN_TIMEOUT_S = 170
# A fixed heap (-Xms = -Xmx): with a growable heap the resident high-water
# mark depends on when the collector chose to grow it.
JVM_HEAP = "3g"
# What spark-submit would pass on JDK 17 (JavaModuleOptions), as in the
# program's own build.sbt.
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
    roots = [ROOT / "src" / "main", HERE / "src"]
    files = [ROOT / "build.sbt", HERE / "build.sbt"]
    for proj in (ROOT / "project", HERE / "project"):
        files += [p for p in proj.glob("*") if p.suffix in (".sbt", ".scala", ".properties")]
    for r in roots:
        files += [p for p in r.rglob("*") if p.is_file()]
    return sorted(files)


def fingerprint():
    h = hashlib.sha256()
    for f in source_files():
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def run_group(cmd, cwd, timeout, env=None, stdout=None):
    """Runs cmd in its own process group; kills the group on timeout.
    Returns (returncode or None on timeout, captured stdout)."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=stdout,
                         stderr=sys.stderr, start_new_session=True, text=True)
    try:
        out, _ = p.communicate(timeout=timeout)
        return p.returncode, out
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.communicate()
        return None, None


def build():
    """Returns the runtime classpath, rebuilding when any source changed."""
    target = HERE / "target"
    stamp, cp = target / "build.stamp", target / "classpath.txt"
    if not (ROOT / "build.sbt").is_file() or shutil.which("sbt") is None:
        raise SystemExit("perfbench: needs sbt and the program's build.sbt")
    fp = fingerprint()
    if stamp.is_file() and cp.is_file() and stamp.read_text() == fp:
        return cp.read_text().strip()
    log("building with sbt")
    env = dict(os.environ, COURSIER_MODE="offline")
    # the program's own JVM options for sbt (scalac needs its deep stack)
    jvmopts = ROOT / ".jvmopts"
    opts = jvmopts.read_text().split() if jvmopts.is_file() else []
    opts.append("-Dsbt.offline=true")
    repos = Path.home() / ".sbt" / "repositories"
    if repos.is_file():
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    rc, _ = run_group(["sbt", "--batch", "-Dsbt.log.noformat=true",
                       "perfbench/writeClasspath"], HERE, BUILD_TIMEOUT_S, env,
                      stdout=sys.stderr)
    if rc != 0 or not cp.is_file():
        raise SystemExit(f"perfbench: build failed (rc={rc})")
    stamp.write_text(fp)
    return cp.read_text().strip()


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()

    declared = json.loads((ROOT / "BENCHMARK.json").read_text())
    want = {m["name"] for m in declared["per_layer" if a.trace == "1" else "end_to_end"]}
    classpath = build()

    work = HERE / "work" / a.workload
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    cmd = ["java", f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}", f"-Djava.io.tmpdir={work / 'tmp'}",
           f"-Dlog4j2.configurationFile={HERE / 'log4j2.properties'}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for m in ADD_OPENS:
        cmd += ["--add-opens", f"{m}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "perfbench.Main", "--workload", a.workload,
            "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", a.trace, "--work", str(work)]
    try:
        rc, out = run_group(cmd, ROOT, RUN_TIMEOUT_S, stdout=subprocess.PIPE)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if rc != 0:
        raise SystemExit(f"perfbench: run failed (rc={rc})")
    lines = [l for l in out.splitlines() if l.strip()]
    result = json.loads(lines[-1]) if lines else {}
    if set(result.get("metrics", {})) != want:
        raise SystemExit(f"perfbench: metrics {sorted(result.get('metrics', {}))} "
                         f"!= declared {sorted(want)}")
    print("\n".join(lines), flush=True)


if __name__ == "__main__":
    main()
