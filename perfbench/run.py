#!/usr/bin/env python3
"""Benchmark command for graft.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. Builds graft and the benchmark program
from the checkout's sources (once per source fingerprint, under
$CARGO_TARGET_DIR or .bench_build), runs one workload in one JVM, and
prints the result JSON as the last line of standard output. Exits non-zero
without a result line when the sources are missing, the build fails, the
run fails or any output is wrong.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
WORKLOADS = ("tick_replay", "operator_queries")
BUILD_TIMEOUT_S = 600
RUN_TIMEOUT_S = 170
HEAP = "4g"
# Spark on JDK 17 needs these when the session is created outside
# spark-submit (org.apache.spark.launcher.JavaModuleOptions).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(2)


def run(cmd, cwd, timeout, env=None, capture=True):
    """Runs cmd in its own process group; kills the group on timeout and
    waits for it, so nothing outlives the benchmark."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, start_new_session=True,
                         stdout=subprocess.PIPE if capture else None, text=True)
    try:
        out, _ = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        fail(f"timed out after {timeout} s: {' '.join(cmd[:3])} ...")
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
    return p.returncode, out or ""


def source_files():
    roots = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src", "main")]
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs if f.endswith(".scala")]
    return sorted(files)


def fingerprint():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build(build_dir):
    """Compiles graft with the benchmark program; returns the runtime classpath."""
    stamp = os.path.join(build_dir, "build.json")
    fp = fingerprint()
    if os.path.exists(stamp):
        with open(stamp) as fh:
            s = json.load(fh)
        if s.get("fingerprint") == fp and all(os.path.exists(p) for p in s["classpath"][:1]):
            return s["classpath"], fp
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    code, out = run(["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
                     "compile", "export Compile/fullClasspath"],
                    HERE, BUILD_TIMEOUT_S, env=env)
    if code != 0:
        sys.stderr.write(out[-4000:])
        fail(f"build failed (sbt exit {code})")
    cp_lines = [l for l in out.splitlines() if "perfbench" in l and ".jar" in l and ":" in l]
    if not cp_lines:
        fail("build printed no classpath")
    cp = cp_lines[-1].strip().split(os.pathsep)
    os.makedirs(build_dir, exist_ok=True)
    with open(stamp, "w") as fh:
        json.dump({"fingerprint": fp, "classpath": cp}, fh)
    return cp, fp


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("run from the root of a graft checkout: src/main/scala/graft is missing")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)

    build_dir = os.path.abspath(os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    cp, fp = build(build_dir)
    rev = ""
    if os.path.exists(os.path.join(ROOT, ".git")):
        try:
            rev = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                                 text=True, timeout=10).stdout.strip()
        except (OSError, subprocess.TimeoutExpired):
            pass

    work = os.path.join(build_dir, "work", f"{a.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    artifact = os.path.join(build_dir, "artifacts",
                            f"{a.workload}-seed{a.seed}-trace{a.trace}-{os.getpid()}.json")
    cmd = (["java", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", os.pathsep.join(cp), "perfbench.Main",
              "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
              "--trace", str(a.trace), "--work", work, "--artifact", artifact,
              "--rev", rev or "none", "--sources", fp[:16]])
    try:
        code, out = run(cmd, ROOT, RUN_TIMEOUT_S)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = [l for l in out.splitlines() if l.startswith("{")]
    result = json.loads(lines[-1]) if lines else {}
    if code != 0 or not result.get("correct"):
        sys.stderr.write(out[-4000:])
        fail(f"workload {a.workload} failed (exit {code}, correct={result.get('correct')})")
    # Units come from BENCHMARK.json. A per-layer metric of a layer the
    # workload does not run reads 0; any other name mismatch is an error.
    declared = spec["per_layer" if a.trace else "end_to_end"]
    got = result["metrics"]
    missing = [m["name"] for m in declared if m["name"] not in got]
    unknown = sorted(set(got) - {m["name"] for m in declared})
    if unknown or (missing and not a.trace):
        fail(f"metrics {unknown or missing} do not match BENCHMARK.json")
    result["metrics"] = {m["name"]: {"value": float(got.get(m["name"], 0.0)), "unit": m["unit"]}
                         for m in declared}
    print(f"[perfbench] artifact: {os.path.relpath(artifact, ROOT)}")
    print(json.dumps(result))


if __name__ == "__main__":
    main()
