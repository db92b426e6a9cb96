#!/usr/bin/env python3
"""graft benchmark: one command, one workload per invocation.

    python3 perfbench/run.py --workload chips_2m --seed 1 --seconds 20 --trace 0

Run from the repository root. The first invocation in a checkout compiles
the engine and the harness (perfbench/build.sbt) with sbt and caches the
runtime classpath under .bench_build/; later invocations start the harness
with plain `java`. The harness runs the workload in one JVM at
local[<cores>] and writes an artifact (config, host calibration, samples,
metrics); this script prints its metrics as the last line of stdout:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

--trace 0 gives the end-to-end metrics, --trace 1 the per-layer ones. The
exit code is 0 only when every output checked was correct.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("chips_2m", "chips_commit")
RUN_LIMIT_S = 175
BUILD_LIMIT_S = 840
HEAP = "3g"
# A code cache large enough for Spark's generated classes and one more JIT
# compiler thread: with the JVM defaults the ops kept slowing down and
# recovering for ten or more warm-up ops; with these the walls settle
# after two or three.
JIT_FLAGS = ["-XX:ReservedCodeCacheSize=512m", "-XX:CICompilerCount=4"]
# Spark on JDK 17 outside spark-submit needs these (the same list as the
# engine's build.sbt).
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
    """Every file the build reads: the engine's main sources and build
    definition, and the harness package."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    proj = os.path.join(ROOT, "project")
    files += [os.path.join(proj, f) for f in os.listdir(proj)
              if f.endswith((".sbt", ".properties", ".scala"))]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    return sorted(files)


def source_sha():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode() + b"\0")
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def git_commit():
    try:
        p = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                           capture_output=True, text=True, timeout=10)
        return p.stdout.strip() if p.returncode == 0 else "unknown"
    except (OSError, subprocess.TimeoutExpired):
        return "unknown"


def run_bounded(cmd, cwd, limit_s, out_path, env=None):
    """Run cmd in its own process group with output to out_path; kill the
    whole group if it outlives limit_s. Returns the exit code (None when
    killed)."""
    with open(out_path, "wb") as out:
        p = subprocess.Popen(cmd, cwd=cwd, stdout=out, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, start_new_session=True,
                             env=env)
        try:
            return p.wait(timeout=max(1.0, limit_s))
        except BaseException:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            if not isinstance(sys.exc_info()[1], subprocess.TimeoutExpired):
                raise
            return None


def tail(path, n=30):
    try:
        with open(path, errors="replace") as fh:
            return "".join(fh.readlines()[-n:])
    except OSError:
        return ""


def classpath(sha):
    """The harness runtime classpath, compiling first when the sources
    changed since the cached build."""
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "source.sha256")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            fresh = fh.read().strip() == sha
        with open(cp_file) as fh:
            cp = fh.read().strip()
        if fresh and all(os.path.exists(e) for e in cp.split(os.pathsep)):
            return cp
    if shutil.which("sbt") is None:
        log("sbt not found on PATH")
        return None
    log("building engine and harness (first run in this checkout)")
    os.makedirs(BUILD, exist_ok=True)
    build_log = os.path.join(BUILD, "build.log")
    t0 = time.time()
    # the build resolves only from local caches: it must never fetch
    env = dict(os.environ, COURSIER_MODE=os.environ.get("COURSIER_MODE", "offline"))
    rc = run_bounded(["sbt", "-batch", "-Dsbt.log.noformat=true", "-Dsbt.offline=true",
                      f"-Dsbt.global.base={os.path.join(BUILD, 'sbt-global')}",
                      f"-Djna.tmpdir={os.path.join(BUILD, 'jna')}",
                      "export perfbench/Runtime/fullClasspath"],
                     HERE, BUILD_LIMIT_S, build_log, env)
    lines = [ln.strip() for ln in open(build_log, errors="replace")]
    cp = next((ln for ln in reversed(lines)
               if ln and not ln.startswith("[") and os.pathsep in ln), None)
    if rc != 0 or cp is None:
        log(f"build failed (exit {rc}):\n{tail(build_log)}")
        return None
    log(f"built in {time.time() - t0:.0f} s")
    with open(cp_file, "w") as fh:
        fh.write(cp)
    with open(stamp_file, "w") as fh:
        fh.write(sha)
    return cp


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    a = ap.parse_args()
    # a terminated run still stops the JVM it started (see run_bounded)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt")) and
            os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        log(f"the graft engine sources are not in {ROOT}; run from a full checkout")
        return 2
    sha = source_sha()
    cp = classpath(sha)
    if cp is None:
        return 3

    cores = len(os.sched_getaffinity(0))
    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    work = os.path.join(BUILD, "work", f"{tag}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    artifact = os.path.join(work, "artifact.json")
    jvm_log = os.path.join(BUILD, f"{tag}.log")
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", *JIT_FLAGS,
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}"] +
           [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           ["-cp", cp, "graftbench.Harness",
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--cores", str(cores), "--work", work, "--out", artifact,
            "--source-sha", sha, "--git-commit", git_commit()])
    try:
        rc = run_bounded(cmd, ROOT, RUN_LIMIT_S, jvm_log)
        if rc != 0 or not os.path.exists(artifact):
            why = "timed out" if rc is None else f"exit {rc}"
            log(f"harness failed ({why}):\n{tail(jvm_log)}")
            return 4
        with open(artifact) as fh:
            res = json.load(fh)
        keep = os.path.join(BUILD, "artifacts")
        os.makedirs(keep, exist_ok=True)
        shutil.copy(artifact, os.path.join(keep, f"{tag}.json"))
        spans = os.path.join(work, "spans.json")
        if os.path.exists(spans):
            shutil.copy(spans, os.path.join(keep, f"{tag}-spans.json"))
    finally:
        shutil.rmtree(work, ignore_errors=True)

    for p in res["problems"]:
        log(f"WRONG OUTPUT {p}")
    cal = res["calibration"]
    log(f"{tag}: {res['samples']['ops']} ops, congested={cal['congested']}, "
        f"artifact .bench_build/artifacts/{tag}.json")
    print(json.dumps({k: res[k] for k in ("correct", "attempted", "failed", "metrics")}))
    return 0 if res["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
