#!/usr/bin/env python3
"""Build the engine with the lake benchmark from source, then run one workload.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run compiles the engine
(src/main/scala) together with the benchmark driver (perfbench/src) into
.bench_build/; later runs reuse the build while the sources are unchanged.
The driver's last stdout line is the result JSON:
{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}.
Any failure to build or run exits non-zero without printing a result.
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
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(BUILD, "sbt", "scala-2.13", "classes")
STAMP = os.path.join(BUILD, "source.sha256")
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
BENCH_SRC = os.path.join(HERE, "src", "main", "scala")

BUILD_TIMEOUT_S = 720
RUN_TIMEOUT_S = 170

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(2)


def source_digest():
    """sha256 over the engine and benchmark sources and build files."""
    h = hashlib.sha256()
    files = []
    for top in (ENGINE_SRC, BENCH_SRC):
        for d, _, names in os.walk(top):
            files += [os.path.join(d, n) for n in names]
    files += [os.path.join(HERE, "build.sbt"),
              os.path.join(HERE, "project", "build.properties")]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def git_commit():
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                             capture_output=True, text=True, timeout=10)
        return out.stdout.strip() if out.returncode == 0 else "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def run_bounded(cmd, timeout, **kw):
    """Run `cmd` in its own process group; kill the group on timeout, or
    when this script is itself terminated."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)

    def kill_group(signum=None, frame=None):
        try:
            os.killpg(p.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        if signum is not None:
            p.wait()
            sys.exit(128 + signum)

    old = {s: signal.signal(s, kill_group) for s in (signal.SIGTERM, signal.SIGINT)}
    try:
        out, _ = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        kill_group()
        p.communicate()
        fail(f"{cmd[0]} exceeded {timeout} s")
    finally:
        for s, h in old.items():
            signal.signal(s, h)
    return p.returncode, out


def build(digest):
    if os.path.exists(STAMP) and os.path.isdir(CLASSES):
        with open(STAMP) as fh:
            if fh.read().strip() == digest:
                return
    shutil.rmtree(os.path.join(BUILD, "sbt"), ignore_errors=True)
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    opts = ["-Dsbt.offline=true", "-Dsbt.server.forcestart=false", "-Xmx2g",
            "-Djava.io.tmpdir=" + tmp]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true",
                 "-Dsbt.repository.config=" + repos]
    env["SBT_OPTS"] = " ".join(opts)
    code, _ = run_bounded(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"],
                          BUILD_TIMEOUT_S, cwd=HERE, env=env,
                          stdout=sys.stderr, stderr=sys.stderr)
    if code != 0 or not os.path.isdir(CLASSES):
        fail("build failed")
    with open(STAMP, "w") as fh:
        fh.write(digest + "\n")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", choices=["0", "1"], default="0")
    a = ap.parse_args()

    if not os.path.isdir(ENGINE_SRC):
        fail("engine sources (src/main/scala) not found; run from a checkout root")
    spark_home = os.environ.get("SPARK_HOME")
    if not spark_home or not os.path.isdir(os.path.join(spark_home, "jars")):
        fail("SPARK_HOME must point at a Spark 4 distribution")
    digest = source_digest()
    build(digest)

    # the run's scratch space (Spark's block manager, JVM temp files) stays
    # inside the checkout
    work = os.path.join(BUILD, "work", f"{a.workload}-{a.seed}-{os.getpid()}")
    tmp = work + "-tmp"
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(tmp, "spark-local"))
    cmd = ["java"] + [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")] + [
        "-Xmx3g", "-XX:+UseG1GC", "-XX:-UsePerfData",
        "-Djava.io.tmpdir=" + tmp,
        "-Dspark.ui.enabled=false",
        f"-Dperfbench.commit={git_commit()}",
        f"-Dperfbench.sourceDigest={digest[:16]}",
        "-cp", CLASSES + os.pathsep + os.path.join(spark_home, "jars", "*"),
        "perfbench.Main",
        "--workload", a.workload, "--seed", str(a.seed),
        "--seconds", str(a.seconds), "--trace", a.trace, "--work", work,
    ]
    code, out = run_bounded(cmd, RUN_TIMEOUT_S, cwd=ROOT, env=env,
                            stdout=subprocess.PIPE, text=True)
    shutil.rmtree(work, ignore_errors=True)
    shutil.rmtree(tmp, ignore_errors=True)
    lines = out.splitlines()
    result = None
    for i in range(len(lines) - 1, -1, -1):
        try:
            obj = json.loads(lines[i])
        except ValueError:
            continue
        if isinstance(obj, dict) and set(obj) == {"correct", "attempted", "failed", "metrics"}:
            result = lines.pop(i)
            break
    for line in lines:
        print(line)
    if code != 0 or result is None:
        fail(f"driver exited with {code}" + ("" if result else " and no result"))
    print(result)


if __name__ == "__main__":
    main()
