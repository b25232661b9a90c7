#!/usr/bin/env python3
"""Build the engine with the benchmark and run one measured workload.

    python3 perfbench/run.py --workload etl_daemon --seed 1 --seconds 30 --trace 0

Run from the root of a checkout. The first run compiles the engine's
sources (src/main/scala) together with the benchmark (perfbench/src) into
.bench_build/, and later runs reuse the build while no source changes.
Each run is one fresh JVM (perfbench.Main). Its stdout is passed through;
the last line is the JSON result. Everything a run writes stays under
.bench_build/ in the checkout, and the run's scratch directory is removed
when it ends (the traced run's spans are kept under .bench_build/traces/).
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
CLASSES = os.path.join(BUILD, "sbt", "scala-2.13", "classes")
STAMP = os.path.join(BUILD, "stamp")
WORKLOADS = ("etl_daemon", "curation_corpus")
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170

ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def fail(msg):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(1)


def sources():
    """Every file the build reads, in a stable order."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")]
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    return sorted(files)


def source_hash():
    h = hashlib.sha256()
    for f in sources():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def spark_home():
    """The Spark installation whose jars the engine builds and runs against:
    SPARK_HOME, or the one whose spark-submit is on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        fail("no Spark installation found; set SPARK_HOME")
    return home


def run_group(cmd, timeout, **kw):
    """Runs cmd in its own process group and kills the whole group if it
    outlives the timeout or this script is interrupted."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        return p.wait(timeout=timeout)
    except BaseException:
        try:
            os.killpg(p.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        p.wait()
        raise


def build(spark):
    want = source_hash()
    if os.path.isdir(CLASSES) and os.path.exists(STAMP):
        with open(STAMP) as fh:
            if fh.read().strip() == want:
                return
    if shutil.which("sbt") is None:
        fail("sbt is not on PATH; it is needed to build the engine")
    env = dict(os.environ, SPARK_HOME=spark)
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.exists(repos):
        env["SBT_OPTS"] = (f"-Dsbt.override.build.repos=true -Dsbt.repository.config={repos} "
                           "-Dsbt.offline=true -Xmx2g")
    # sbt's scratch files go to the checkout; its caches stay where sbt keeps them
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env["SBT_OPTS"] = (env.get("SBT_OPTS", "") +
                       f" -Djava.io.tmpdir={tmp} -Djna.tmpdir={tmp} -XX:-UsePerfData").strip()
    print("[perfbench] building the engine and the benchmark", file=sys.stderr)
    try:
        code = run_group(["sbt", "--batch", "-Dsbt.server.autostart=false", "compile"],
                         BUILD_TIMEOUT_S, cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr)
    except subprocess.TimeoutExpired:
        fail(f"build did not finish within {BUILD_TIMEOUT_S} s")
    if code != 0:
        fail(f"build failed (sbt exit code {code})")
    os.makedirs(BUILD, exist_ok=True)
    with open(STAMP, "w") as fh:
        fh.write(want + "\n")


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()
    if a.seconds < 1:
        fail("--seconds must be at least 1")
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail(f"no engine sources under {ROOT}/src/main/scala; run from the root of a checkout")
    if shutil.which("java") is None:
        fail("java is not on PATH")
    spark = spark_home()

    build(spark)

    name = f"{a.workload}-s{a.seed}-t{a.trace}-p{os.getpid()}"
    work = os.path.join(BUILD, "work", name)
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    cmd = ["java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += [
        # a fixed heap, so heap resizing does not vary from run to run
        "-Xms2g", "-Xmx2g",
        # C1 only (see "Why C1" in perfbench/README.md), with the code cache
        # of the default tiered setting: C1-only mode otherwise defaults to
        # 48 MB, which Spark fills within a minute, and flushing it stalls
        # the run
        "-XX:TieredStopAtLevel=1", "-XX:ReservedCodeCacheSize=240m",
        # no hsperfdata file in the system temp directory
        "-XX:-UsePerfData",
        "-Duser.timezone=UTC",
        f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
        f"-Djava.io.tmpdir={work}/tmp",
        f"-Dderby.stream.error.file={work}/derby.log",
        "-cp", f"{CLASSES}{os.pathsep}{os.path.join(spark, 'jars')}/*",
        "perfbench.Main",
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", a.trace, "--work", work,
    ]
    try:
        code = run_group(cmd, RUN_TIMEOUT_S, cwd=ROOT)
    except subprocess.TimeoutExpired:
        fail(f"run did not finish within {RUN_TIMEOUT_S} s")
    finally:
        spans = os.path.join(work, "spans.jsonl")
        if os.path.exists(spans):
            os.makedirs(os.path.join(BUILD, "traces"), exist_ok=True)
            shutil.move(spans, os.path.join(BUILD, "traces", name + ".jsonl"))
        shutil.rmtree(work, ignore_errors=True)
    if code != 0:
        fail(f"benchmark JVM exited with code {code}")


if __name__ == "__main__":
    main()
