#!/usr/bin/env python3
"""Run one benchmark workload against the engine, building it from source.

    python3 perfbench/run.py --workload ingest --seed 1 --seconds 12 --trace 0

The first run in a checkout compiles the engine's sources together with the
benchmark's code (sbt, offline); later runs reuse the build until a source
file changes. Each run gets a fresh work directory under .bench_build/ that
holds its store, checkpoints and Spark scratch space, and is deleted when
the run ends. The last line of standard output is the result JSON.
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
STAMP = os.path.join(BUILD, "perfbench.stamp")
CLASSPATH = os.path.join(BUILD, "perfbench.classpath")
WORKLOADS = ("ingest", "serve_live", "board")
RUN_TIMEOUT_S = 175
BUILD_TIMEOUT_S = 800

JAVA_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(2)


def source_digest():
    """Digest of every file the build reads, so a changed source rebuilds."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def spark_home():
    """The Spark installation whose jars the build compiles against."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        fail("no Spark installation found (set SPARK_HOME)")
    return home


def build():
    digest = source_digest()
    if os.path.exists(STAMP) and os.path.exists(CLASSPATH):
        with open(STAMP) as fh:
            if fh.read().strip() == digest:
                return
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline", SPARK_HOME=spark_home())
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", f"-Djava.io.tmpdir={tmp}",
           "-J-XX:-UsePerfData", "compile", "export Runtime/fullClasspath"]
    p = subprocess.run(cmd, cwd=HERE, env=env, stdout=subprocess.PIPE,
                       stderr=sys.stderr, text=True, timeout=BUILD_TIMEOUT_S)
    sys.stderr.write(p.stdout)
    if p.returncode != 0:
        fail(f"build failed (sbt exit {p.returncode})")
    lines = [l for l in p.stdout.splitlines()
             if l and not l.startswith("[") and ".jar" in l]
    if not lines:
        fail("build printed no classpath")
    with open(CLASSPATH, "w") as fh:
        fh.write(lines[-1].strip())
    with open(STAMP, "w") as fh:
        fh.write(digest)


def run(args):
    with open(CLASSPATH) as fh:
        cp = fh.read().strip()
    work = os.path.join(BUILD, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    # the collector each workload measured steadiest with in interleaved runs:
    # on serve_live the parallel one made request latencies bimodal; on the
    # others G1's concurrent threads, competing with the four Spark cores,
    # spread the results more (see README)
    gc = "-XX:+UseG1GC" if args.workload == "serve_live" else "-XX:+UseParallelGC"
    cmd = [java, "-Xms3g", "-Xmx3g", gc, "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for o in JAVA_OPENS:
        cmd += ["--add-opens", f"{o}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "graft.perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--work", work, "--out", os.path.join(ROOT, ".bench_out"),
            "--data", os.path.join(HERE, "data", "sf0.01"),
            "--hashes", os.path.join(HERE, "board_hashes.tsv"),
            "--record-hashes", "1" if args.record_hashes else "0"]
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=subprocess.PIPE,
                            stderr=sys.stderr, text=True, start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        fail(f"run exceeded {RUN_TIMEOUT_S} s")
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)
    lines = out.splitlines()
    if proc.returncode != 0 or not lines:
        sys.stderr.write(out)
        fail(f"benchmark JVM exited with {proc.returncode}")
    try:
        result = json.loads(lines[-1])
    except ValueError:
        sys.stderr.write(out)
        fail("benchmark JVM printed no result line")
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        fail("malformed result line")
    print("\n".join(lines[:-1]))
    print(json.dumps(result), flush=True)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record-hashes", action="store_true",
                    help="record the board's result hashes instead of checking them")
    args = ap.parse_args()
    # a terminated run still stops its JVM and removes its work directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("engine sources (src/main/scala/graft) not found next to perfbench/")
    build()
    run(args)


if __name__ == "__main__":
    main()
