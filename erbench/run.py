#!/usr/bin/env python3
"""Entity-resolution benchmark: builds the engine and the harness from
source, runs one workload in a fresh JVM and prints its result.

Usage (from the repository root):

    python3 erbench/run.py --workload er_batch --seed 1 --seconds 10 --trace 0
    python3 erbench/run.py --workload catalog --sf-dir <TESTDATA dir> --seconds 1

The last line of standard output is the result:
{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}.
The line before it is the run's disclosure (host, load, versions, sizes,
samples). The full document, with the trace, is kept under erbench/out/.
Exit status: 0 when every output check passed, 1 when one failed, 2 when
the checkout has no engine sources, 3 when the build fails, 4 when the
run dies or overruns without a result.
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
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
HARNESS_SRC = os.path.join(HERE, "src", "main", "scala")
TARGET = os.path.join(HERE, "target")
JAR = os.path.join(TARGET, "scala-2.13", "erbench_2.13-0.jar")
ARCHIVE = os.path.join(TARGET, "erbench.jsa")
STAMP = os.path.join(TARGET, "erbench.stamp")
WORK = os.path.join(HERE, "work")
OUT = os.path.join(HERE, "out")

BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 172
# graft.Bench's driver heap: SPARK_DRIVER_MEM, 8g unless set (root build.sbt)
HEAP = os.environ.get("SPARK_DRIVER_MEM", "8g")
# a catalog pass over all 69 queries takes minutes; it is never gated
CATALOG_TIMEOUT_S = 1800

# Spark on JDK 17 outside spark-submit (same list as the root build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print("erbench: " + msg, file=sys.stderr, flush=True)


def source_digest():
    """Hash of every input of the build, so an unchanged tree skips sbt."""
    h = hashlib.sha256()
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for base in (ENGINE_SRC, HARNESS_SRC):
        for d, _, names in os.walk(base):
            files += [os.path.join(d, n) for n in names]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    digest = source_digest()
    if os.path.exists(JAR) and os.path.exists(STAMP):
        with open(STAMP) as fh:
            if fh.read().strip() == digest:
                return
    log("building engine + harness with sbt")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true")
    t0 = time.time()
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "package"],
        cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr,
        stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S)
    if proc.returncode != 0:
        log("build failed")
        sys.exit(3)
    train_class_archive()
    with open(STAMP, "w") as fh:
        fh.write(digest + "\n")
    log("build took %.1f s" % (time.time() - t0))


def train_class_archive():
    """Dumps the classes a run loads into a class-data-sharing archive.

    Every run starts a fresh JVM; mapping Spark's classes from the archive
    instead of loading and verifying them from ~300 jars cuts JVM and
    session start by several seconds.
    The training run is er_batch on a small corpus. Without an archive the
    runs still work, only their set-up is slower.
    """
    if os.path.exists(ARCHIVE):
        os.remove(ARCHIVE)
    code = run_jvm(["-XX:ArchiveClassesAtExit=" + ARCHIVE],
                   ["--workload", "er_batch", "--seconds", "1", "--entities", "100"],
                   os.path.join(TARGET, "train.json"), timeout=BUILD_TIMEOUT_S)
    if code != 0 and os.path.exists(ARCHIVE):
        os.remove(ARCHIVE)
    log("class archive %s" % ("written" if os.path.exists(ARCHIVE) else "not written"))


def classpath():
    spark_home = os.environ.get("SPARK_HOME")
    if not spark_home or not os.path.isdir(os.path.join(spark_home, "jars")):
        log("SPARK_HOME does not point at a Spark installation")
        sys.exit(3)
    return JAR + os.pathsep + os.path.join(spark_home, "jars", "*")


def java_bin():
    home = os.environ.get("JAVA_HOME")
    return os.path.join(home, "bin", "java") if home else "java"


def run_jvm(jvm_args, main_args, out_file, timeout=RUN_TIMEOUT_S):
    shutil.rmtree(WORK, ignore_errors=True)
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp)
    os.makedirs(OUT, exist_ok=True)
    cmd = [java_bin()]
    for p in ADD_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    cmd += jvm_args + ["-Xmx" + HEAP, "-Djava.io.tmpdir=" + tmp,
            "-Dderby.system.home=" + os.path.join(WORK, "derby"),
            "-cp", classpath(), "erbench.Main"] + main_args + [
            "--work", WORK, "--out", out_file]
    proc = subprocess.Popen(cmd, cwd=WORK, stdout=sys.stderr, stderr=sys.stderr,
                            stdin=subprocess.DEVNULL, start_new_session=True)
    try:
        code = proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        log("run exceeded %d s; stopping it" % timeout)
        os.killpg(proc.pid, signal.SIGTERM)
        try:
            proc.wait(timeout=10)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        code = None
    finally:
        shutil.rmtree(WORK, ignore_errors=True)
    return code


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True,
                    choices=["er_batch", "er_incremental", "er_incremental_global", "catalog"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--sf-dir", help="TESTDATA table directory (catalog workload)")
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ENGINE_SRC, "graft")):
        log("no engine sources at %s; run from a full checkout" % ENGINE_SRC)
        sys.exit(2)
    build()

    main_args = ["--workload", args.workload, "--seed", str(args.seed),
                 "--seconds", str(args.seconds), "--trace", str(args.trace),
                 "--rows", os.path.join(HERE, "catalog_rows.json")]
    if args.sf_dir:
        main_args += ["--sf-dir", os.path.abspath(args.sf_dir)]
    name = "%s-seed%d-trace%d" % (args.workload, args.seed, args.trace)
    out_file = os.path.join(OUT, name + ".json")
    if os.path.exists(out_file):
        os.remove(out_file)

    shared = ["-XX:SharedArchiveFile=" + ARCHIVE] if os.path.exists(ARCHIVE) else []
    code = run_jvm(shared, main_args, out_file,
                   CATALOG_TIMEOUT_S if args.workload == "catalog" else RUN_TIMEOUT_S)
    if code != 0 or not os.path.exists(out_file):
        log("run failed (exit %s) without a result" % code)
        sys.exit(4)
    with open(out_file) as fh:
        doc = json.load(fh)
    result = doc["result"]
    for f in doc["info"].get("failures", []):
        log("check failed: " + f)
    print(json.dumps(doc["info"], sort_keys=True))
    print(json.dumps(result))
    sys.exit(0 if result["correct"] else 1)


if __name__ == "__main__":
    main()
