#!/usr/bin/env python3
"""Run one graftbench workload: build graft and the benchmark from this
checkout's sources (cached by content digest), then run the workload in a
fresh JVM and pass its report through. The last line of standard output
is the JSON result.

    python3 graftbench/run.py --workload lake_query --seed 1 --seconds 10 --trace 0

Steadiness self-check (runs the workload once per seed, one at a time,
and prints each metric's quartiles and spread):

    python3 graftbench/run.py --workload lake_query --steadiness 10

The benchmark's own tests (under the same build lock, so they never share
graftbench/target with a concurrent build):

    python3 graftbench/run.py --test
"""
import argparse
import fcntl
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
PROGRAM = os.path.join(REPO, "src", "main")
TARGET = os.path.join(HERE, "target")
SPEC = os.path.join(REPO, "BENCHMARK.json")
ARCHIVE = os.path.join(TARGET, "classes.jsa")
WORKLOADS = ["lake_ingest", "lake_query", "s3_follower_query", "dedup_corpus"]
# generous: the build is the first thing a fresh checkout runs
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170
JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"graftbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        fail("no Spark install found: set SPARK_HOME")
    return home


def source_digest():
    """Digest of every input of the build: the program's and the
    benchmark's sources and build files."""
    h = hashlib.sha256()
    roots = [PROGRAM, os.path.join(HERE, "src", "main"), os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for root in roots:
        paths = [root] if os.path.isfile(root) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(root) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, REPO).encode())
            with open(p, "rb") as f:
                h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def sbt(tasks, env):
    cmd = ["sbt", "-batch", "-Dsbt.log.noformat=true"] + tasks
    proc = subprocess.run(cmd, cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr,
                          timeout=BUILD_TIMEOUT_S)
    if proc.returncode != 0:
        fail(f"sbt {' '.join(tasks)} failed (exit {proc.returncode})")


def locked(body):
    """Run `body` holding the build lock: sbt invocations on
    graftbench/target never overlap."""
    os.makedirs(TARGET, exist_ok=True)
    with open(os.path.join(TARGET, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        return body()


def build(env):
    """Compile with sbt into graftbench/target (never the root build's
    target/), under the build lock. Returns the runtime classpath."""
    digest = source_digest()
    stamp = os.path.join(TARGET, "build.digest")
    cp_file = os.path.join(TARGET, "classpath.txt")

    def body():
        fresh = os.path.exists(cp_file) and os.path.exists(stamp) and \
            open(stamp).read() == digest
        if not fresh:
            sbt(["compile", "exportClasspath"], env)
            archive_classes(open(cp_file).read().strip(), env)
            with open(stamp, "w") as f:
                f.write(digest)
        return open(cp_file).read().strip()
    return locked(body)


def archive_classes(classpath, env):
    """Dump the classes a short training run loads into a class-data-
    sharing archive that every run maps at start-up instead of loading
    and verifying each class. It takes 7-10 s off a run's first set-up,
    which is what lets a full measurement (4 + 22 runs per workload, two
    builds) fit its time budget.
    The archive is part of the build: if the training run fails, the
    build fails, so no run ever starts without it."""
    if os.path.exists(ARCHIVE):
        os.remove(ARCHIVE)
    code, _ = run_jvm(classpath, ["--workload", "s3_follower_query", "--seed", "0",
                                  "--seconds", "1"], env,
                      f"-XX:ArchiveClassesAtExit={ARCHIVE}", sys.stderr)
    if code != 0 or not os.path.exists(ARCHIVE):
        fail(f"class-data-sharing training run failed (exit {code})")


def run_jvm(classpath, args, env, archive=f"-XX:SharedArchiveFile={ARCHIVE}", sink=sys.stdout):
    """Run graftbench.Main with `archive` (the class-data-sharing option;
    -Xshare:on makes a run that cannot map the archive fail instead of
    starting without it). Its standard output goes to `sink`. Returns
    (exit code, output lines)."""
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    work = os.path.join(TARGET, f"work-{os.getpid()}")
    # a fixed heap, touched at start, so peak RSS moves only with memory
    # outside it, not with when the collector got round to using more
    cmd = [java, "-Xms2g", "-Xmx2g", "-XX:+AlwaysPreTouch", "-XX:+UseG1GC",
           "-Dspark.ui.enabled=false", "-Xshare:on", archive]
    for p in JVM_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "graftbench.Main"] + args + ["--work-dir", work, "--spec", SPEC]
    proc = subprocess.Popen(cmd, env=env, stdout=subprocess.PIPE, text=True,
                            start_new_session=True)

    def kill():
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    timer = threading.Timer(RUN_TIMEOUT_S, kill)
    timer.start()
    out = []
    try:
        for line in proc.stdout:
            out.append(line)
            sink.write(line)
            sink.flush()
        proc.wait()
    except BaseException:
        kill()
        proc.wait()
        raise
    finally:
        timer.cancel()
        shutil.rmtree(work, ignore_errors=True)
    return proc.returncode, out


def steadiness(args, classpath, env):
    """Run the workload once per seed, serially; print each metric's
    median, quartiles and spread (Q3 - Q1) / median."""
    values = {}
    for seed in range(1, args.steadiness + 1):
        code, out = run_jvm(classpath, ["--workload", args.workload, "--seed", str(seed),
                                        "--seconds", str(args.seconds),
                                        "--trace", str(args.trace)], env)
        if code != 0:
            fail(f"seed {seed} failed (exit {code})")
        for name, m in json.loads(out[-1])["metrics"].items():
            values.setdefault(name, []).append(m["value"])
    print(f"# steadiness of {args.workload} over {args.steadiness} seeds")
    for name, vs in values.items():
        q1, med, q3 = statistics.quantiles(vs, n=4)
        spread = (q3 - q1) / med if med else float("nan")
        print(f"{name:40s} median {med:12.4f}  q1 {q1:12.4f}  q3 {q3:12.4f}  spread {spread:.4f}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=None,
                    help="seconds of measured operations (default: BENCHMARK.json's run_seconds)")
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--steadiness", type=int, default=0,
                    help="run this many seeds and report each metric's spread")
    ap.add_argument("--test", action="store_true", help="run the benchmark's own tests")
    args = ap.parse_args()
    if not os.path.isdir(os.path.join(PROGRAM, "scala", "graft")):
        fail(f"graft's sources are not in this checkout ({os.path.relpath(PROGRAM)})")
    if args.seconds is None:
        with open(SPEC) as f:
            args.seconds = json.load(f)["run_seconds"]
    env = dict(os.environ, SPARK_HOME=spark_home())
    if args.test:
        locked(lambda: sbt(["test"], env))
        return 0
    if not args.workload:
        ap.error("--workload is required")
    classpath = build(env)
    if args.steadiness:
        steadiness(args, classpath, env)
        return 0
    code, _ = run_jvm(classpath, ["--workload", args.workload, "--seed", str(args.seed),
                                  "--seconds", str(args.seconds), "--trace", str(args.trace)],
                      env)
    return code


if __name__ == "__main__":
    sys.exit(main())
