#!/usr/bin/env python3
"""Benchmark of the traildbspark engine.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload queries --seed 1 --seconds 4 --trace 0

Builds the program and the harness from source (once per checkout, into
perfbench/target and .bench_build/), runs one workload in a fresh JVM, checks
every output, and prints one JSON line as the last line of standard output:
{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}. With
--trace 0 the metrics are the end-to-end metrics of BENCHMARK.json, with
--trace 1 the per-layer metrics. Exits non-zero when the program cannot be
built or run, when any execution fails, or when any output is wrong.

Other modes:
    --smoke             run every workload at its smallest size and check the
                        benchmark itself (see smoke.py)
    --record-expected   write perfbench/expected.json from two seeds
    --overhead          run a workload untraced and traced and print the
                        difference of the end-to-end metrics
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
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
PROGRAM_SRC = os.path.join(ROOT, "src", "main")
JAR = os.path.join(HERE, "target", "scala-2.13", "traildbspark-perfbench_2.13-0.jar")
sys.path.insert(0, HERE)

import metrics  # noqa: E402

WORKLOADS = ("queries", "tdb_storage")
# Input sizes: the query workloads' scale factor and the storage corpus.
SF = 0.01
STORAGE_EVENTS = 50000
SMOKE_SF = 0.001
SMOKE_STORAGE_EVENTS = 10000
HEAP = "4g"
JVM_TIMEOUT_S = 170

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(code)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        fail("Spark not found: set SPARK_HOME")
    return os.path.join(home, "jars")


def source_stamp():
    """Hash of every file the build reads, so a changed source rebuilds."""
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for base in (PROGRAM_SRC, os.path.join(HERE, "src")):
        for d, subdirs, names in os.walk(base):
            subdirs.sort()
            files += [os.path.join(d, n) for n in sorted(names)]
    h = hashlib.sha256()
    for p in files:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compiles the program and the harness into one jar, once per source
    state."""
    if not os.path.isfile(os.path.join(PROGRAM_SRC, "scala", "graft", "SparkEntry.scala")):
        fail("program sources not found under src/main: run from a full checkout")
    stamp = source_stamp()
    stamp_file = os.path.join(BUILD, "stamp")
    if os.path.isfile(stamp_file) and open(stamp_file).read() == stamp \
            and os.path.isfile(JAR):
        return
    os.makedirs(BUILD, exist_ok=True)
    if os.path.exists(stamp_file):
        os.remove(stamp_file)
    # Cached inputs come from the harness's generator, which may have changed.
    shutil.rmtree(os.path.join(BUILD, "inputs"), ignore_errors=True)
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    opts = env.get("SBT_OPTS", "")
    if "sbt.offline" not in opts:
        opts += " -Dsbt.offline=true"
    repos = os.path.expanduser(os.path.join("~", ".sbt", "repositories"))
    if "sbt.repository.config" not in opts and os.path.isfile(repos):
        opts += f" -Dsbt.override.build.repos=true -Dsbt.repository.config={repos}"
    env["SBT_OPTS"] = opts.strip()
    env.setdefault("SPARK_HOME", os.path.dirname(spark_jars()))
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as out:
        rc = subprocess.call(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "package"],
            cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL)
    if rc != 0 or not os.path.isfile(JAR):
        sys.stderr.write(open(log).read()[-4000:])
        fail(f"build failed (exit {rc}); log in {log}")
    with open(stamp_file, "w") as f:
        f.write(stamp)


def run_jvm(workload, seed, seconds, trace, small=False, tag=None):
    """Runs one workload in a fresh JVM; returns the run record."""
    tag = tag or workload
    sf = SMOKE_SF if small else SF
    events = SMOKE_STORAGE_EVENTS if small else STORAGE_EVENTS
    work = os.path.join(BUILD, f"work-{tag}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    out = os.path.join(work, "record.json")
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    cmd = [java]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [f"-Xmx{HEAP}", f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            f"-Dderby.system.home={work}", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC",
            "-cp", JAR + os.pathsep + os.path.join(spark_jars(), "*"),
            "graft.perfbench.Main",
            "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
            "--trace", "1" if trace else "0", "--work", work, "--out", out,
            "--inputs", os.path.join(BUILD, "inputs", f"sf{sf}"),
            "--corpus", os.path.join(BUILD, "inputs", f"corpus-{events}-seed{seed}"),
            "--sf", str(sf), "--storage-events", str(events)]
    log = os.path.join(BUILD, f"jvm-{tag}.log")
    with open(log, "w") as lf:
        proc = subprocess.Popen(cmd, cwd=work, stdout=lf, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            rc = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            shutil.rmtree(work, ignore_errors=True)
            fail(f"{workload}: JVM did not finish within {JVM_TIMEOUT_S} s; log in {log}")
    if rc != 0 or not os.path.isfile(out):
        tail = open(log, errors="replace").read()[-3000:]
        shutil.rmtree(work, ignore_errors=True)
        sys.stderr.write(tail)
        fail(f"{workload}: JVM exited with {rc}; log in {log}")
    with open(out) as f:
        record = json.load(f)
    # Failure lines from the harness go to stderr for the caller to see.
    for line in open(log, errors="replace"):
        if line.startswith("[perfbench]"):
            sys.stderr.write(line)
    shutil.rmtree(work, ignore_errors=True)
    return record


def load_expected():
    p = os.path.join(HERE, "expected.json")
    if not os.path.isfile(p):
        return {}
    with open(p) as f:
        return json.load(f)


def bench_spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=4)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true")
    ap.add_argument("--record-expected", action="store_true")
    ap.add_argument("--overhead", action="store_true")
    a = ap.parse_args()

    build()
    if a.smoke:
        import smoke
        sys.exit(smoke.main(run_jvm, bench_spec(), load_expected()))
    if a.record_expected:
        import expected
        sys.exit(expected.record(run_jvm, os.path.join(HERE, "expected.json"),
                                 [(False, SF), (True, SMOKE_SF)]))
    if not a.workload:
        fail("--workload is required")
    if a.overhead:
        runs = [run_jvm(a.workload, a.seed, a.seconds, t, tag=f"{a.workload}-t{t}")
                for t in (0, 1)]
        print(json.dumps(metrics.overhead(runs[0], runs[1], bench_spec())))
        return
    record = run_jvm(a.workload, a.seed, a.seconds, a.trace == 1)
    result = metrics.result(record, load_expected(), bench_spec(), a.trace == 1)
    for line in result.pop("problems"):
        print(f"[perfbench] {line}", file=sys.stderr)
    print(json.dumps(result))
    if not result["correct"] or result["failed"]:
        sys.exit(1)


if __name__ == "__main__":
    main()
