#!/usr/bin/env python3
"""Benchmark runner for the graft engine.

    python3 perfbench/run.py --workload <etl|curation|ingest_serve> --seed <n>
                             --seconds <s> --trace <0|1>

Run from the root of a checkout. The runner
  1. compiles `src/main/scala` and `perfbench/scala` with the Scala compiler
     that ships in Spark's jar directory (`$SPARK_HOME/jars`, else the one
     beside `spark-submit`) into `.bench_build/` (once per source state);
  2. for `ingest_serve`, generates the seeded corpus (`perfbench/gen.py`);
  3. runs one JVM at `local[N]`, N = the number of CPUs, one closed-loop
     caller, with its fixture root, Spark local dirs and temp dir inside a
     per-run directory under `.bench_build/`, and removes that directory
     afterwards;
  4. prints the run's report and, as the last line, one JSON object with
     `correct`, `attempted`, `failed` and `metrics`.

It exits non-zero when any output check fails, and without a result when
the checkout holds no engine sources to build.
"""

import argparse
import fcntl
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
JAVA_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]
RUN_TIMEOUT_S = 170
WORKLOADS = ("etl", "curation", "ingest_serve")


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def spark_jars():
    """Spark's jar directory: $SPARK_HOME/jars, else beside spark-submit."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    jars = os.path.join(home or "", "jars")
    if not home or not os.path.isdir(jars):
        die("no Spark installation found: set SPARK_HOME")
    return jars


def sources():
    engine = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(engine):
        die(f"no engine sources under {engine}: run from the root of a graft checkout")
    out = []
    for base in (engine, os.path.join(HERE, "scala")):
        for d, _, files in os.walk(base):
            out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def build(jars):
    """Compile engine and benchmark sources once per source state."""
    srcs = sources()
    h = hashlib.sha256()
    for p in srcs:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    classes = os.path.join(BUILD, "classes-" + h.hexdigest()[:16])
    os.makedirs(BUILD, exist_ok=True)
    with open(os.path.join(BUILD, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if os.path.exists(os.path.join(classes, "_DONE")):
            return classes
        tmp = classes + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        cp = os.path.join(jars, "*")
        cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main", "-nowarn",
               "-d", tmp, "-classpath", cp] + srcs
        t0 = time.time()
        r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
        if r.returncode != 0:
            sys.stderr.write(r.stdout[-20000:])
            die("compilation failed", 3)
        print(f"perfbench: compiled {len(srcs)} sources in {time.time() - t0:.1f} s",
              file=sys.stderr)
        open(os.path.join(tmp, "_DONE"), "w").close()
        shutil.rmtree(classes, ignore_errors=True)
        os.rename(tmp, classes)
        return classes


def run_jvm(args, classes, jars, work, extra):
    out = os.path.join(work, "result.txt")
    cmd = ["java"] + [f"--add-opens={p}=ALL-UNNAMED" for p in JAVA_OPENS] + [
        "-Xmx3g", "-Xss8m", "-XX:+UseG1GC",
        f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        "-cp", os.pathsep.join([classes, os.path.join(jars, "*")]),
        "graftbench.Main",
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--cores", str(os.cpu_count() or 1),
        "--data", os.path.join(HERE, "data", "sf0.01"),
        "--work", work, "--registry", os.path.join(HERE, "registry.tsv"),
        "--out", out] + extra
    env = dict(os.environ,
               SPARK_GRAFT_FIXTURE_ROOT=os.path.join(work, "fixtures"),
               SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    os.makedirs(os.path.join(work, "tmp"))
    with open(os.path.join(work, "jvm.log"), "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, env=env,
                             start_new_session=True)
        try:
            p.wait(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            die(f"the run exceeded {RUN_TIMEOUT_S} s", 4)
        except BaseException:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            raise
    if not os.path.exists(out):
        with open(os.path.join(work, "jvm.log")) as f:
            sys.stderr.write(f.read()[-5000:])
        die(f"the JVM exited with {p.returncode} and no result", 5)
    with open(out) as f:
        return f.read().splitlines()


def main():
    # a terminated runner still stops its JVM (run_jvm kills its group)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    jars = spark_jars()
    classes = build(jars)
    work = os.path.join(BUILD, "runs", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        extra = []
        if args.workload == "ingest_serve":
            sys.path.insert(0, HERE)
            import gen  # noqa: E402
            corpus = os.path.join(work, "corpus")
            gen.make_corpus(args.seed, corpus)
            extra += ["--corpus", corpus]
        lines = run_jvm(args, classes, jars, work, extra)
        result = json.loads(lines[-1])
        lines = lines[:-1]
        spans = os.path.join(work, "spans.jsonl")
        if args.trace and os.path.exists(spans):
            traces = os.path.join(BUILD, "traces")
            os.makedirs(traces, exist_ok=True)
            shutil.copy(spans, os.path.join(traces, f"{args.workload}-{args.seed}.jsonl"))
        if not result["correct"]:
            # the JVM's log goes with the run directory: keep its tail
            with open(os.path.join(work, "jvm.log")) as f:
                sys.stderr.write(f.read()[-5000:])
    finally:
        shutil.rmtree(work, ignore_errors=True)
    for line in lines:
        print(line)
    print(json.dumps(result, separators=(",", ":")))
    sys.exit(0 if result["correct"] else 1)


if __name__ == "__main__":
    main()
