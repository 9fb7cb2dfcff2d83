#!/usr/bin/env python3
"""Feature-store benchmark: one workload, one seed, one JVM.

    python3 perfbench/run.py --workload serve --seed 1 --seconds 15 --trace 0

Run from the repository root. The first run builds the engine and the
benchmark with sbt (perfbench/build.sbt, which compiles ../src unchanged)
and caches the classpath; later runs start the JVM directly. Human-readable
figures go to stdout first; the last stdout line is one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end ones, with --trace 1 the
per-layer ones (and the spans go to perfbench/.out/). See README.md.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import threading
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
BUILD = os.path.join(BENCH, ".build")
CLASSPATH = os.path.join(BUILD, "classpath.txt")
DATA = os.path.join(BENCH, ".data")
OUT = os.path.join(BENCH, ".out")
WORKLOADS = ("serve", "ingest")
RUN_LIMIT_S = 175       # one run, build excluded
BUILD_LIMIT_S = 890     # the first run of a checkout also builds
DATA_CACHE_ENTRIES = 6  # generated input sets kept between runs
HEAP = "3g"

# what spark-submit would pass to a JDK 17 driver (as the engine's build.sbt)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def sources():
    """Every file the build reads, for the staleness check."""
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src")):
        for d, _, fs in os.walk(top):
            for f in fs:
                yield os.path.join(d, f)
    for f in ("build.sbt", os.path.join("project", "build.properties")):
        yield os.path.join(ROOT, f)
        yield os.path.join(BENCH, f)


def build():
    """Compile with sbt unless the cached classpath is newer than every source."""
    if os.path.exists(CLASSPATH):
        stamp = os.path.getmtime(CLASSPATH)
        if all(os.path.getmtime(f) <= stamp for f in sources() if os.path.exists(f)):
            return False
    tmp = os.path.join(BUILD, "tmp")  # keeps sbt's scratch files in the checkout
    os.makedirs(tmp, exist_ok=True)
    log_path = os.path.join(BUILD, "sbt.log")
    t0 = time.time()
    with open(log_path, "w") as log:
        p = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true",
             f"-Djava.io.tmpdir={tmp}", "-Dsbt.server.autostart=false",
             "compile", "export Runtime/fullClasspath"],
            cwd=BENCH, stdout=log, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL, timeout=BUILD_LIMIT_S - 60)
    lines = open(log_path).read().splitlines()
    cp = [l for l in lines if ".jar" in l and not l.startswith("[")]
    if p.returncode != 0 or not cp:
        sys.exit(f"build failed (exit {p.returncode}); see {log_path}")
    with open(CLASSPATH, "w") as f:
        f.write(cp[-1].strip())
    print(f"built in {time.time() - t0:.1f} s")
    return True


def prune_data_cache():
    if not os.path.isdir(DATA):
        return
    entries = sorted((os.path.join(DATA, e) for e in os.listdir(DATA)),
                     key=os.path.getmtime, reverse=True)
    for e in entries[DATA_CACHE_ENTRIES:]:
        shutil.rmtree(e, ignore_errors=True)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    engine = os.path.join(ROOT, "src", "main", "scala", "graft")
    if not (os.path.isdir(engine) and os.path.exists(os.path.join(ROOT, "build.sbt"))):
        sys.exit(f"no engine sources next to {BENCH}: run from a full checkout")

    start = time.time()
    limit = BUILD_LIMIT_S if build() else RUN_LIMIT_S
    work = os.path.join(BENCH, ".work", f"run-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.makedirs(OUT, exist_ok=True)
    result = os.path.join(work, "result.json")
    env = {k: v for k, v in os.environ.items() if k != "SPARK_GRAFT_SPARK_CONF"}
    env["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    jvm = (["java"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + [f"-Djava.io.tmpdir={work}/tmp",
              f"-Dderby.stream.error.file={work}/derby.log",
              f"-Dspark.hadoop.hadoop.tmp.dir={work}/hadoop",
              "-Dspark.ui.enabled=false",
              "-cp", open(CLASSPATH).read().strip()])
    args = ["--workload", a.workload, "--seed", str(a.seed), "--data", DATA]
    proc = None
    try:
        # inputs come from their own JVM, so the benchmark JVM starts equally
        # cold whether or not they were cached
        t0 = time.time()
        with open(os.path.join(work, "gen.log"), "w") as log:
            gen = subprocess.run(jvm + ["perfbench.Gen"] + args, cwd=work, env=env,
                                 stdout=log, stderr=subprocess.STDOUT,
                                 stdin=subprocess.DEVNULL,
                                 timeout=max(1.0, limit - (time.time() - start)))
        if gen.returncode != 0:
            sys.stderr.write(open(os.path.join(work, "gen.log")).read()[-3000:])
            sys.exit(f"input generation failed (exit {gen.returncode})")
        print(f"info gen_s {time.time() - t0:.4f} s (input generation, not in setup_s)")
        cmd = (jvm[:1] + [f"-Xms{HEAP}", f"-Xmx{HEAP}"] + jvm[1:]
               + ["perfbench.Main"] + args
               + ["--seconds", str(a.seconds), "--trace", str(a.trace),
                  "--work", work, "--out", result])
        proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=subprocess.PIPE,
                                stderr=open(os.path.join(work, "jvm.log"), "w"),
                                stdin=subprocess.DEVNULL, text=True,
                                start_new_session=True)
        # past the time limit the whole JVM process group is killed
        remaining = max(1.0, limit - (time.time() - start))
        watchdog = threading.Timer(remaining, os.killpg,
                                   (proc.pid, signal.SIGKILL))
        watchdog.start()
        try:
            for line in proc.stdout:
                print(line.rstrip("\n"), flush=True)
            proc.wait()
        finally:
            watchdog.cancel()
        if proc.returncode != 0 or not os.path.exists(result):
            tail = open(os.path.join(work, "jvm.log")).read()[-3000:]
            sys.stderr.write(tail)
            sys.exit(f"benchmark JVM exited with {proc.returncode}, no result")
        res = json.load(open(result))
        if a.trace:
            spans = os.path.join(OUT, f"spans-{a.workload}-{a.seed}.jsonl")
            shutil.copy(os.path.join(work, "spans.jsonl"), spans)
            print(f"spans written to {os.path.relpath(spans, ROOT)}")
        print(json.dumps(res), flush=True)
        sys.exit(0 if res["correct"] else 1)
    finally:
        if proc is not None and proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        prune_data_cache()


if __name__ == "__main__":
    main()
