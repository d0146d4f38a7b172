#!/usr/bin/env python3
"""Runs one benchmark workload and prints its metrics as one JSON line.

    python3 perfbench/run.py --workload <analytics|ingest> \
        --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the program and the
harness with sbt (offline) and generates the fixtures under `.bench_build/`;
later runs reuse both while the sources are unchanged. See README.md here.
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
sys.path.insert(0, HERE)

import datagen  # noqa: E402
import metrics  # noqa: E402

WORKLOADS = ("analytics", "ingest")
BUILD_DIR = ".bench_build"
HEAP = "4g"
RUN_LIMIT_S = 160
JDK17_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
               "java.net", "java.nio", "java.util", "java.util.concurrent",
               "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
               "sun.security.action", "sun.util.calendar"]
SBT_REPOSITORIES = os.path.expanduser("~/.sbt/repositories")


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def tree_digest(root, parts):
    h = hashlib.sha256()
    for part in parts:
        base = os.path.join(root, part)
        paths = [base] if os.path.isfile(base) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(base) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build(root, deadline):
    """Compiles the program and the harness unless the sources are unchanged
    since the last build; returns the runtime classpath."""
    sources = ["build.sbt", "project/build.properties", "src/main",
               "perfbench/build.sbt", "perfbench/project/build.properties",
               "perfbench/src/main"]
    stamp_path = os.path.join(root, BUILD_DIR, "build.stamp")
    cp_path = os.path.join(root, BUILD_DIR, "classpath.txt")
    stamp = tree_digest(root, sources)
    if os.path.exists(cp_path) and os.path.exists(stamp_path) \
            and open(stamp_path).read() == stamp:
        classpath = open(cp_path).read().split("\n")
        if all(os.path.exists(p) for p in classpath):
            return classpath
    # offline: dependencies resolve only from the local caches
    opts = "-Dsbt.offline=true -Xmx2g"
    if os.path.exists(SBT_REPOSITORIES):
        opts = (f"-Dsbt.override.build.repos=true -Dsbt.repository.config={SBT_REPOSITORIES} "
                + opts)
    env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=os.environ.get("SBT_OPTS", opts))
    log = os.path.join(root, BUILD_DIR, "build.log")
    with open(log, "w") as out:
        rc = run_bounded(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeClasspath"],
                         os.path.join(root, "perfbench"), env, out, deadline - time.time())
    if rc != 0:
        die(f"build failed (exit {rc}); see {log}")
    with open(stamp_path, "w") as f:
        f.write(stamp)
    return open(cp_path).read().split("\n")


def run_bounded(cmd, cwd, env, out, timeout):
    """Runs `cmd` in its own process group; kills the group and waits for it
    when `timeout` passes."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=out, stderr=subprocess.STDOUT,
                         start_new_session=True)
    try:
        return p.wait(timeout=max(1.0, timeout))
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return -9


def fixtures(root):
    """The fixture tables, generated once per version of the generator."""
    data = os.path.join(root, BUILD_DIR, "data", "sf0.1")
    stamp_path = os.path.join(data, "stamp")
    stamp = tree_digest(root, ["perfbench/datagen.py"])
    if not (os.path.exists(stamp_path) and open(stamp_path).read() == stamp):
        shutil.rmtree(data, ignore_errors=True)
        datagen.fixtures(data)
        with open(stamp_path, "w") as f:
            f.write(stamp)
    return data


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    start = time.time()

    root = os.getcwd()
    for need in ("build.sbt", "src/main/scala/graft/SparkEntry.scala", "perfbench/build.sbt",
                 "tools/oracle_check.py"):
        if not os.path.exists(os.path.join(root, need)):
            die(f"{need} not found: run from the root of a checkout of the program")
    import gate  # the program's oracle check, found in the checkout
    os.makedirs(os.path.join(root, BUILD_DIR), exist_ok=True)
    classpath = build(root, start + 900)
    data = fixtures(root)
    # the set-up and timing limits below hold from here: the build and the
    # fixtures are made once per checkout
    start = time.time()

    work = os.path.join(root, BUILD_DIR, "runs", f"{args.workload}-trace{args.trace}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    feed = None
    if args.workload == "ingest":
        feed = os.path.join(work, "feed")
        batches, cutoffs = datagen.ingest_feed(os.path.join(data, "events.parquet"), args.seed)
        datagen.write_feed(batches, cutoffs, feed)

    cores = len(os.sched_getaffinity(0))
    tmp = os.path.join(work, "tmp")
    cmd = (["java"] + [x for p in JDK17_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
           + [f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
              f"-Dderby.system.home={tmp}", "-Dspark.ui.enabled=false",
              "-cp", ":".join(classpath), "graftbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--data", data, "--out", work, "--cores", str(cores)]
           + (["--feed", feed] if feed else []))
    with open(os.path.join(work, "jvm.log"), "w") as out:
        rc = run_bounded(cmd, work, os.environ, out, RUN_LIMIT_S - (time.time() - start))
    if rc != 0:
        die(f"the benchmark JVM exited with {rc}; see {work}/jvm.log")

    report = json.load(open(os.path.join(work, "report.json")))
    if args.workload == "ingest":
        mismatches = gate.check_ingest(report, batches, cutoffs, os.path.join(work, "gate"))
    else:
        mismatches = gate.check_queries(report, data, os.path.join(work, "gate"))
    for m in mismatches:
        print(f"perfbench: gate: {m[0]}: {m[1]}", file=sys.stderr)
    spans = []
    if args.trace:
        with open(os.path.join(work, "spans.jsonl")) as f:
            spans = [json.loads(line) for line in f]
    result = metrics.summarize(report, mismatches, spans)
    with open(os.path.join(root, BUILD_DIR, "results.jsonl"), "a") as f:
        f.write(json.dumps({"workload": args.workload, "seed": args.seed,
                            "trace": args.trace, "host": report["host"], **result}) + "\n")
    names = metrics.PER_LAYER if args.trace else metrics.END_TO_END
    print(json.dumps({"correct": result["correct"], "attempted": result["attempted"],
                      "failed": result["failed"],
                      "metrics": {n: result["metrics"][n] for n in names}}))


if __name__ == "__main__":
    main()
