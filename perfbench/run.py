#!/usr/bin/env python3
"""Repository benchmark for the Spark engine.

    python3 perfbench/run.py --workload daily_merge|query_mix \
        --seed N --seconds S --trace 0|1

Run from the repository root. Builds the engine and the harness in
perfbench/harness with sbt (offline), keeping a copy of the compiled classes
per source hash under .perfbench_build/; runs one harness JVM, checks the
outputs, and prints one JSON object as the last line of stdout:
    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
--trace 0 reports the end-to-end metrics, --trace 1 the per-layer ones.
See perfbench/notes.json for workload sizes and what each metric counts.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
HARNESS = os.path.join(HERE, "harness")
BUILD = os.path.join(ROOT, ".perfbench_build")
ORACLE_CACHE = os.path.join(BUILD, "oracle")
sys.path.insert(0, HERE)
import layers  # noqa: E402
import oracle  # noqa: E402

WORKLOADS = ("daily_merge", "query_mix")
# A run must end within 180 s of starting, the build aside. The harness JVM
# gets all of it but a reserve for the checks that follow, which take a few
# seconds.
HARNESS_LIMIT_S = 180 - 15

JAVA_OPTS = [
    "--add-opens=java.base/" + p + "=ALL-UNNAMED" for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
        "java.net", "java.nio", "java.util", "java.util.concurrent",
        "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
        "sun.security.action", "sun.util.calendar")
] + ["-Xmx3g", "-Duser.timezone=UTC", "-XX:-UsePerfData"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_key():
    """Hash of everything the build reads from the checkout."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HARNESS, "build.sbt"),
             os.path.join(HARNESS, "project", "build.properties"),
             os.path.join(HARNESS, "src", "main")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()[:16]


def build():
    """Compiles engine + harness; returns the classpath. The compiled classes
    are copied into .perfbench_build/<source hash>/, so each source state
    keeps its own classes while sbt's target directories move on."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main"))):
        fail("run from the repository root: build.sbt and src/main are missing")
    key = source_key()
    out = os.path.join(BUILD, key)
    cp_file = os.path.join(out, "classpath.txt")
    if os.path.isfile(cp_file):
        with open(cp_file) as f:
            return f.read().strip()
    os.makedirs(os.path.join(BUILD, "tmp"), exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=" ".join([
        "-Dsbt.override.build.repos=true",
        "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories"),
        "-Dsbt.offline=true", "-Xmx2g", "-XX:-UsePerfData",
        "-Djava.io.tmpdir=" + os.path.join(BUILD, "tmp")]))
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as out_f:
        rc = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "harness/compile",
             "export harness/Runtime/fullClasspath"],
            cwd=HARNESS, env=env, stdout=out_f, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL, timeout=840).returncode
    with open(log) as f:
        lines = [l.strip() for l in f if l.strip()]
    if rc != 0 or not lines or "perfbench" not in lines[-1]:
        sys.stderr.write("".join(l + "\n" for l in lines[-30:]))
        fail(f"build failed (exit {rc}); see {log}")
    # Class directories inside the checkout are copied; jars outside it
    # (Spark, the Scala library) do not change between builds.
    shutil.rmtree(out, ignore_errors=True)
    cp = []
    for i, entry in enumerate(lines[-1].split(os.pathsep)):
        if os.path.isdir(entry) and os.path.realpath(entry).startswith(os.path.realpath(ROOT) + os.sep):
            copy = os.path.join(out, f"classes-{i}")
            shutil.copytree(entry, copy)
            entry = copy
        cp.append(entry)
    with open(cp_file, "w") as f:
        f.write(os.pathsep.join(cp))
    return os.pathsep.join(cp)


def manifest_metrics(traced):
    """Metric names BENCHMARK.json lists for the run's kind, with units."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        m = json.load(f)
    return {x["name"]: x["unit"] for x in m["per_layer" if traced else "end_to_end"]}


def run_harness(cp, a, work, limit_s):
    """Runs one harness JVM, killed after limit_s seconds; returns ((launch
    epoch seconds, /proc/stat cpu ticks at launch), events)."""
    cmd = ["java", *JAVA_OPTS, f"-Djava.io.tmpdir={work}/tmp", "-cp", cp,
           "perfbench.Harness", "--workload", a.workload, "--seed", str(a.seed),
           "--seconds", str(a.seconds), "--trace", str(a.trace), "--work", work,
           "--cpus", str(len(os.sched_getaffinity(0)))]
    os.makedirs(os.path.join(work, "tmp"))
    log = os.path.join(work, "jvm.log")
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:9]]
    launch = (time.time(), ticks)
    # Spark would put its scratch space in SPARK_LOCAL_DIRS over the work
    # directory's spark-local.
    env = {k: v for k, v in os.environ.items() if k != "SPARK_LOCAL_DIRS"}
    with open(log, "w") as out:
        try:
            rc = subprocess.run(cmd, cwd=work, env=env, stdout=out, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, timeout=limit_s).returncode
        except subprocess.TimeoutExpired:
            rc = None
    events = []
    path = os.path.join(work, "events.jsonl")
    if os.path.isfile(path):
        with open(path) as f:
            events = [json.loads(l) for l in f if l.strip()]
    if rc != 0 or not any(e["ev"] == "end" for e in events):
        with open(log) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        fail(f"harness killed after {limit_s} s" if rc is None else f"harness exited {rc}")
    return launch, events


def main():
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = p.parse_args()

    cp = build()
    work = os.path.join(ROOT, ".perfbench_work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        launch, events = run_harness(cp, a, work, HARNESS_LIMIT_S)
        checks = [e for e in events if e["ev"] == "check"]
        mix = next(e for e in events if e["ev"] == "queries")
        queries = mix["queries"]
        if a.workload == "query_mix":
            checks += oracle.check_results(mix["fixture"], os.path.join(work, "results"),
                                           ORACLE_CACHE)
        result, note = layers.summarize(a.workload, a.trace == 1, launch, events, checks, queries)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if result["correct"]:
        expected = manifest_metrics(a.trace == 1)
        got = {k: v["unit"] for k, v in result["metrics"].items()}
        if got != expected:
            fail("metrics differ from BENCHMARK.json: " + ", ".join(sorted(
                f"{k} {got.get(k)} for {expected.get(k)}" for k in set(got) | set(expected)
                if got.get(k) != expected.get(k))))
    for c in checks:
        if not c["ok"]:
            print(f"check failed: {c['name']}: {c.get('detail', '')}", file=sys.stderr)
    print(note)
    print(json.dumps(result))
    sys.exit(0 if result["correct"] else 1)


if __name__ == "__main__":
    main()
