#!/usr/bin/env python3
"""Benchmark for the query library and the Supplier -> workers -> Finalizer
pipeline.  Run it from the repository root.

One run of one workload (the form BENCHMARK.json describes):

    python3 perfbench/run.py --workload queries_light --seed 1 --seconds 8 --trace 0

prints a report and, as its last line, one JSON object with `correct`,
`attempted`, `failed` and `metrics` (end-to-end metrics with --trace 0,
per-layer metrics with --trace 1).

Everything at once -- every workload untraced and traced, every end-to-end
metric by name and unit, the tracing overhead of each, and the layer
accounting of each query:

    python3 perfbench/run.py --all

The first run builds the library and the benchmark with Spark's bundled
Scala compiler into .bench_build/. The input tables are committed under
perfbench/data/ and checked against their committed checksums.
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import metrics  # noqa: E402

ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(BUILD, "classes")
DATA = os.path.join(HERE, "data", "sf0.01")
DATA_SUMS = DATA + ".sha256"
CORES = 4
HEAP = "3g"
RUN_LIMIT_S = 175
WORKLOADS = ("queries_light", "queries_heavy", "pipeline_facade", "stream_dedup")
# Spark 4 on JDK 17 outside spark-submit needs these (as in build.sbt).
ADD_OPENS = [f"java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def log(msg):
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(msg)
    sys.exit(code)


def child_env():
    """The JVM's environment: no inherited Spark scratch or tuning knobs."""
    env = {k: v for k, v in os.environ.items()
           if not k.startswith("SPARK_GRAFT_") and k not in ("SPARK_LOCAL_DIRS", "_JAVA_OPTIONS",
                                                             "JAVA_TOOL_OPTIONS")}
    env["SPARK_GRAFT_CPUS"] = str(CORES)
    env["SPARK_GRAFT_LOCAL_DIR"] = os.path.join(BUILD, "spark-local")
    return env


def java(main, args, tmp):
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java"]
    for o in ADD_OPENS:
        cmd += ["--add-opens", o]
    # heap pinned and pre-touched with the throughput collector, as build.sbt does
    cmd += [f"-Xmx{HEAP}", f"-Xms{HEAP}", "-XX:+AlwaysPreTouch", "-XX:+UseParallelGC",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Djava.io.tmpdir={tmp}",
            "-cp", f"{CLASSES}{os.pathsep}{spark_jars()}/*", main] + args
    return cmd


def source_stamp():
    h = hashlib.sha256()
    files = [os.path.join(HERE, "build.sh")]
    for top in ("src/main/scala", "perfbench/src"):
        for d, _, names in os.walk(os.path.join(ROOT, top)):
            files += [os.path.join(d, n) for n in names if n.endswith(".scala")]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def spark_jars():
    """Spark's jar directory: $SPARK_HOME/jars, else the one build.sbt
    compiles the library against (its `unmanagedBase`)."""
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    with open(os.path.join(ROOT, "build.sbt")) as fh:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
    return m.group(1) if m else ""


def ensure_built():
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("run from the repository root: src/main/scala/graft is missing")
    if not os.path.isdir(spark_jars()):
        fail("Spark jars not found: set SPARK_HOME")
    stamp_file = CLASSES + ".stamp"
    stamp = source_stamp()
    built = open(stamp_file).read() if os.path.exists(stamp_file) else None
    if built != stamp:
        log("building library and benchmark")
        r = subprocess.run(["bash", os.path.join(HERE, "build.sh"), CLASSES, spark_jars()], cwd=ROOT,
                           stdout=sys.stderr, timeout=800)
        if r.returncode != 0:
            fail("build failed")
        with open(stamp_file, "w") as fh:
            fh.write(stamp)
    check_tables()


def check_tables():
    """The input tables must be exactly the committed ones, so that every
    commit is timed on the same bytes."""
    with open(DATA_SUMS) as fh:
        want = dict(reversed(line.split()) for line in fh if line.strip())
    have = sorted(n for n in os.listdir(DATA) if not n.startswith("."))
    if have != sorted(want):
        fail(f"input tables differ from {DATA_SUMS}: {have}")
    for name, digest in want.items():
        with open(os.path.join(DATA, name), "rb") as fh:
            if hashlib.sha256(fh.read()).hexdigest() != digest:
                fail(f"input table {name} does not match its committed checksum")


def run_jvm(workload, seed, seconds, trace):
    """One workload run in one JVM; returns its raw measurements."""
    tag = f"{workload}-s{seed}-t{trace}"
    scratch = os.path.join(BUILD, "scratch", tag)
    shutil.rmtree(scratch, ignore_errors=True)
    os.makedirs(scratch)
    os.makedirs(os.path.join(BUILD, "runs"), exist_ok=True)
    out = os.path.join(BUILD, "runs", tag + ".raw.json")
    if os.path.exists(out):
        os.remove(out)
    args = ["--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
            "--trace", str(trace), "--data", DATA, "--scratch", scratch, "--out", out,
            "--cores", str(CORES)]
    launched = time.time()
    proc = subprocess.Popen(java("perfbench.Main", args, os.path.join(scratch, "tmp")),
                            cwd=scratch, env=child_env(),
                            stdout=sys.stderr, stderr=open(os.path.join(scratch, "jvm.log"), "w"))
    try:
        code = proc.wait(timeout=RUN_LIMIT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        fail(f"{tag}: no result within {RUN_LIMIT_S} s", 3)
    if code != 0 or not os.path.exists(out):
        with open(os.path.join(scratch, "jvm.log")) as fh:
            sys.stderr.write(fh.read()[-4000:])
        fail(f"{tag}: JVM exited with code {code}", 3)
    with open(out) as fh:
        raw = json.load(fh)
    os.remove(out)  # tens of MB on the ingest workloads
    raw["launched_epoch_ms"] = launched * 1000.0
    raw.update(workload=workload, seed=seed, seconds=seconds, trace=trace, cores=CORES)
    shutil.rmtree(scratch, ignore_errors=True)
    return raw


def digests_path():
    return os.path.join(HERE, "digests.json")


def load_digests():
    if not os.path.exists(digests_path()):
        return {}
    with open(digests_path()) as fh:
        return json.load(fh)


def one(args):
    raw = run_jvm(args.workload, args.seed, args.seconds, args.trace)
    result = metrics.evaluate(raw, load_digests())
    report_dir = os.path.join(BUILD, "reports")
    os.makedirs(report_dir, exist_ok=True)
    tag = f"{args.workload}-s{args.seed}-t{args.trace}"
    with open(os.path.join(report_dir, tag + ".json"), "w") as fh:
        json.dump(result["report"], fh, indent=1, sort_keys=True)
    if args.trace:
        with open(os.path.join(report_dir, tag + ".spans.json"), "w") as fh:
            json.dump(result["spans"], fh)
    for line in metrics.report_lines(result):
        print(line)
    chosen = result["e2e"] if args.trace == 0 else result["layers"]
    print(json.dumps({
        "correct": result["failed"] == 0,
        "attempted": result["attempted"],
        "failed": result["failed"],
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in chosen.items()},
    }))


def all_workloads(args):
    """Every workload untraced then traced: end-to-end metrics, tracing
    overhead (traced minus untraced) and per-query layer accounting."""
    digests = load_digests()
    failed = attempted = 0
    summary = {}
    for w in WORKLOADS:
        plain = metrics.evaluate(run_jvm(w, args.seed, args.seconds, 0), digests)
        traced = metrics.evaluate(run_jvm(w, args.seed, args.seconds, 1), digests)
        failed += plain["failed"] + traced["failed"]
        attempted += plain["attempted"] + traced["attempted"]
        print(f"== {w} (seed {args.seed}, {args.seconds} s)")
        for line in metrics.report_lines(plain):
            print(line)
        print("  tracing overhead (traced - untraced):")
        over = {}
        for name, (v, unit) in plain["report"]["end_to_end"].items():
            tv = traced["report"]["end_to_end"].get(name, (None,))[0]
            if v is not None and tv is not None:
                over[name] = tv - v
                print(f"    {name:<24} {tv - v:+.4f} {unit}")
        acc = traced["report"].get("accounting", {})
        if acc:
            print("  layer accounting, share of each query's wall time (traced run):")
            for q, share in sorted(acc.items()):
                print(f"    {q:<24} {share:.3f}")
        print("  per-layer (traced run):")
        for name, (v, unit) in traced["layers"].items():
            print(f"    {name:<34} {v:.6g} {unit}")
        summary[w] = {"untraced": plain["report"], "traced": traced["report"],
                      "tracing_overhead": over}
    os.makedirs(BUILD, exist_ok=True)
    with open(os.path.join(BUILD, "summary.json"), "w") as fh:
        json.dump(summary, fh, indent=1, sort_keys=True)
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": {}}))


def record_digests(args):
    """Writes perfbench/digests.json from one check pass per query mix."""
    found = {}
    for w in ("queries_light", "queries_heavy"):
        raw = run_jvm(w, args.seed, 0, 0)
        bad = {k: v for k, v in raw["digests"].items() if v.startswith("error")}
        if bad:
            fail(f"queries failed, digests not written: {bad}")
        found.update(raw["digests"])
    with open(digests_path(), "w") as fh:
        json.dump(found, fh, indent=1, sort_keys=True)
        fh.write("\n")
    log(f"wrote {len(found)} digests")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=8)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--all", action="store_true", help="run every workload, untraced and traced")
    ap.add_argument("--record-digests", action="store_true",
                    help="rewrite perfbench/digests.json from this build's results")
    args = ap.parse_args()
    ensure_built()
    if args.record_digests:
        record_digests(args)
    elif args.all:
        all_workloads(args)
    elif args.workload:
        one(args)
    else:
        ap.error("give --workload, --all or --record-digests")


if __name__ == "__main__":
    main()
