#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. The first run builds the harness (the
repository's main sources plus perfbench/src) with sbt into .bench_build/;
later runs launch the JVM directly. Each run:

1. makes its inputs from the seed (catalog tables are cached per scale in
   .bench_build/data; the sentiment corpus is written into the run
   directory);
2. starts one JVM in a fresh run directory and runs the workload there:
   untimed set-up (for the catalog, including the output dumps), then the
   timed section;
3. checks the outputs (pinned DuckDB fingerprints and row counts for the
   catalog, pipeline invariants for sentiment);
4. prints one JSON line: end-to-end metrics with --trace 0, per-layer
   metrics (derived from the run's spans) with --trace 1.

The full run record, with every failure's exception class and message, is
kept in .bench_build/records/; traced runs keep their spans and per-layer
summary in .bench_build/traces/.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, BENCH)

import gen  # noqa: E402
import metrics  # noqa: E402

ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
SRC = os.path.join(ROOT, "src", "main", "scala")
RUN_LIMIT_S = 170  # one run, excluding the first build

WORKLOADS = ("catalog_warm", "sentiment")
CATALOG_SCALE = 0.01
WARM_PASS_SECONDS = 5      # timed passes over the slice = seconds / this, rounded
SENTIMENT_ROWS = 100_000
BATCH_SIZE = 15            # one page of the reference's search results
BATCHES_PER_SECOND = 3     # 30 ops at 10 s: the tail rule then reads the 67th percentile

JVM_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar"]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def load_json(name):
    with open(os.path.join(BENCH, name)) as f:
        return json.load(f)


# --- build --------------------------------------------------------------------

def source_stamp():
    h = hashlib.sha256()
    for top in (SRC, os.path.join(BENCH, "src"), os.path.join(BENCH, "project")):
        for d, dirs, files in sorted(os.walk(top)):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            for f in sorted(files):
                if f.endswith((".scala", ".properties")):
                    p = os.path.join(d, f)
                    h.update(os.path.relpath(p, ROOT).encode())
                    with open(p, "rb") as fh:
                        h.update(fh.read())
    with open(os.path.join(BENCH, "build.sbt"), "rb") as fh:
        h.update(fh.read())
    return h.hexdigest()


def spark_home():
    """The Spark installation whose bin/spark-submit is on PATH and which
    ships its jars (a pip-installed pyspark's launcher does not)."""
    for d in os.environ.get("PATH", "").split(os.pathsep):
        submit = os.path.join(d, "spark-submit")
        if os.path.isfile(submit):
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
            if glob.glob(os.path.join(home, "jars", "spark-core_*.jar")):
                return home
    fail("set SPARK_HOME or put Spark's bin directory on PATH", 3)


def ensure_built():
    """Compile with sbt when the sources changed; return the classpath."""
    cp_file = os.path.join(BUILD, "sbt-target", "classpath.txt")
    stamp_file = os.path.join(BUILD, "build.stamp")
    stamp = source_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("SPARK_HOME", spark_home())
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as out:
        rc = run_child(["sbt", "-batch", "-Dsbt.log.noformat=true",
                        "-Dsbt.server.autostart=false", "writeClasspath"],
                       cwd=BENCH, env=env, stdout=out, timeout=850)
    if rc != 0 or not os.path.exists(cp_file):
        with open(log) as f:
            sys.stderr.write(f.read()[-3000:])
        fail("build failed", 3)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    with open(cp_file) as g:
        return g.read().strip()


def run_child(cmd, cwd, env, stdout, timeout):
    """Run a child in its own process group; kill the group on timeout and
    wait for it, so no process outlives the run."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=stdout,
                         stderr=subprocess.STDOUT, start_new_session=True)
    try:
        return p.wait(timeout=max(1, timeout))
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return -9
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()


# --- inputs -------------------------------------------------------------------

def catalog_dir(scale):
    """Generated catalog tables at a scale, cached across runs (the same
    for every seed)."""
    d = os.path.join(BUILD, "data", f"sf{scale}-v{gen.GEN_VERSION}")
    if not os.path.exists(os.path.join(d, "_complete")):
        tmp = f"{d}.tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        gen.write_catalog(scale, tmp)
        open(os.path.join(tmp, "_complete"), "w").close()
        shutil.rmtree(d, ignore_errors=True)
        os.rename(tmp, d)
    return d


# --- run ----------------------------------------------------------------------

def harness_args(workload, seed, seconds, run_dir, slices):
    if workload == "catalog_warm":
        names = slices[seed % len(slices)]
        return names, {
            "names": ",".join(names), "data": catalog_dir(CATALOG_SCALE),
            "passes": max(1, round(seconds / WARM_PASS_SECONDS)),
            "dump": os.path.join(run_dir, "dump")}
    gen.write_sentiment_csv(seed, SENTIMENT_ROWS, os.path.join(run_dir, "tweets.csv"))
    n_batches = max(10, BATCHES_PER_SECOND * seconds)
    gen.write_batches(seed, n_batches * BATCH_SIZE, os.path.join(run_dir, "batches.txt"))
    return None, {
        "csv": os.path.join(run_dir, "tweets.csv"),
        "batches": os.path.join(run_dir, "batches.txt"),
        "batch_size": BATCH_SIZE, "models": os.path.join(run_dir, "models")}


def run_jvm(classpath, run_dir, args, deadline):
    cmd = (["java"] + [x for p in JVM_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
           + ["-Xmx4g", f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}",
              "-cp", classpath, "perfbench.Harness"]
           + [f"{k}={v}" for k, v in args.items()])
    os.makedirs(os.path.join(run_dir, "tmp"), exist_ok=True)
    with open(os.path.join(run_dir, "jvm.log"), "w") as out:
        rc = run_child(cmd, cwd=run_dir, env=dict(os.environ), stdout=out,
                       timeout=deadline - time.time())
    if rc != 0 or not os.path.exists(args["out"]):
        with open(os.path.join(run_dir, "jvm.log"), errors="replace") as f:
            sys.stderr.write(f.read()[-4000:])
        fail(f"harness exited with {rc}", 4)
    with open(args["out"]) as f:
        return json.load(f)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    if not os.path.exists(os.path.join(SRC, "graft", "SparkEntry.scala")):
        fail(f"no repository sources under {SRC}: run from the root of a checkout")
    classpath = ensure_built()
    deadline = time.time() + RUN_LIMIT_S

    run_id = f"{a.workload}-s{a.seed}-t{a.trace}"
    run_dir = os.path.join(BUILD, "runs", f"{run_id}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        names, args = harness_args(a.workload, a.seed, a.seconds, run_dir,
                                   load_json("slices.json")["slices"])
        args.update(workload=a.workload, trace=a.trace,
                    cores=len(os.sched_getaffinity(0)),
                    out=os.path.join(run_dir, "record.json"))
        if a.trace:
            args["spans"] = os.path.join(run_dir, "spans.jsonl")
        record = run_jvm(classpath, run_dir, args, deadline)

        if names is not None:
            wrong = metrics.catalog_wrong(names, record, args["dump"],
                                          load_json("pinned.json")[f"sf{CATALOG_SCALE}"])
        else:
            wrong = metrics.sentiment_wrong(record.get("sentiment"))
        result = metrics.summarize(record, wrong)
        spans = None
        if a.trace:
            with open(args["spans"]) as f:
                spans = [json.loads(line) for line in f if line.strip()]
            layers = metrics.layer_metrics(spans, record["cached_mb"])
            result["metrics"] = {k: {"value": v, "unit": metrics.LAYER_UNITS[k]}
                                 for k, v in layers.items()}
        keep(run_id, a, names, record, wrong, result, spans)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(result))


def keep(run_id, a, names, record, wrong, result, spans):
    """The run record stays in .bench_build/records (failure causes
    included); a traced run's spans and layer summary in .bench_build/traces."""
    for sub in ("records", "traces"):
        os.makedirs(os.path.join(BUILD, sub), exist_ok=True)
    rec = {"workload": a.workload, "seed": a.seed, "seconds": a.seconds,
           "trace": a.trace, "slice": names, "wrong_outputs": wrong,
           "op_tail": metrics.tail_rule([o["s"] for o in record["ops"]]),
           "result": result, "record": record}
    stamp = time.strftime("%Y%m%dT%H%M%S")
    with open(os.path.join(BUILD, "records", f"{run_id}-{stamp}.json"), "w") as f:
        json.dump(rec, f, indent=1)
    for fl in metrics.failure_lines(record, wrong):
        print(f"perfbench: {fl}", file=sys.stderr)
    if spans is not None:
        summary = {"workload": a.workload, "seed": a.seed, "slice": names,
                   "wall_s": record["wall_s"],
                   "layers": metrics.layer_metrics(spans, record["cached_mb"]),
                   "self_s": metrics.self_time_by_name(spans),
                   "ops": metrics.per_op(spans)}
        with open(os.path.join(BUILD, "traces", f"{run_id}-{stamp}.json"), "w") as f:
            json.dump({"summary": summary, "spans": spans}, f, indent=1)


if __name__ == "__main__":
    main()
