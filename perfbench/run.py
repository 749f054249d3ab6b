#!/usr/bin/env python3
"""Run one perfbench workload and print its metrics.

    python3 perfbench/run.py --workload <ingest|lookup|analytics> --seed N \
        --seconds S --trace <0|1> [--keep DIR]

Builds the program (src/main/scala) and the benchmark's Scala sources
with the Scala compiler shipped in Spark's jars, generates the inputs
from the seed, runs the workload in one JVM, checks the outputs, and
prints one JSON line last: correct, attempted, failed and the metrics
(end-to-end with --trace 0, per-layer with --trace 1). Diagnostics go
to stderr. Everything a run writes lives under perfbench/.runs/ and is
removed at exit; --keep copies the run directory (spans, outputs, JVM
log) somewhere first.
"""
import argparse
import fcntl
import glob
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True  # leave no __pycache__ in the checkout

import checks  # noqa: E402
import gen  # noqa: E402



def spark_jars():
    """Spark's jar directory: $SPARK_HOME/jars, else the first spark-submit
    on the PATH whose installation ships the Scala compiler."""
    homes = [os.environ.get("SPARK_HOME", "")] + [
        os.path.dirname(os.path.dirname(os.path.realpath(os.path.join(d, "spark-submit"))))
        for d in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.isfile(os.path.join(d, "spark-submit"))]
    for home in homes:
        if home and glob.glob(os.path.join(home, "jars", "scala-compiler-*.jar")):
            return os.path.join(home, "jars")
    return ""


SPARK_JARS = spark_jars()
BUILD = os.path.join(HERE, ".build")
RUNS = os.path.join(HERE, ".runs")
JVM_TIMEOUT_S = 150
MIN_P50_SAMPLES = 20  # ten samples beyond the median

# mirrors tools/graft-run.sh and build.sbt, with heap and JIT/GC threads
# pinned so a run does not follow the box's memory or core count
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]
JVM_FLAGS = ["-XX:-UsePerfData", "-Xms2g", "-Xmx2g", "-XX:ReservedCodeCacheSize=512m",
             "-XX:ParallelGCThreads=2", "-XX:ConcGCThreads=1", "-XX:CICompilerCount=2",
             "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]

WORKLOADS = ("ingest", "lookup", "analytics")
INGEST_MAIN_TRACES = 4200   # ~420 files of 100 spans: more than any run consumes
INGEST_WARM_FILES = 1
LOOKUP_TRACES = 2000
LOOKUP_MAIN_ROUNDS = 400
LOOKUP_WARM_ROUNDS = 3
ANALYTICS_EVENTS = 10000
ANALYTICS_USERS = 150


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg):
    log(f"error: {msg}")
    sys.exit(2)


# ------------------------------------------------------------------ build

def build():
    """Compile the program and the benchmark into .build/classes, once per
    distinct source content."""
    program = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"), recursive=True))
    bench = sorted(glob.glob(os.path.join(HERE, "scala/*.scala")))
    if not program:
        fail("no program sources under src/main/scala")
    if not SPARK_JARS:
        fail("no Spark installation with a Scala compiler (set SPARK_HOME)")
    h = hashlib.sha256()
    for p in program + bench:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    key = h.hexdigest()
    os.makedirs(BUILD, exist_ok=True)
    classes = os.path.join(BUILD, "classes")
    stamp = os.path.join(BUILD, "stamp")
    with open(os.path.join(BUILD, "lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if os.path.exists(stamp) and open(stamp).read() == key:
            return classes
        shutil.rmtree(classes, ignore_errors=True)
        os.makedirs(classes)
        t0 = time.time()
        cp = f"{SPARK_JARS}/*"
        r = subprocess.run(
            ["java", "-XX:-UsePerfData", "-Xmx2g", "-Xss8m", "-cp", cp, "scala.tools.nsc.Main", "-nowarn",
             "-d", classes, "-classpath", cp] + program + bench,
            stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
        if r.returncode != 0:
            sys.stderr.write(r.stdout[-4000:])
            fail("compile failed")
        with open(stamp, "w") as f:
            f.write(key)
        log(f"built {len(program)} program + {len(bench)} benchmark sources "
            f"in {time.time() - t0:.1f} s")
    return classes


# ------------------------------------------------------------------ inputs

def stage_inputs(workload, seed, run_dir):
    """Write the workload's inputs; return what the checks need."""
    if workload == "ingest":
        _, warm = gen.corpus(seed + 1_000_003, INGEST_WARM_FILES * 20)
        _, main = gen.corpus(seed, INGEST_MAIN_TRACES)
        base = int(time.time()) - 100_000
        gen.stage_files(os.path.join(run_dir, "stage/warm"), warm, INGEST_WARM_FILES, base)
        files = gen.stage_files(os.path.join(run_dir, "stage/main"), main, 10 ** 6,
                                base + 1000)
        return {"files": files}
    if workload == "lookup":
        spans, delivered = gen.corpus(seed, LOOKUP_TRACES)
        gen.write_spans(os.path.join(run_dir, "corpus.parquet"), delivered)
        warm = gen.lookup_requests(seed + 1_000_003, spans, LOOKUP_WARM_ROUNDS)
        main = gen.lookup_requests(seed, spans, LOOKUP_MAIN_ROUNDS)
        with open(os.path.join(run_dir, "requests.jsonl"), "w") as f:
            for phase, rounds in (("warm", warm), ("main", main)):
                for i, reqs in enumerate(rounds, start=1 if phase == "warm" else 0):
                    for j, req in enumerate(reqs):
                        f.write(json.dumps(dict(req, phase=phase, round=i, i=j)) + "\n")
        return {"delivered": delivered}
    gen.events(os.path.join(run_dir, "events"), seed, ANALYTICS_EVENTS, ANALYTICS_USERS)
    return {}


# ------------------------------------------------------------------ run

def run_jvm(classes, args, run_dir):
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    cmd = (["java"] + JVM_FLAGS + [f"-Djava.io.tmpdir={tmp}"] + opens +
           ["-cp", f"{classes}:{SPARK_JARS}/*", "perfbench.Perfbench"] + args +
           [run_dir, str(int(time.time() * 1000))])
    with open(os.path.join(run_dir, "jvm.log"), "w") as out:
        p = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT, cwd=run_dir,
                             start_new_session=True)
        try:
            code = p.wait(timeout=JVM_TIMEOUT_S)
        except BaseException:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            raise
    if code != 0:
        with open(os.path.join(run_dir, "jvm.log")) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        fail(f"benchmark JVM exited with {code}")
    with open(os.path.join(run_dir, "result.json")) as f:
        return json.load(f)


def end_to_end(res):
    lat = res["latencies_ms"]
    if len(lat) < MIN_P50_SAMPLES:
        fail(f"latency_p50_ms needs {MIN_P50_SAMPLES} samples (10 beyond the median), "
             f"the run completed {len(lat)}")
    reps = res["setup_reps_s"]
    log(f"latency_p50_ms from n={len(lat)} operations ({len(lat) // 2} beyond the median)")
    log(f"setup_s = session {res['session_s']:.3f} s + median of set-up repetitions "
        f"{[round(x, 3) for x in reps]} + warm-up {res['warmup_s']:.3f} s")
    setup = res["session_s"] + statistics.median(reps) + res["warmup_s"]
    return {
        "setup_s": {"value": setup, "unit": "s"},
        "ops_per_s": {"value": len(lat) / res["measured_s"], "unit": "1/s"},
        "latency_p50_ms": {"value": statistics.median(lat), "unit": "ms"},
        "retained_heap_mb": {"value": res["retained_heap_mb"], "unit": "MB"},
    }


# per-layer metrics of layers a workload never calls (README, "Metrics");
# they read 0 there. Every other metric must come from the run itself.
NOT_APPLICABLE = {
    "lookup": ("streaming.", "queries."),
    "analytics": ("trace.", "operators."),
    "ingest": ("operators.", "queries.", "trace.store_write_s", "trace.pipeline_ms",
               "spark.plan_ms", "spark.exec_ms"),
}


def per_layer(workload, res):
    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as f:
        units = {m["name"]: m["unit"] for m in json.load(f)["per_layer"]}
    layers = dict(res["per_layer"])
    n_a = {k for k in units if k.startswith(NOT_APPLICABLE[workload])}
    if n_a & set(layers):
        fail(f"metrics documented as not applicable to {workload} were reported: "
             f"{sorted(n_a & set(layers))}")
    missing = sorted(set(units) - set(layers) - n_a)
    if missing:
        fail(f"per-layer metrics not reported: {missing}")
    layers.update({k: 0.0 for k in n_a})
    extra = {k: v for k, v in layers.items() if k not in units}
    if extra:
        log(f"per-layer metrics outside BENCHMARK.json: {json.dumps(extra)}")
    return {k: {"value": layers[k], "unit": units[k]} for k in units}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--keep", help="copy the run directory here before removing it")
    a = ap.parse_args()
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(3))

    classes = build()
    os.makedirs(RUNS, exist_ok=True)
    run_dir = os.path.join(RUNS, f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        t0 = time.time()
        staged = stage_inputs(a.workload, a.seed, run_dir)
        log(f"generated inputs in {time.time() - t0:.2f} s (not part of setup_s)")
        res = run_jvm(classes, [a.workload, str(a.seed), str(a.seconds), str(a.trace)], run_dir)
        problems = checks.check(a.workload, run_dir, staged, res, ROOT)
        if a.trace and int(res["diag"].get("trace_invalid", "1")) != 0:
            problems.append("traced spans do not validate")
        for p in problems:
            log(f"CHECK FAILED: {p}")
        log(f"diag: {json.dumps(res['diag'])}")
        log("mean ms by operation: " + json.dumps(
            {k: round(v, 1) for k, v in sorted(res["ms_by_kind"].items())}))
        if a.trace:
            log(f"traced ops_per_s {len(res['latencies_ms']) / res['measured_s']:.4f}")
        metrics = per_layer(a.workload, res) if a.trace else end_to_end(res)
    finally:
        if a.keep:
            shutil.copytree(run_dir, a.keep, dirs_exist_ok=True)
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            os.rmdir(RUNS)
        except OSError:
            pass
    print(json.dumps({"correct": not problems, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
