#!/usr/bin/env python3
"""Run one benchmark workload against graft and print its metrics.

    python3 perfbench/run.py --workload serve --seed 1 --seconds 10 --trace 0

Run from the root of a graft checkout. The first run compiles graft's
sources and the benchmark's JVM harness (perfbench/jvm) with the Scala
compiler that ships with Spark; later runs reuse the classes while the
sources are unchanged. Inputs are generated from --seed, the harness
runs the workload, checks its outputs off the clock, and the last
stdout line is one JSON object: correct, attempted, failed, metrics.
With --trace 0 the metrics are the end-to-end ones of BENCHMARK.json,
with --trace 1 the per-layer ones. The line before it carries the
workload's own named metrics, the calibration probe and any failures.
"""

import argparse
import fcntl
import glob
import hashlib
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.dont_write_bytecode = True
sys.path.insert(0, HERE)
import benchlib as bl  # noqa: E402

WORKLOADS = ("serve", "ingest")
DEADLINE_S = 170  # a run must end within 180 s of its start, build excepted


def fail(msg):
    print("run.py: " + msg, file=sys.stderr)
    sys.exit(2)


# ---- build ---------------------------------------------------------------

def spark_jars(root):
    """Spark's jar directory: $SPARK_HOME/jars, else the one the repo's
    own sbt build compiles against (its `unmanagedBase`)."""
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    sbt = os.path.join(root, "build.sbt")
    if os.path.exists(sbt):
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
        if m and os.path.isdir(m.group(1)):
            return m.group(1)
    fail("cannot find Spark's jars: set SPARK_HOME")


def build(root, build_dir):
    """Compile graft + the harness once per distinct source tree."""
    srcs = sorted(glob.glob(os.path.join(root, "src/main/scala/**/*.scala"), recursive=True))
    if not srcs:
        fail("no graft sources under src/main/scala: run from a graft checkout")
    srcs += sorted(glob.glob(os.path.join(HERE, "jvm/**/*.scala"), recursive=True))
    h = hashlib.sha256()
    for s in srcs:
        h.update(os.path.relpath(s, root).encode())
        with open(s, "rb") as f:
            h.update(f.read())
    jars = spark_jars(root)
    out = os.path.join(build_dir, "classes-" + h.hexdigest()[:16])
    os.makedirs(build_dir, exist_ok=True)
    with open(os.path.join(build_dir, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if not os.path.isdir(out):
            tmp = out + ".tmp"
            shutil.rmtree(tmp, ignore_errors=True)
            os.makedirs(tmp)
            cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-Djava.io.tmpdir=" + tmp,
                   "-cp", os.path.join(jars, "*"),
                   "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", tmp] + srcs
            r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
            if r.returncode != 0:
                print(r.stdout[-4000:], file=sys.stderr)
                fail("compilation failed")
            os.rename(tmp, out)
            for old in glob.glob(os.path.join(build_dir, "classes-*")):
                if old != out:
                    shutil.rmtree(old, ignore_errors=True)
    return out, jars


# ---- inputs --------------------------------------------------------------

def sizing(workload, seconds):
    """Workload sizes for a run of `seconds`."""
    if workload == "serve":
        rate = 2.5  # under half the closed-loop capacity
        return {"rate": rate, "open_count": max(8, round(rate * 0.7 * seconds)),
                "closed_count": max(8, round(2.5 * seconds))}
    n = 121  # 120 timed landings
    return {"n_chunks": n, "interval_s": 0.7 * seconds / (n - 1), "rows_per_chunk": 300}


def make_inputs(workload, seed, seconds, d):
    os.makedirs(d)
    size = sizing(workload, seconds)
    if workload == "serve":
        bl.write_parquet(bl.serve_events(seed), os.path.join(d, "events.parquet"))
        plan = bl.serve_plan(seed, size["rate"], size["open_count"], size["closed_count"])
    else:
        os.makedirs(os.path.join(d, "chunks"))
        for i, c in enumerate(bl.ingest_chunks(seed, size["n_chunks"], size["rows_per_chunk"])):
            bl.write_parquet(c, os.path.join(d, "chunks", "chunk-%05d.parquet" % i))
        plan = {"interval_s": size["interval_s"]}
    bl.dump(plan, os.path.join(d, "plan.json"))


# ---- the JVM harness -----------------------------------------------------

ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def run_jvm(classes, jars, args, log_path, tmp, timeout):
    """Run the harness; its temporary files stay under `tmp`."""
    os.makedirs(tmp)
    cmd = ["java", "-Xmx3g", "-XX:+UseG1GC", "-XX:-UsePerfData", "-Djava.io.tmpdir=" + tmp,
           "-Dspark.local.dir=" + tmp, "-Dspark.ui.enabled=false"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", "java.base/%s=ALL-UNNAMED" % p]
    cmd += ["-cp", classes + os.pathsep + os.path.join(jars, "*"), "graftbench.Main"] + args
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, start_new_session=True)
        try:
            return proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            return None


# ---- metrics -------------------------------------------------------------

def end_to_end(workload, raw):
    """The workload's own named metrics and the generic end-to-end set."""
    named = {"setup_s": (bl.median(raw["setup_s"]), "s"),
             "heap_live_mb": (raw["heap_live_mb"], "MB")}
    if workload == "serve":
        lat = bl.due_latencies_ms(raw["open_due_s"], raw["open_done_s"])
        named.update(req_p50_ms=(bl.percentile(lat, 50), "ms"),
                     req_p95_ms=(bl.percentile(lat, 95), "ms"),
                     max_rps=(raw["closed_requests"] / raw["drain_s"], "1/s"))
        ops, drain = lat, raw["drain_s"]
    else:
        ops, drain = raw["fresh_ms"], bl.median(raw["backfill_s"])
        named.update(fresh_p50_ms=(bl.percentile(ops, 50), "ms"),
                     fresh_p90_ms=(bl.percentile(ops, 90), "ms"),
                     backfill_s=(drain, "s"))
    named["failed_frac"] = (raw["failed"] / raw["attempted"], "share")
    pct = bl.tail_pct(len(ops))
    named["op_samples"] = (len(ops), "count")
    named["op_tail_pct"] = (pct, "percentile")
    generic = {"op_p50_ms": bl.percentile(ops, 50), "op_tail_ms": bl.percentile(ops, pct),
               "drain_s": drain, "setup_s": named["setup_s"][0],
               "heap_live_mb": named["heap_live_mb"][0]}
    return named, generic


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    root = os.getcwd()
    try:
        spec = json.load(open(os.path.join(root, "BENCHMARK.json")))
    except OSError:
        fail("BENCHMARK.json not found: run from the repository root")
    build_dir = os.path.join(root, os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
    classes, jars = build(root, build_dir)
    started = time.monotonic()

    run_dir = os.path.join(build_dir, "runs", "%s-%d-%d" % (a.workload, a.seed, os.getpid()))
    shutil.rmtree(run_dir, ignore_errors=True)
    try:
        make_inputs(a.workload, a.seed, a.seconds, os.path.join(run_dir, "in"))
        out = os.path.join(run_dir, "out.json")
        log = os.path.join(run_dir, "jvm.log")
        left = DEADLINE_S - (time.monotonic() - started)
        rc = run_jvm(classes, jars, ["--workload", a.workload, "--in", os.path.join(run_dir, "in"),
                                     "--work", os.path.join(run_dir, "work"), "--out", out,
                                     "--seconds", str(a.seconds), "--trace", str(a.trace)],
                     log, os.path.join(run_dir, "tmp"), left)
        if rc != 0 or not os.path.exists(out):
            tail = open(log, errors="replace").read()[-3000:]
            print(tail, file=sys.stderr)
            fail("harness " + ("timed out" if rc is None else "exited with %s" % rc))
        raw = json.load(open(out))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    detail = {"workload": a.workload, "seed": a.seed, "trace": a.trace, "calib": raw["calib"],
              "failures": raw["failures"]}
    if a.trace:
        # spans of one operation share its id; kept beside the build
        spans = os.path.join(build_dir, "traces", "%s-seed%d.json" % (a.workload, a.seed))
        os.makedirs(os.path.dirname(spans), exist_ok=True)
        bl.dump({"columns": ["op", "layer", "start_ms", "end_ms"], "spans": raw.get("spans", [])}, spans)
        detail["spans"] = os.path.relpath(spans, root)
        layers = raw.get("layers", {})
        metrics = {m["name"]: {"value": layers.get(m["name"], 0.0), "unit": m["unit"]}
                   for m in spec["per_layer"]}
    else:
        named, generic = end_to_end(a.workload, raw)
        detail["named"] = {k: {"value": v, "unit": u} for k, (v, u) in named.items()}
        metrics = {m["name"]: {"value": generic[m["name"]], "unit": m["unit"]}
                   for m in spec["end_to_end"]}
    print(json.dumps({"detail": detail}))
    print(json.dumps({"correct": raw["failed"] == 0, "attempted": raw["attempted"],
                      "failed": raw["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
