#!/usr/bin/env python3
"""The benchmark: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the root of a checkout. It builds the engine and the harness from
source (sbt, into perfbench/target) when they changed, generates the
workload's inputs from the seed, runs the JVM side at local[nproc] with the
JVM options of the root build (its `javaOptions`, read through sbt) and a
fixed heap, checks
the outputs against DuckDB and prints, as its last stdout line,
{"correct", "attempted", "failed", "metrics"}: the end-to-end metrics of
BENCHMARK.json untraced, its per-layer metrics traced. The line before it
is the host-context record. Exits non-zero when a check fails or the run
cannot be made. See perfbench/README.md.
"""
import argparse
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

import checks  # noqa: E402
import gen  # noqa: E402
import spans  # noqa: E402

BUILD = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(HERE, "target", "scala-2.13", "classes")
JAVA_OPTIONS = os.path.join(BUILD, "java_options.json")
DEADLINE_S = 170  # the whole command must end within 180 s
GEN_REPEATS = 3
SBT = ["sbt", "-batch", "-Dsbt.log.noformat=true"]
# The heap: the root build sizes it from SPARK_DRIVER_MEM (default 8g);
# the benchmark sets 2g unless the caller sets it, and pins the initial
# heap to it. With a heap that grows on demand, peak_rss_mb spread ~20%
# across seeds; every workload fits in 2g.
HEAP = os.environ.get("SPARK_DRIVER_MEM", "2g")


class BenchError(Exception):
    pass


def sources_digest():
    h = hashlib.sha256()
    files = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"),
                             recursive=True) +
                   glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True) +
                   [os.path.join(HERE, "build.sbt"),
                    os.path.join(HERE, "project", "build.properties"),
                    os.path.join(ROOT, "build.sbt"),
                    os.path.join(ROOT, "project", "build.properties")])
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    h.update(HEAP.encode())
    return h.hexdigest()


def build():
    """Compile the engine + harness and read the root build's javaOptions,
    unless the sources and builds are unchanged."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        raise BenchError("no engine sources under %s/src/main/scala" % ROOT)
    if not os.environ.get("SPARK_HOME"):
        raise BenchError("SPARK_HOME is not set")
    stamp = os.path.join(BUILD, "build.stamp")
    digest = sources_digest()
    if os.path.exists(stamp) and open(stamp).read() == digest and os.path.isdir(CLASSES):
        return
    os.makedirs(BUILD, exist_ok=True)
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as out:
        rc = subprocess.call(SBT + ["compile"], cwd=HERE, stdout=out,
                             stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
    if rc != 0:
        raise BenchError("build failed, see %s" % log)
    # the program's JVM options are the root build's javaOptions (the ones
    # `sbt run` forks with), so a change there reaches the benchmark too
    p = subprocess.run(SBT + ["show javaOptions"], cwd=ROOT, capture_output=True, text=True,
                       stdin=subprocess.DEVNULL, env=dict(os.environ, SPARK_DRIVER_MEM=HEAP))
    opts = [ln[len("[info] * "):] for ln in p.stdout.splitlines() if ln.startswith("[info] * ")]
    if p.returncode != 0 or not opts:
        raise BenchError("cannot read javaOptions from the root build:\n" + p.stdout[-2000:])
    with open(JAVA_OPTIONS, "w") as f:
        json.dump(opts, f)
    with open(stamp, "w") as f:
        f.write(digest)


def tree_digest(d):
    h = hashlib.sha256()
    for f in sorted(glob.glob(os.path.join(d, "**", "*"), recursive=True)):
        if os.path.isfile(f):
            h.update(os.path.relpath(f, d).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def generate(workload, seed, in_dir):
    """Generate GEN_REPEATS times (set-up is reported as a median); every
    repeat must write identical bytes."""
    times, digests = [], set()
    for _ in range(GEN_REPEATS):
        shutil.rmtree(in_dir, ignore_errors=True)
        t0 = time.perf_counter()
        gen.generate(workload, seed, in_dir)
        times.append(time.perf_counter() - t0)
        digests.add(tree_digest(in_dir))
    if len(digests) != 1:
        raise BenchError("generator is not deterministic for seed %d" % seed)
    return statistics.median(times)


def run_jvm(work, args, deadline):
    for d in ["tmp", "spark-local", "warehouse"]:
        os.makedirs(os.path.join(work, d), exist_ok=True)
    cp = CLASSES + os.pathsep + os.path.join(os.environ["SPARK_HOME"], "jars", "*")
    with open(JAVA_OPTIONS) as f:
        java_options = json.load(f)
    java_options += ["-Xms" + o[len("-Xmx"):] for o in java_options if o.startswith("-Xmx")]
    cmd = (["java"] + java_options +
           ["-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
            "-Dspark.local.dir=" + os.path.join(work, "spark-local"),
            "-Dspark.sql.warehouse.dir=" + os.path.join(work, "warehouse"),
            "-cp", cp, "perfbench.Main", "--work", work] + args)
    log_path = os.path.join(work, "jvm.log")
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, cwd=work, stdout=log, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            rc = p.wait(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            raise BenchError("JVM run timed out, see %s" % log_path)
    if rc != 0:
        raise BenchError("JVM run failed (exit %d), see %s" % (rc, log_path))
    with open(os.path.join(work, "result.json")) as f:
        return json.load(f)


def quartile(xs, q):
    """q-th quartile (1..3) as statistics.quantiles(n=4) gives it."""
    if len(xs) < 2:
        return xs[0]
    return statistics.quantiles(xs, n=4)[q - 1]


def end_to_end(workload, r, gen_s):
    ops = r["ops"]
    if not ops:
        raise BenchError("no operation succeeded")
    latencies = ([ms / 1e3 for ms in r["batch_ms"]] if workload == "ingest_stream"
                 else [s for s, _ in ops])
    staging = statistics.median(r["staging_s"]) if r["staging_s"] else 0.0
    return {
        "setup_s": gen_s + r["session_s"] + staging + r["warmup_s"],
        "throughput_per_s": sum(u for _, u in ops) / sum(s for s, _ in ops),
        "op_p50_s": statistics.median(latencies),
        "op_p75_s": quartile(latencies, 3),
        "peak_rss_mb": r["peak_rss_mb"],
    }


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(gen.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args(argv)
    deadline = time.monotonic() + DEADLINE_S
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)

    build()
    work = os.path.join(BUILD, "runs", a.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    gen_s = generate(a.workload, a.seed, os.path.join(work, "in"))
    r = run_jvm(work, ["--workload", a.workload, "--seconds", str(a.seconds),
                       "--trace", str(a.trace)], deadline)

    con = checks.connect(os.path.join(work, "duckdb-tmp"))
    c = r["checks"]
    if c["kind"] == "queries":
        problems = checks.check_queries(con, c, r["suite"])
    else:
        problems = checks.check_report(con, c)
    if a.trace and not r.get("composed_report_matches", True):
        problems.append("composed layers' report differs from Pipeline.run's")
    for p in problems:
        print("[perfbench] check failed: " + p, file=sys.stderr)

    host = {"nproc": os.cpu_count(), "one_core_probe_per_s": r["probe_rate"],
            "jdk": r["jdk"], "spark": r["spark"], "cores": r["cores"]}
    attempted, failed = r["attempted"], r["failed"]
    if a.trace:
        attempted += r["traced_attempted"] + r["after_attempted"] + r.get("one_core_attempted", 0)
        failed += r["traced_failed"] + r["after_failed"] + r.get("one_core_failed", 0)
        rows = {} if c["kind"] == "queries" else checks.report_rows(con, c)
        values = spans.layer_metrics(a.workload, spans.load(r["spans"]), r, rows)
        windows = [[s for s, _ in r[k]] for k in ("ops", "traced_ops", "after_ops")]
        if all(windows):
            before, traced, after = map(statistics.median, windows)
            values["trace.overhead_ratio"] = traced / ((before + after) / 2) - 1.0
        values["failed_ratio"] = failed / attempted
        wanted = spec["per_layer"]
        # a layer the workload does not exercise reads 0 (README: layer map)
        values = {m["name"]: values.get(m["name"], 0.0) for m in wanted} | values
        if r.get("one_core_s") and r["after_ops"]:
            # a diagnostic only, never gated: the one-core commits against
            # the last all-core window of the same JVM
            one = statistics.median(r["one_core_s"])
            host["tail_scaling_efficiency"] = one / (
                r["cores"] * statistics.median(s for s, _ in r["after_ops"]))
    else:
        values = end_to_end(a.workload, r, gen_s)
        wanted = spec["end_to_end"]
    missing = [m["name"] for m in wanted if m["name"] not in values]
    if missing:
        raise BenchError("metrics not measured: %s" % missing)
    metrics = {m["name"]: {"value": float(values[m["name"]]), "unit": m["unit"]} for m in wanted}
    print(json.dumps({"host": host}))
    print(json.dumps({"correct": not problems and failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 1 if problems or failed else 0


if __name__ == "__main__":
    try:
        sys.exit(main())
    except BenchError as e:
        print("[perfbench] " + str(e), file=sys.stderr)
        sys.exit(2)
