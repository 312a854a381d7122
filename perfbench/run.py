#!/usr/bin/env python3
"""Runs one benchmark workload against the library built from this checkout.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first call builds the library and the
benchmark with sbt (`perfbench/build.sbt`) and caches the launch line under
`.bench_build/`; later calls reuse it while the sources are unchanged.
The JVM sets up the workload several times, runs its closed loop for
`--seconds`, checks its outputs and writes a result file; this script adds
the DuckDB check of `metric_queries`, the span arithmetic of a traced run,
and prints the result as the last line of standard output:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With `--trace 0` the metrics are the end-to-end metrics, with `--trace 1`
the per-layer metrics. The line before it is a report with each
workload's own metric names, the effective Spark confs and the output
checks that failed. Exits 1 if any output check fails, 2 on a usage or
build error.
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

import oracle  # noqa: E402
import spans  # noqa: E402

WORKLOADS = ["daily_etl", "metric_queries", "corpus_maintenance"]
# The workload's own names for these (etl.day_s, mq.p50_ms, corpus.round_s
# and the rest) are in the report line.
END_TO_END = {"setup_s": "s", "op_p50_ms": "ms", "items_per_s": "1/s", "peak_rss_mb": "MB"}
# Per-layer metrics reported by every traced run; a layer a workload does
# not call reads 0.
PER_LAYER = {
    "ai.requests": "count", "ai.requests_per_row": "ratio", "ai.stub_busy_s": "s",
    "ai.errors": "count", "ai.mb_sent": "MB",
    "model.reviews_fact_s": "s", "model.aux_dims_s": "s", "model.games_dim_s": "s",
    "model.input_mb": "MB",
    "quality.gate_s": "s", "quality.shuffle_mb": "MB",
    "semantic.register_s": "s", "semantic.compile_ms": "ms",
    "semantic.yaml_parse_ms": "ms", "semantic.execute_ms": "ms",
    "pipeline.self_s": "s",
    "operators.curate_s": "s", "operators.cross_lsh_s": "s",
    "operators.semantic_pairs_s": "s", "operators.standardize_s": "s",
    "operators.lsh_pairs": "count", "operators.semantic_pairs_found": "count",
    "core.upsert_s": "s", "core.compact_s": "s", "core.files_written": "count",
    "core.mb_written": "MB", "core.files_before": "count", "core.files_after": "count",
    "core.files_per_partition": "count",
    "functions.dot64_ns": "ns", "functions.dot512_ns": "ns",
    "functions.dot512_gb_per_s": "GB/s", "functions.dot512_gflop_per_s": "GFLOP/s",
    "functions.shingle_ns_per_doc": "ns", "functions.shingle_mb_per_s": "MB/s",
    "functions.marker_ns_per_doc": "ns", "functions.marker_mb_per_s": "MB/s",
    "functions.decsum_ns_per_row": "ns",
    "model.self_s": "s", "quality.self_s": "s", "semantic.self_s": "s",
    "operators.self_s": "s", "core.self_s": "s",
    "spark.jobs_per_op": "count", "spark.stages_per_op": "count",
    "spark.tasks_per_op": "count", "spark.task_cpu_s_per_op": "s",
    "spark.shuffle_read_mb_per_op": "MB", "spark.shuffle_write_mb_per_op": "MB",
    "spark.spill_mb_per_op": "MB", "spark.gc_s_per_op": "s",
    "trace.unaccounted_share": "ratio", "trace.unaccounted_max_share": "ratio",
    "trace.op_p50_ms": "ms", "trace.ops": "count",
}
BUILD_INPUTS = ["build.sbt", "project/build.properties", "src/main",
                "perfbench/build.sbt", "perfbench/project/build.properties",
                "perfbench/src"]
JVM_TIMEOUT_S = 170
HEAP = "3g"


def fail(msg, code=2):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(code)


def source_stamp(root):
    h = hashlib.sha256()
    for rel in BUILD_INPUTS:
        path = os.path.join(root, rel)
        files = [path] if os.path.isfile(path) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, root).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build(root):
    """Builds with sbt unless the cached launch line matches the sources."""
    for rel in BUILD_INPUTS:
        if not os.path.exists(os.path.join(root, rel)):
            fail("%s is missing: run from the root of a checkout of the repository" % rel)
    out = os.path.join(root, ".bench_build")
    launch, stamp_file = os.path.join(out, "launch.tsv"), os.path.join(out, "stamp")
    stamp = source_stamp(root)
    if os.path.exists(launch) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                return launch
    os.makedirs(out, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true")
    log = os.path.join(out, "build.log")
    with open(log, "w") as lf:
        rc = subprocess.call(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeLaunch"],
                             cwd=os.path.join(root, "perfbench"), env=env,
                             stdout=lf, stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
    if rc != 0 or not os.path.exists(launch):
        with open(log) as f:
            sys.stderr.write(f.read()[-4000:])
        fail("build failed (sbt exit %d), see %s" % (rc, log))
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return launch


def java_command(launch, work, args):
    cp, opts = None, []
    with open(launch) as f:
        for line in f:
            kind, _, value = line.rstrip("\n").partition("\t")
            if kind == "classpath":
                cp = value
            elif kind == "jvm" and not value.startswith("-Xmx"):
                opts.append(value)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    return (["java"] + opts + ["-Xmx" + HEAP, "-Djava.io.tmpdir=" + tmp,
                               "-Dsun.net.httpserver.nodelay=true",
                               "-cp", cp, "perfbench.Main"] + args)


def run_jvm(cmd, log, timeout):
    with open(log, "w") as lf:
        proc = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            return proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            return None
        finally:
            if proc.poll() is None:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()


def main():
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = p.parse_args()

    root = os.getcwd()
    launch = build(root)
    t0 = time.time()
    work = os.path.join(root, ".bench_work", "%s-%d" % (a.workload, os.getpid()))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    result_file = os.path.join(work, "result.json")
    log = os.path.join(work, "jvm.log")
    try:
        cmd = java_command(launch, work, [
            "run", a.workload, str(a.seed), str(a.seconds), str(a.trace),
            os.path.join(work, "run"), result_file])
        rc = run_jvm(cmd, log, JVM_TIMEOUT_S)
        if rc != 0 or not os.path.exists(result_file):
            with open(log, errors="replace") as f:
                sys.stderr.write(f.read()[-6000:])
            fail("the %s run %s" % (a.workload, "timed out" if rc is None
                                     else "exited with code %d" % rc), code=1)
        with open(result_file) as f:
            res = json.load(f)
        failures = list(res["failed_checks"])
        extra = res["extra"]
        if a.workload == "metric_queries":
            failures += oracle.check(extra)
        attempted = max(1, int(res["attempted"]))
        failed = min(attempted, len(failures))

        if a.trace:
            traces = os.path.join(root, ".bench_work", "traces")
            os.makedirs(traces, exist_ok=True)
            trace_file = os.path.join(traces, "%s-seed%d.json" % (a.workload, a.seed))
            layer = dict(res["layer"])
            layer.update(spans.layer_metrics(extra["spans"]))
            # the untraced run's op_p50_ms, measured under tracing: their
            # ratio is the tracing overhead
            layer["trace.op_p50_ms"] = res["metrics"]["op_p50_ms"]
            with open(trace_file, "w") as f:
                json.dump({"workload": a.workload, "seed": a.seed,
                           "spans": extra["spans"], "layer": layer}, f)
            metrics = {k: {"value": float(layer.get(k, 0.0)), "unit": u}
                       for k, u in PER_LAYER.items()}
        else:
            trace_file = None
            metrics = {k: {"value": float(res["metrics"][k]), "unit": u}
                       for k, u in END_TO_END.items()}
        report = {"workload": a.workload, "seed": a.seed, "seconds": a.seconds,
                  "metrics": res["report"],
                  "error_rate": {"value": failed / attempted, "unit": "failed/attempted"},
                  "conf": extra["conf"], "stub_service_ms": extra["stub_service_ms"],
                  "setup_seconds": extra["setup_seconds"], "wall_s": time.time() - t0,
                  "failed_checks": failures[:20], "trace_file": trace_file}
        print("report " + json.dumps(report, sort_keys=True))
        print(json.dumps({"correct": not failures, "attempted": attempted,
                          "failed": failed, "metrics": metrics}))
        sys.exit(1 if failures else 0)
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
