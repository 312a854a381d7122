#!/usr/bin/env python3
"""Measures how steady the benchmark is and records it.

    python3 perfbench/steadiness.py [--runs 10] [--traced 1] [--workloads a,b]

Run from the root of a checkout. For each workload it makes `--runs`
untraced runs of `run_seconds` (from BENCHMARK.json), seeds 101, 102, …,
and reports per end-to-end metric the median and the spread: the
distance between the first and third quartile
(`statistics.quantiles(values, n=4)`) as a share of the median. It then
makes `--traced` traced runs and records their per-layer metrics, with
the tracing overhead (traced over untraced median operation time). The
record is `perfbench/STEADINESS.json`; workloads not run again keep their
earlier entries.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
OUT = os.path.join(HERE, "STEADINESS.json")
FIRST_SEED = 101


def run_once(workload, seed, seconds, trace):
    t0 = time.time()
    p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
                       stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    lines = p.stdout.strip().splitlines()
    if not lines:
        raise SystemExit("%s seed %d printed nothing (exit %d):\n%s"
                         % (workload, seed, p.returncode, p.stderr[-3000:]))
    out = json.loads(lines[-1])
    report = json.loads(lines[-2][len("report "):]) if len(lines) > 1 else {}
    return out, report, p.returncode, time.time() - t0


def spread(values):
    q1, _, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return (q3 - q1) / med if med else float("inf")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--traced", type=int, default=1)
    ap.add_argument("--workloads", default="daily_etl,corpus_maintenance,metric_queries")
    a = ap.parse_args()

    record = {}
    if os.path.exists(OUT):
        with open(OUT) as f:
            record = json.load(f)
    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as f:
        bench = json.load(f)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    seconds = bench["run_seconds"]
    for wl in a.workloads.split(","):
        runs, walls, reports = [], [], []
        for i in range(a.runs):
            seed = FIRST_SEED + i
            out, report, rc, wall = run_once(wl, seed, seconds, 0)
            if rc != 0 or not out["correct"]:
                raise SystemExit("%s seed %d failed its checks: %s"
                                 % (wl, seed, report.get("failed_checks")))
            runs.append({k: v["value"] for k, v in out["metrics"].items()})
            reports.append({k: v["value"] for k, v in report["metrics"].items()})
            walls.append(wall)
            print("%s seed %d: %.1f s %s" % (wl, seed, wall, json.dumps(runs[-1])), flush=True)
        metrics = {}
        for name in runs[0]:
            vals = [r[name] for r in runs]
            s = spread(vals)
            metrics[name] = {"median": statistics.median(vals), "spread": s,
                             "bound": bounds.get(name),
                             "within_third_of_bound": (name == "setup_s" or s < bounds.get(name, 0) / 3),
                             "values": vals}
        own = {}
        for name in reports[0]:
            vals = [r[name] for r in reports]
            own[name] = {"median": statistics.median(vals), "spread": spread(vals)}
        entry = {"runs": a.runs, "seconds": seconds,
                 "seeds": [FIRST_SEED + i for i in range(a.runs)],
                 "wall_s_median": statistics.median(walls), "wall_s_max": max(walls),
                 "end_to_end": metrics, "workload_metrics": own}
        traced = []
        for i in range(a.traced):
            out, report, rc, wall = run_once(wl, FIRST_SEED + i, seconds, 1)
            layer = {k: v["value"] for k, v in out["metrics"].items()}
            traced.append({"seed": FIRST_SEED + i, "wall_s": wall, "layer": layer})
            print("%s traced seed %d: %.1f s" % (wl, FIRST_SEED + i, wall), flush=True)
        if traced:
            p50 = statistics.median(t["layer"]["trace.op_p50_ms"] for t in traced)
            entry["traced"] = traced
            entry["tracing_overhead"] = p50 / metrics["op_p50_ms"]["median"] - 1
        record[wl] = entry
        with open(OUT, "w") as f:
            json.dump(record, f, indent=1, sort_keys=True)
            f.write("\n")


if __name__ == "__main__":
    main()
