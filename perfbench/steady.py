#!/usr/bin/env python3
"""Steadiness tool: run workloads repeatedly on one commit, one seed per
run, and print for each end-to-end metric its median, quartiles and
spread (interquartile distance as a share of the median), next to the
metric's bound in BENCHMARK.json, the failed share of operations, the
wall time of one run and the share of CPU time the hypervisor took from
the machine during it (steal, from /proc/stat where there is one), which
tells a slow host apart from a slow run. Bounds are set from this output.

    python3 perfbench/steady.py [--runs 10] [--first-seed 1] [--trace 0|1]
                                [--json out.json] [workload ...]

With --trace 1 it prints the per-layer metrics' medians instead, and the
tracing overhead: the traced per-operation wall against the untraced one
from a --json file of an untraced set (--untraced).
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def cpu_times():
    """(steal, total) jiffies of all CPUs, or None without /proc/stat."""
    try:
        with open("/proc/stat") as f:
            v = [int(x) for x in f.readline().split()[1:]]
    except OSError:
        return None
    return (v[7] if len(v) > 7 else 0), sum(v[:8])


def run_once(workload, seed, seconds, trace):
    t0 = time.time()
    c0 = cpu_times()
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    wall = time.time() - t0
    c1 = cpu_times()
    if p.returncode != 0:
        sys.stderr.write(p.stderr[-3000:])
        raise SystemExit(f"{workload} seed {seed}: exit {p.returncode}")
    r = json.loads(p.stdout.strip().splitlines()[-1])
    r["wall_s"] = wall
    r["steal"] = (c1[0] - c0[0]) / max(1, c1[1] - c0[1]) if c0 and c1 else 0.0
    return r


def spread(values):
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, statistics.median(values), q3, (q3 - q1) / statistics.median(values)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("workloads", nargs="*")
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--json", help="write every run's result here")
    ap.add_argument("--untraced", help="an untraced --json file, for the overhead")
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    names = a.workloads or [w["name"] for w in bench["workloads"]]
    results = {}
    for w in names:
        rs = []
        for i in range(a.runs):
            r = run_once(w, a.first_seed + i, bench["run_seconds"], a.trace)
            rs.append(r)
            print(f"{w} seed {a.first_seed + i}: {r['wall_s']:.1f} s, "
                  f"steal {r['steal']:.1%}, correct={r['correct']} "
                  f"attempted={r['attempted']} failed={r['failed']}", flush=True)
        results[w] = rs
        print(f"\n{w}: {len(rs)} runs, wall per run median "
              f"{statistics.median(r['wall_s'] for r in rs):.1f} s, failed shares "
              f"{sorted({r['failed'] / r['attempted'] for r in rs})}, all correct "
              f"{all(r['correct'] for r in rs)}")
        for m in rs[0]["metrics"]:
            vals = [r["metrics"][m]["value"] for r in rs]
            unit = rs[0]["metrics"][m]["unit"]
            if len(vals) < 2:
                print(f"  {m:28s} {vals[0]:.4g} {unit}")
                continue
            q1, med, q3, sp = spread(vals) if statistics.median(vals) else (0, 0, 0, 0)
            b = bounds.get(m)
            flag = "" if b is None else f"  bound {b}  {'ok' if sp < b / 3 else 'WIDE'}"
            print(f"  {m:28s} median {med:.4g} {unit}  q1 {q1:.4g}  q3 {q3:.4g}"
                  f"  spread {sp:.3f}{flag}")
        if a.untraced and a.trace:
            with open(a.untraced) as f:
                base = json.load(f).get(w)
            if base:
                def per_op(rr, key):
                    return statistics.median(
                        r["metrics"][key]["value"] / r["attempted"] if key else
                        1 / r["metrics"]["ops_per_s"]["value"] for r in rr)
                traced = per_op(rs, "trace.timed_wall_s")
                untraced = per_op(base, None)
                print(f"  tracing overhead: {traced / untraced - 1:+.1%} per operation "
                      f"({traced:.3f} s traced vs {untraced:.3f} s untraced)")
        print(flush=True)
    if a.json:
        with open(a.json, "w") as f:
            json.dump(results, f)


if __name__ == "__main__":
    main()
