#!/usr/bin/env python3
"""Spread of the benchmark over repeated runs.

    python3 perfbench/spread.py [--workloads a,b] [--seeds 1-10] [--trace 0|1]
                                [--save runs.json] [--load runs.json]

Runs `perfbench/run.py` once per (workload, seed), one run at a time,
then prints per workload and metric the median, quartiles and the
quartile distance as a share of the median (statistics.quantiles, n=4).
With --trace 0 each spread is checked against the metric's bound in
BENCHMARK.json: it must stay within the bound, and should stay below a
third of it (setup_s is exempt from the one-third rule only). When both an
untraced and a traced record are loaded, the tracing overhead (traced
minus untraced median of ops_per_s and op_latency_s) is printed too.
"""

import argparse
import json
import os
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import stats  # noqa: E402


def seeds_of(spec):
    if "-" in spec:
        a, b = spec.split("-")
        return list(range(int(a), int(b) + 1))
    return [int(x) for x in spec.split(",")]


def run_once(workload, seed, seconds, trace):
    t = time.time()
    p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"),
                        "--workload", workload, "--seed", str(seed),
                        "--seconds", str(seconds), "--trace", str(trace)],
                       cwd=ROOT, capture_output=True, text=True)
    wall = time.time() - t
    if p.returncode != 0:
        return {"workload": workload, "seed": seed, "error": p.stderr[-500:],
                "wall_s": wall}
    last = json.loads(p.stdout.strip().splitlines()[-1])
    last.update(workload=workload, seed=seed, trace=trace, wall_s=wall)
    return last


def report(runs, bench):
    bounds = {m["name"]: m["bound"] for m in bench.get("end_to_end", [])}
    ok = True
    for w in sorted({r["workload"] for r in runs}):
        rs = [r for r in runs if r["workload"] == w and "metrics" in r]
        bad = [r for r in runs if r["workload"] == w and "metrics" not in r]
        walls = [r["wall_s"] for r in runs if r["workload"] == w]
        print("%s: %d runs, %d failed to run, %d incorrect, run wall median %.1f s max %.1f s"
              % (w, len(rs), len(bad), sum(1 for r in rs if not r["correct"]),
                 stats.percentile(walls, 50), max(walls)))
        if bad or any(not r["correct"] for r in rs):
            ok = False
        if len(rs) < 2:
            continue
        for name in sorted(rs[0]["metrics"]):
            vals = [r["metrics"][name]["value"] for r in rs]
            if not any(vals):
                continue  # a layer this workload does not load
            med, q1, q3, share = stats.spread(vals)
            note = ""
            if name in bounds:
                # setup_s need not stay below a third of its bound, but
                # it must stay within it like every other metric
                b = bounds[name]
                note = ("OVER BOUND" if share > b else
                        "ok" if share < b / 3 or name == "setup_s" else
                        "WIDE (within bound)")
                if share > b:
                    ok = False
            print("  %-36s median %12.6g  q1 %12.6g  q3 %12.6g  spread %6.3f  %s"
                  % (name, med, q1, q3, share, note))
    return ok


def overhead(runs):
    for w in sorted({r["workload"] for r in runs}):
        plain = [r for r in runs if r["workload"] == w and r.get("trace") == 0 and "metrics" in r]
        traced = [r for r in runs if r["workload"] == w and r.get("trace") == 1 and "metrics" in r]
        if not plain or not traced:
            continue
        for a, b in (("ops_per_s", "traced.ops_per_s"), ("op_latency_s", "traced.op_latency_s")):
            u = stats.percentile([r["metrics"][a]["value"] for r in plain], 50)
            t = stats.percentile([r["metrics"][b]["value"] for r in traced], 50)
            print("%s tracing overhead %s: untraced %.6g traced %.6g (%+.1f%%)"
                  % (w, a, u, t, 100.0 * (t - u) / u))


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workloads", default="")
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--save")
    ap.add_argument("--load", action="append", default=[])
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    workloads = ([w for w in a.workloads.split(",") if w]
                 or [w["name"] for w in bench["workloads"]])
    runs = []
    for path in a.load:
        with open(path) as f:
            runs += json.load(f)
    if not a.load:
        for w in workloads:
            for s in seeds_of(a.seeds):
                r = run_once(w, s, bench["run_seconds"], a.trace)
                print("  ran %s seed %d in %.1f s%s" % (w, s, r["wall_s"],
                      "" if "metrics" in r else ": " + r["error"]), flush=True)
                runs.append(r)
        if a.save:
            with open(a.save, "w") as f:
                json.dump(runs, f)
    ok = report([r for r in runs if r.get("trace", 0) == 0] or runs, bench)
    overhead(runs)
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
