#!/usr/bin/env python3
"""Collect sets of benchmark runs and compare them.

    python3 perfbench/compare.py collect --out DIR [--workloads a,b] \
        [--seeds 1-10] [--seconds S] [--trace 0|1]
runs perfbench/run.py once per workload and seed and keeps each run's
result line in DIR/<workload>/seed<N>.json.

    python3 perfbench/compare.py DIR_A [DIR_B]
prints, per workload and per end-to-end metric of BENCHMARK.json, each
set's median and quartiles (statistics.quantiles, n=4) and the spread
(Q3 - Q1) / median. With two sets it also says whether they agree: both
spreads within the metric's bound (setup_s is exempt from the spread
test), B's median not worse than A's by more than the bound, and the
same share of failed passes. Exit status 1 when they do not agree.
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


def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def seeds(text):
    out = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        out.extend(range(int(lo), int(hi or lo) + 1))
    return out


def collect(a):
    s = spec()
    workloads = a.workloads.split(",") if a.workloads else [w["name"] for w in s["workloads"]]
    seconds = a.seconds if a.seconds is not None else s["run_seconds"]
    for w in workloads:
        os.makedirs(os.path.join(a.out, w), exist_ok=True)
        for n in seeds(a.seeds):
            t0 = time.time()
            p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
                                "--seed", str(n), "--seconds", str(seconds),
                                "--trace", str(a.trace)],
                               cwd=ROOT, capture_output=True, text=True)
            wall = time.time() - t0
            lines = p.stdout.strip().splitlines()
            if p.returncode != 0 or not lines:
                sys.stderr.write(p.stderr[-3000:])
                raise SystemExit(f"{w} seed {n}: exit {p.returncode}")
            res = json.loads(lines[-1])
            res["wall_s"] = wall
            with open(os.path.join(a.out, w, f"seed{n}.json"), "w") as f:
                json.dump(res, f)
            m = {k: round(v["value"], 4) for k, v in res["metrics"].items()}
            print(f"{w} seed {n} ({wall:.0f}s): correct={res['correct']} "
                  f"attempted={res['attempted']} failed={res['failed']} {m}", flush=True)


def load(d):
    runs = {}
    for w in sorted(os.listdir(d)):
        if os.path.isdir(os.path.join(d, w)):
            runs[w] = []
            for name in sorted(os.listdir(os.path.join(d, w))):
                with open(os.path.join(d, w, name)) as f:
                    runs[w].append(json.load(f))
    return runs


def summary(values):
    q1, med, q3 = statistics.quantiles(values, n=4) if len(values) > 1 else [values[0]] * 3
    return med, q1, q3, (q3 - q1) / med if med else float("inf")


def compare(a):
    metrics = spec()["end_to_end"]
    sets = [load(d) for d in a.dirs]
    ok = True
    for w in sorted(set().union(*sets)):
        print(f"== {w}")
        fail_shares = []
        for runs in sets:
            rs = runs.get(w, [])
            att = sum(r["attempted"] for r in rs)
            fail_shares.append(sum(r["failed"] for r in rs) / att if att else None)
            bad = sum(not r["correct"] for r in rs)
            print(f"   {len(rs)} runs, {att} passes, failed share {fail_shares[-1]}, "
                  f"{bad} runs not correct")
            ok &= bad == 0
        for m in metrics:
            name, bound = m["name"], m["bound"]
            cols = []
            stats = []
            for runs in sets:
                vals = [r["metrics"][name]["value"] for r in runs.get(w, [])
                        if name in r["metrics"]]
                if not vals:
                    cols.append("-")
                    stats.append(None)
                    continue
                med, q1, q3, spread = summary(vals)
                stats.append((med, spread))
                cols.append(f"median {med:.4f} [{q1:.4f}, {q3:.4f}] spread {spread:.3f}")
            verdict = ""
            if len(stats) == 2 and all(stats):
                (ma, sa), (mb, sb) = stats
                worse = (mb - ma) / ma if m["better"] == "lower" else (ma - mb) / ma
                spread_ok = name == "setup_s" or (sa <= bound and sb <= bound)
                agree = spread_ok and worse <= bound
                ok &= agree
                verdict = (f"  B worse by {worse:+.3f} (bound {bound}) -> "
                           f"{'agree' if agree else 'DISAGREE'}")
            elif len(stats) == 1 and stats[0]:
                within = name == "setup_s" or stats[0][1] <= bound / 3
                verdict = f"  (bound {bound}, spread {'<' if within else '>='} bound/3)"
            print(f"   {name:15s} " + " | ".join(cols) + verdict)
        if len(fail_shares) == 2 and fail_shares[0] != fail_shares[1]:
            print(f"   failed share differs: {fail_shares[0]} vs {fail_shares[1]}")
            ok = False
    return ok


def main():
    if len(sys.argv) > 1 and sys.argv[1] == "collect":
        ap = argparse.ArgumentParser(prog="compare.py collect")
        ap.add_argument("--out", required=True)
        ap.add_argument("--workloads")
        ap.add_argument("--seeds", default="1-10")
        ap.add_argument("--seconds", type=int)
        ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
        collect(ap.parse_args(sys.argv[2:]))
        return
    ap = argparse.ArgumentParser(description="Compare one or two sets of runs.")
    ap.add_argument("dirs", nargs="+", metavar="DIR")
    a = ap.parse_args()
    if len(a.dirs) > 2:
        ap.error("give one or two run directories")
    sys.exit(0 if compare(a) else 1)


if __name__ == "__main__":
    main()
