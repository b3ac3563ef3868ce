#!/usr/bin/env python3
"""Run-to-run spread of the end-to-end metrics: two sets of untraced runs
over the same seed list, interleaved (per seed, the sets and the workloads
alternate which goes first), so a slow stretch of the host lands in both
sets alike.

Run from the root of a checkout:

    python3 perfbench/spread.py --seeds 301-310 --out perfbench/results/untraced-two-sets.json

For every workload, set and end-to-end metric it reports the median and
the spread (Q3 - Q1) / median, with Q1 and Q3 from
statistics.quantiles(values, n=4), and the ratio of set B's median to set
A's. Every run's result line and its host steal share are kept.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

WORKLOADS = ("backfill", "query_mix")


def seeds_of(text):
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def run(workload, seed, seconds):
    t0 = time.monotonic()
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
                       stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
    lines = p.stdout.strip().splitlines()
    result = json.loads(lines[-1]) if p.returncode == 0 and lines else None
    detail = os.path.join("perfbench", "out", f"{workload}-seed{seed}-trace0.json")
    steal = None
    if os.path.exists(detail):
        with open(detail) as f:
            steal = json.load(f).get("steal_share")
    return {"seed": seed, "rc": p.returncode, "elapsed_s": time.monotonic() - t0,
            "steal_share": steal, "result": result}


def summary(runs):
    out = {}
    names = runs[0]["result"]["metrics"].keys() if runs and runs[0]["result"] else []
    for name in names:
        xs = [r["result"]["metrics"][name]["value"] for r in runs if r["result"]]
        med = statistics.median(xs)
        q = statistics.quantiles(xs, n=4)
        out[name] = {"median": med, "iqr_over_median": (q[2] - q[0]) / med}
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seeds", default="301-310")
    ap.add_argument("--seconds", type=int, default=15)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    runs = {s: {w: [] for w in WORKLOADS} for s in "AB"}
    for i, seed in enumerate(seeds_of(a.seeds)):
        sets = "AB" if i % 2 == 0 else "BA"
        for j, s in enumerate(sets):
            wls = WORKLOADS if (i + j) % 2 == 0 else WORKLOADS[::-1]
            for w in wls:
                r = run(w, seed, a.seconds)
                runs[s][w].append(r)
                m = r["result"]["metrics"] if r["result"] else {}
                print(f"set {s} {w} seed {seed} rc {r['rc']} steal {r['steal_share']} "
                      + " ".join(f"{k}={v['value']:.4g}" for k, v in m.items()), flush=True)
    doc = {"command": "python3 perfbench/run.py --workload W --seed N "
                      f"--seconds {a.seconds} --trace 0",
           "seeds": seeds_of(a.seeds), "workloads": {}}
    for w in WORKLOADS:
        sa, sb = summary(runs["A"][w]), summary(runs["B"][w])
        doc["workloads"][w] = {
            "A": sa, "B": sb,
            "b_over_a": {k: sb[k]["median"] / sa[k]["median"] for k in sa},
            "runs": {"A": runs["A"][w], "B": runs["B"][w]}}
    with open(a.out, "w") as f:
        json.dump(doc, f, indent=1)
        f.write("\n")
    for w in WORKLOADS:
        for k, v in doc["workloads"][w]["b_over_a"].items():
            print(f"{w} {k}: A median {doc['workloads'][w]['A'][k]['median']:.4g} "
                  f"spread {doc['workloads'][w]['A'][k]['iqr_over_median']:.3f}; "
                  f"B median {doc['workloads'][w]['B'][k]['median']:.4g} "
                  f"spread {doc['workloads'][w]['B'][k]['iqr_over_median']:.3f}; B/A {v:.3f}")


if __name__ == "__main__":
    main()
