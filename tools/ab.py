#!/usr/bin/env python3
"""A/B of two checkouts on the repository benchmark: N alternating
parent/change pairs of `perfbench/run.py`, one pair per seed.

Each side must be its own `git clone` (a copied, already-built checkout
shares sbt's incremental-compile state, which holds absolute paths).
Run from anywhere:

    python3 tools/ab.py --parent /path/to/parent --change /path/to/change \\
        --workloads backfill,query_mix --seeds 1101-1110 --seconds 15

Per seed the side that goes first alternates, and so does the workload
order. Before the pairs, each side runs every workload once, discarded, so
the first measured run does not include the build. Every run (run through
`perfbench/spread.py`'s `run`) prints one line with its end-to-end metrics
and the host's CPU steal share during its timed loop (`steal_share` from
the run's detail file in `perfbench/out/`). At the end, per workload and end-to-end metric:
median and quartiles (statistics.quantiles, n=4) of each side, the ratio
of the medians, whether the median moved by more than the parent's
interquartile range, and in how many pairs the change was better, in the
metric's direction from BENCHMARK.json. `--out FILE` keeps every run as
JSON.
"""
import argparse
import json
import os
import statistics
import sys

sys.dont_write_bytecode = True  # leave no __pycache__ under perfbench/
sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), "..", "perfbench"))
from spread import run as run_here, seeds_of  # noqa: E402


def run(root, workload, seed, seconds):
    """One untraced run.py of the checkout at `root` (spread.run works on
    the current directory)."""
    os.chdir(root)
    return run_here(workload, seed, seconds)


def fmt(r):
    m = r["result"]["metrics"] if r["result"] else {}
    ok = r["result"]["correct"] if r["result"] else False
    return (f"rc {r['rc']} correct {ok} steal {r['steal_share']} "
            + " ".join(f"{k}={v['value']:.4g}" for k, v in m.items()))


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0]
    q = statistics.quantiles(xs, n=4)
    return q[0], q[2]


def report(pairs, better):
    out = {}
    for name, lower_is_better in better.items():
        both = [(p, c) for p, c in pairs if p["result"] and c["result"]]
        if not both:
            continue
        xp = [p["result"]["metrics"][name]["value"] for p, _ in both]
        xc = [c["result"]["metrics"][name]["value"] for _, c in both]
        mp, mc = statistics.median(xp), statistics.median(xc)
        (p1, p3), (c1, c3) = quartiles(xp), quartiles(xc)
        wins = sum((c < p) if lower_is_better else (c > p) for p, c in zip(xp, xc))
        out[name] = {"parent": {"median": mp, "q1": p1, "q3": p3},
                     "change": {"median": mc, "q1": c1, "q3": c3},
                     "ratio": mc / mp if mp else None,
                     "beyond_parent_iqr": abs(mc - mp) > (p3 - p1),
                     "change_wins": wins, "pairs": len(both)}
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--parent", required=True)
    ap.add_argument("--change", required=True)
    ap.add_argument("--workloads", default="backfill,query_mix")
    ap.add_argument("--seeds", default="1101-1110")
    ap.add_argument("--seconds", type=int, default=15)
    ap.add_argument("--out")
    a = ap.parse_args()
    sides = {"parent": os.path.abspath(a.parent), "change": os.path.abspath(a.change)}
    out = os.path.abspath(a.out) if a.out else None
    workloads = a.workloads.split(",")
    seeds = seeds_of(a.seeds)
    with open(os.path.join(sides["change"], "BENCHMARK.json")) as f:
        better = {m["name"]: m["better"] == "lower" for m in json.load(f)["end_to_end"]}

    for side, root in sides.items():
        for w in workloads:
            print(f"warm-up {side} {w}: {fmt(run(root, w, seeds[0], a.seconds))}",
                  flush=True)
    runs = {w: [] for w in workloads}
    for i, seed in enumerate(seeds):
        order = ["parent", "change"] if i % 2 == 0 else ["change", "parent"]
        wls = workloads if i % 2 == 0 else workloads[::-1]
        got = {w: {} for w in workloads}
        for side in order:
            for w in wls:
                r = run(sides[side], w, seed, a.seconds)
                got[w][side] = r
                print(f"{w} seed {seed} {side}: {fmt(r)}", flush=True)
        for w in workloads:
            runs[w].append(got[w])

    doc = {"command": "python3 perfbench/run.py --workload W --seed N "
                      f"--seconds {a.seconds} --trace 0",
           "parent": sides["parent"], "change": sides["change"], "seeds": seeds,
           "workloads": {}}
    for w in workloads:
        pairs = [(g["parent"], g["change"]) for g in runs[w]]
        summary = report(pairs, better)
        doc["workloads"][w] = {"summary": summary, "pairs": runs[w]}
        print(f"\n{w}: metric  parent median [Q1, Q3]  change median [Q1, Q3]  "
              "ratio  beyond parent IQR  change wins")
        for name, s in summary.items():
            p, c = s["parent"], s["change"]
            print(f"  {name}  {p['median']:.4g} [{p['q1']:.4g}, {p['q3']:.4g}]  "
                  f"{c['median']:.4g} [{c['q1']:.4g}, {c['q3']:.4g}]  "
                  f"{s['ratio']:.3f}  {s['beyond_parent_iqr']}  "
                  f"{s['change_wins']}/{s['pairs']}")
        print("  steal_share per pair (parent / change): " + ", ".join(
            f"{g['parent']['steal_share']}/{g['change']['steal_share']}" for g in runs[w]))
    if out:
        with open(out, "w") as f:
            json.dump(doc, f, indent=1)
            f.write("\n")


if __name__ == "__main__":
    main()
