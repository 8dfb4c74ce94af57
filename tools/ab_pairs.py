#!/usr/bin/env python3
"""Alternating A/B pairs of the graftbench end-to-end metrics between two
checkouts of the engine (a parent and a change).

    python3 tools/ab_pairs.py <parent-checkout> <change-checkout> \\
        --workload serve --seeds 31-40 [--seconds 10] [--out pairs.json]

For each seed it runs `python3 graftbench/run.py --workload W --seed S
--seconds N --trace 0` once in each checkout, one run at a time, the
parent first on even pairs and the change first on odd ones, so a drift
in host load lands on both sides alike. `--seconds` defaults to the
`run_seconds` of the change checkout's BENCHMARK.json, which also gives
each metric's better direction and bound. The script only calls run.py;
it changes nothing in either checkout beyond what run.py writes there.

For each metric it prints both sides' median and quartiles, how many
pairs the change won (ties count for neither side), and two verdicts:

  gain       the change wins at least 9 of every 10 pairs AND the medians
             differ, in the better direction, by more than the parent's
             interquartile range (the claim rule for a small sandbox);
  bound      "ok" when the change's median is not worse than the parent's
             by more than the metric's bound, "WORSE" when it is, and
             "unresolved" when the parent's own interquartile range is
             wider than the bound, so the runs cannot tell (unless every
             change run reads better than every parent run).

A pair whose run failed (non-zero exit, no metrics line, or failed ops)
is listed and left out of the statistics. Exit status is 0 when every
pair ran clean, 1 otherwise.
"""

import argparse
import json
import os
import statistics
import subprocess
import sys
import time


def parse_seeds(specs):
    seeds = []
    for spec in specs:
        for part in spec.split(","):
            if "-" in part:
                lo, hi = part.split("-")
                seeds += range(int(lo), int(hi) + 1)
            elif part:
                seeds.append(int(part))
    return seeds


def run_once(checkout, workload, seed, seconds):
    """One untraced run; returns (metrics dict or None, failed ops, wall s)."""
    t0 = time.time()
    p = subprocess.run(
        [sys.executable, "graftbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
        cwd=checkout, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
        text=True)
    wall = time.time() - t0
    lines = [l for l in p.stdout.splitlines() if l.startswith("{")]
    if p.returncode != 0 or not lines:
        return None, None, wall
    last = json.loads(lines[-1])
    values = {k: v["value"] for k, v in last.get("metrics", {}).items()}
    return values, last.get("failed"), wall


def quartiles(xs):
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def verdicts(name, par, chg, spec):
    lower = spec.get("better", "lower") == "lower"
    bound = spec.get("bound")
    pq1, pmed, pq3 = quartiles(par)
    cq1, cmed, cq3 = quartiles(chg)
    wins = sum(1 for p, c in zip(par, chg) if (c < p if lower else c > p))
    n = len(par)
    gap = (pmed - cmed) if lower else (cmed - pmed)
    iqr = pq3 - pq1
    gain = wins * 10 >= 9 * n and gap > iqr
    all_better = (max(chg) < min(par)) if lower else (min(chg) > max(par))
    if bound is None:
        within = "-"
    elif pmed and iqr / abs(pmed) > bound and not all_better:
        within = "unresolved"
    elif pmed and -gap / abs(pmed) > bound:
        within = "WORSE"
    else:
        within = "ok"
    return {"metric": name, "better": "lower" if lower else "higher",
            "pairs": n, "parent": [pq1, pmed, pq3], "change": [cq1, cmed, cq3],
            "change_wins": wins, "median_gap": gap, "parent_iqr": iqr,
            "gain": gain, "bound": within}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("parent")
    ap.add_argument("change")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, nargs="+",
                    help="seeds, e.g. 31-40 or 31,33,35")
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--out", help="write every run and the summary as JSON")
    a = ap.parse_args()

    with open(os.path.join(a.change, "BENCHMARK.json")) as f:
        bench = json.load(f)
    specs = {m["name"]: m for m in bench.get("end_to_end", [])}
    seconds = a.seconds if a.seconds is not None else bench.get("run_seconds", 10)
    seeds = parse_seeds(a.seeds)

    runs, bad = [], []
    for i, seed in enumerate(seeds):
        order = [("parent", a.parent), ("change", a.change)]
        if i % 2:
            order.reverse()
        pair = {"seed": seed, "first": order[0][0]}
        for side, checkout in order:
            values, failed, wall = run_once(checkout, a.workload, seed, seconds)
            pair[side] = values
            pair[side + "_failed"] = failed
            print(f"[ab] seed {seed} {side}: "
                  f"{'no metrics' if values is None else json.dumps(values)} "
                  f"failed={failed} ({wall:.0f} s)", file=sys.stderr, flush=True)
        runs.append(pair)
        if (pair["parent"] is None or pair["change"] is None
                or pair["parent_failed"] or pair["change_failed"]):
            bad.append(seed)

    clean = [r for r in runs if r["seed"] not in bad]
    names = sorted({k for r in clean for k in r["parent"]} & {k for r in clean for k in r["change"]})
    summary = []
    for name in names:
        par = [r["parent"][name] for r in clean]
        chg = [r["change"][name] for r in clean]
        summary.append(verdicts(name, par, chg, specs.get(name, {})))

    print(f"{a.workload}: {len(clean)} clean pairs of {len(runs)}"
          + (f"; left out (failed run): {bad}" if bad else ""))
    print(f"{'metric':<12} {'parent q1/med/q3':<26} {'change q1/med/q3':<26} "
          f"{'wins':>6} {'gap':>8} {'p.iqr':>8}  gain   bound")
    for s in summary:
        fmt = lambda q: "/".join(f"{x:.3f}" for x in q)
        print(f"{s['metric']:<12} {fmt(s['parent']):<26} {fmt(s['change']):<26} "
              f"{s['change_wins']:>3}/{s['pairs']:<2} {s['median_gap']:>8.3f} "
              f"{s['parent_iqr']:>8.3f}  {'yes' if s['gain'] else 'no ':<5}  {s['bound']}")
    if a.out:
        with open(a.out, "w") as f:
            json.dump({"workload": a.workload, "seconds": seconds, "runs": runs,
                       "summary": summary}, f, indent=1)
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
