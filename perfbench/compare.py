#!/usr/bin/env python3
"""Collects benchmark runs and compares two sets of them.

From the repository root:

    # ten runs per workload, seeds 1..10, one report file per run
    python3 perfbench/compare.py collect --out A --seeds 1-10
    python3 perfbench/compare.py collect --out B --seeds 1-10 --workloads tsdb_lookup

    # one set: median, quartiles and quartile spread per end-to-end metric,
    # and the fewest latency samples beyond p90 in a run (exit 1 if < 10)
    python3 perfbench/compare.py spread A

    # two sets (A = parent, B = change): verdict per workload and metric
    python3 perfbench/compare.py compare A B

The verdict follows the benchmark's own rules. `better`: B wins at least
nine tenths of the run pairs (pairs matched by seed, ties count for
neither) and the medians differ by more than A's quartile spread.
`worse`: B's median is worse than A's by more than the metric's bound in
BENCHMARK.json. `same`: within the bound. `unresolved`: the quartile spread
of either set is wider than the bound, unless every run of B beats every
run of A. Exit status is 1 when any pairing is `worse`.
"""
import argparse
import glob
import json
import os
import statistics
import subprocess
import sys

ROOT = os.getcwd()


def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def load(path):
    """Report records under a directory (or in one file), as
    {workload: {seed: metrics}} for untraced runs."""
    files = sorted(glob.glob(os.path.join(path, "*.json"))) if os.path.isdir(path) else [path]
    out = {}
    for p in files:
        with open(p) as f:
            for line in f:
                line = line.strip()
                if not line:
                    continue
                r = json.loads(line)
                if r.get("trace") == 0:
                    out.setdefault(r["workload"], {})[r["seed"]] = r["metrics"]
    return out


def quartiles(vals):
    if len(vals) < 2:
        return vals[0], vals[0], vals[0]
    q1, q2, q3 = statistics.quantiles(vals, n=4)
    return q1, statistics.median(vals), q3


def values(runs, metric):
    return [m[metric]["value"] for _, m in sorted(runs.items()) if metric in m]


def fmt(v):
    return f"{v:.4g}"


def cmd_collect(a):
    lo, _, hi = a.seeds.partition("-")
    seeds = range(int(lo), int(hi or lo) + 1)
    workloads = a.workloads.split(",") if a.workloads else [w["name"] for w in spec()["workloads"]]
    os.makedirs(a.out, exist_ok=True)
    seconds = str(spec()["run_seconds"])
    for w in workloads:
        for s in seeds:
            rep = os.path.join(a.out, f"{w}-s{s}-t{a.trace}.json")
            cmd = [sys.executable, os.path.join("perfbench", "run.py"), "--workload", w,
                   "--seed", str(s), "--seconds", seconds, "--trace", str(a.trace),
                   "--report", rep]
            p = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE,
                               stderr=subprocess.DEVNULL, text=True)
            last = p.stdout.strip().splitlines()[-1:] or [""]
            print(f"{w} seed {s}: exit {p.returncode} {last[0][:160]}", flush=True)
            if p.returncode != 0:
                return 1
    return 0


def cmd_spread(a):
    s = spec()
    runs = load(a.set)
    worst = 0.0
    print(f"{'workload':16} {'metric':14} {'n':>3} {'q1':>10} {'median':>10} {'q3':>10} "
          f"{'spread':>7} {'bound':>6}")
    for w in sorted(runs):
        for m in s["end_to_end"]:
            v = values(runs[w], m["name"])
            if not v:
                continue
            q1, med, q3 = quartiles(v)
            spread = (q3 - q1) / med if med else float("inf")
            flag = ""
            if m["name"] != "setup_s":
                worst = max(worst, spread / m["bound"])
                if spread > m["bound"] / 3:
                    flag = "  > bound/3"
            print(f"{w:16} {m['name']:14} {len(v):3d} {fmt(q1):>10} {fmt(med):>10} "
                  f"{fmt(q3):>10} {spread:7.3f} {m['bound']:6.2f}{flag}")
    print(f"largest spread as a share of its bound (setup_s excluded): {worst:.2f}")
    # p90 is trustworthy only with at least ten samples beyond it in every run
    short = 0
    for w in sorted(runs):
        beyond = values(runs[w], "op_beyond_p90")
        if beyond:
            print(f"{w}: latency samples beyond p90, fewest in a run: {min(beyond):.0f}")
            short += min(beyond) < 10
    return 1 if short else 0


def verdict(a_vals, b_vals, a_by_seed, b_by_seed, better, bound):
    """Verdict for one metric; `better` is "lower" or "higher"."""
    sign = 1 if better == "higher" else -1
    aq1, amed, aq3 = quartiles(a_vals)
    bq1, bmed, bq3 = quartiles(b_vals)
    pairs = [(a_by_seed[k], b_by_seed[k]) for k in sorted(set(a_by_seed) & set(b_by_seed))]
    if not pairs:
        pairs = list(zip(a_vals, b_vals))
    wins = sum(1 for x, y in pairs if sign * (y - x) > 0)
    spread_a = (aq3 - aq1) / amed if amed else float("inf")
    spread_b = (bq3 - bq1) / bmed if bmed else float("inf")
    change = sign * (bmed - amed) / amed if amed else 0.0
    all_better = min(sign * y for y in b_vals) > max(sign * x for x in a_vals)
    if (wins >= 0.9 * len(pairs) and abs(bmed - amed) > (aq3 - aq1)) or all_better:
        v = "better"
    elif max(spread_a, spread_b) > bound:
        v = "unresolved"
    elif change < -bound:
        v = "worse"
    else:
        v = "same"
    return v, wins, len(pairs), (aq1, amed, aq3), (bq1, bmed, bq3), change


def cmd_compare(a):
    s = spec()
    A, B = load(a.a), load(a.b)
    worse = 0
    print(f"{'workload':16} {'metric':14} {'A q1/med/q3':>28} {'B q1/med/q3':>28} "
          f"{'change':>7} {'wins':>6} verdict")
    for w in sorted(set(A) | set(B)):
        if w not in A or w not in B:
            print(f"{w:16} missing from {'A' if w not in A else 'B'}")
            continue
        for m in s["end_to_end"]:
            av, bv = values(A[w], m["name"]), values(B[w], m["name"])
            if not av or not bv:
                continue
            ab = {k: r[m["name"]]["value"] for k, r in A[w].items() if m["name"] in r}
            bb = {k: r[m["name"]]["value"] for k, r in B[w].items() if m["name"] in r}
            v, wins, n, qa, qb, change = verdict(av, bv, ab, bb, m["better"], m["bound"])
            worse += v == "worse"
            print(f"{w:16} {m['name']:14} {'/'.join(map(fmt, qa)):>28} "
                  f"{'/'.join(map(fmt, qb)):>28} {change:+7.3f} {wins:>3}/{n:<2} {v}")
    return 1 if worse else 0


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    sub = ap.add_subparsers(dest="cmd", required=True)
    c = sub.add_parser("collect", help="run the benchmark over a range of seeds")
    c.add_argument("--out", required=True)
    c.add_argument("--seeds", default="1-10", help="first-last, inclusive")
    c.add_argument("--workloads", help="comma-separated; default all")
    c.add_argument("--trace", type=int, default=0, choices=[0, 1])
    sp = sub.add_parser("spread", help="quartile spread of one set of runs")
    sp.add_argument("set")
    cp = sub.add_parser("compare", help="verdicts for set B against set A")
    cp.add_argument("a")
    cp.add_argument("b")
    a = ap.parse_args()
    sys.exit({"collect": cmd_collect, "spread": cmd_spread, "compare": cmd_compare}[a.cmd](a))


if __name__ == "__main__":
    main()
