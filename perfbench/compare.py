#!/usr/bin/env python3
"""Compare two checkouts (a parent and a change) with this benchmark.

    python3 perfbench/compare.py --parent <checkout> --change <checkout>

Both checkouts must hold the same benchmark code (perfbench/ and
BENCHMARK.json); the command refuses otherwise, and refuses to compare
runs whose host fingerprints (nproc, MemTotal, JVM) differ.

For every workload of BENCHMARK.json it makes RUNS pairs of untraced
runs of run_seconds each, alternating which side runs first, with one
seed per pair, then one traced run per side. It prints one row per workload and end-to-end metric with each
side's median and quartiles, the share of pairs the change won, and a
verdict:

  regression   change median worse than the parent's by more than the bound
  better       change won >= 90% of pairs and the medians differ by more
               than the parent's own quartile spread
  unresolved   the parent's spread exceeds the bound (and not every change
               run beat every parent run)
  unchanged    otherwise

Then it lists the per-layer metrics that moved most, so a regression
names its layer, and the runs whose start and end drift probes disagree.
"""
import argparse
import glob
import hashlib
import json
import os
import statistics
import subprocess
import sys

RUNS = 10


def bench_hash(root):
    h = hashlib.sha256()
    files = [os.path.join(root, "BENCHMARK.json")] + sorted(
        p for p in glob.glob(os.path.join(root, "perfbench", "**", "*"), recursive=True)
        if os.path.isfile(p) and "/target/" not in p and "/project/project/" not in p)
    for p in files:
        h.update(os.path.relpath(p, root).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def one_run(root, workload, seed, seconds, trace):
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", str(trace)]
    r = subprocess.run(cmd, cwd=root, capture_output=True, text=True)
    if r.returncode != 0:
        sys.exit(f"run failed in {root}: {' '.join(cmd)}\n{r.stderr[-2000:]}")
    line = json.loads(r.stdout.strip().splitlines()[-1])
    reports = glob.glob(os.path.join(root, ".bench_build", "reports",
                                     f"{workload}-s{seed}-t{trace}-*.json"))
    with open(max(reports, key=os.path.getmtime)) as f:
        report = json.load(f)
    return line, report


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, statistics.median(xs), q3


def verdict(m, par, chg, wins, pairs):
    q1, med, q3 = quartiles(par)
    c_med = statistics.median(chg)
    sign = 1 if m["better"] == "lower" else -1
    worse_by = sign * (c_med - med) / med if med else 0.0
    spread = (q3 - q1) / med if med else 0.0
    all_better = all(sign * (c - p) < 0 for c in chg for p in par)
    if worse_by > m["bound"]:
        return "regression"
    if wins >= 0.9 * pairs and abs(c_med - med) > (q3 - q1):
        return "better"
    if spread > m["bound"] and not all_better:
        return "unresolved"
    return "unchanged"


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--parent", required=True)
    ap.add_argument("--change", required=True)
    args = ap.parse_args()
    sides = {"parent": os.path.abspath(args.parent), "change": os.path.abspath(args.change)}
    if bench_hash(sides["parent"]) != bench_hash(sides["change"]):
        sys.exit("the two checkouts hold different benchmark code; measure both with one")
    with open(os.path.join(sides["parent"], "BENCHMARK.json")) as f:
        bench = json.load(f)
    seconds = bench["run_seconds"]
    names = [w["name"] for w in bench["workloads"]]

    hosts, drifted, rows, moved = set(), [], [], []
    for w in names:
        vals = {s: {m["name"]: [] for m in bench["end_to_end"]} for s in sides}
        wins = {m["name"]: 0 for m in bench["end_to_end"]}
        for i in range(RUNS):
            seed = 1000 + i
            order = ["parent", "change"] if i % 2 == 0 else ["change", "parent"]
            got = {}
            for s in order:
                line, rep = one_run(sides[s], w, seed, seconds, 0)
                hosts.add(json.dumps(rep["host"], sort_keys=True))
                if rep["drift_flag"]:
                    drifted.append(f"{w} seed {seed} {s}")
                got[s] = line["metrics"]
            for m in bench["end_to_end"]:
                n = m["name"]
                p, c = got["parent"][n]["value"], got["change"][n]["value"]
                vals["parent"][n].append(p)
                vals["change"][n].append(c)
                if (c < p) if m["better"] == "lower" else (c > p):
                    wins[n] += 1
        for m in bench["end_to_end"]:
            n = m["name"]
            par, chg = vals["parent"][n], vals["change"][n]
            rows.append((w, n, m["unit"], quartiles(par), quartiles(chg),
                         wins[n], verdict(m, par, chg, wins[n], RUNS)))
        traced = {s: one_run(sides[s], w, 999, seconds, 1)[0]["metrics"] for s in sides}
        for n, v in traced["parent"].items():
            p, c = v["value"], traced["change"][n]["value"]
            rel = (c - p) / abs(p) if p else (0.0 if c == 0 else float("inf"))
            moved.append((rel, w, n, p, c, v["unit"]))
    if len(hosts) > 1:
        sys.exit(f"runs came from different hosts, refusing to compare: {sorted(hosts)}")

    print(f"{'workload':20s} {'metric':20s} {'parent median [q1, q3]':>34s} "
          f"{'change median [q1, q3]':>34s} {'wins':>6s}  verdict")
    for w, n, unit, pq, cq, won, v in rows:
        fmt = lambda q: f"{q[1]:.4g} [{q[0]:.4g}, {q[2]:.4g}] {unit}"  # noqa: E731
        print(f"{w:20s} {n:20s} {fmt(pq):>34s} {fmt(cq):>34s} {won:>3d}/{RUNS}  {v}")
    print("\nper-layer metrics that moved most (one traced run per side):")
    for rel, w, n, p, c, unit in sorted(moved, key=lambda x: -abs(x[0]))[:12]:
        print(f"  {w:20s} {n:28s} {p:.4g} -> {c:.4g} {unit} ({rel:+.1%})")
    if drifted:
        print("\nruns whose start and end drift probes disagree: " + ", ".join(drifted))


if __name__ == "__main__":
    main()
