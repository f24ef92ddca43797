#!/usr/bin/env python3
"""Paired comparison of two checkouts (parent and change) on the benchmark.

    python3 perfbench/compare.py --base ../parent --change . [--pairs 10] [--seed 1000]

Each pair runs both sides on one seed, one after the other, on every
workload in BENCHMARK.json; the side that runs first alternates from pair
to pair. Per workload it reports each side's failed runs and failed
operations, and per end-to-end metric each side's median and quartiles,
the pairs the change won, and a verdict:

  gain        the change won at least 9/10 of the pairs (ties count for
              neither side) and the medians differ by more than the
              parent's own quartile spread, and the change failed no more
              runs or operations than the parent
  regression  the change's median is worse than the parent's by more
              than the metric's bound
  unresolved  either side's spread (quartile distance / median) exceeds
              the bound, and the change did not read better on every run
  within      none of the above

A run that fails (non-zero exit, or any failed operation) loses its pair
on every metric, and its values stay out of the medians. Bounds and
directions come from the change side's BENCHMARK.json; both checkouts
must carry the same benchmark.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys


def run(checkout, workload, seed, seconds):
    """One untraced run: (result or None, attempted ops, failed ops)."""
    r = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", "0"],
        cwd=checkout, capture_output=True, text=True)
    lines = r.stdout.strip().splitlines()
    if r.returncode != 0 or not lines:
        print(f"  {checkout} {workload} seed {seed}: run failed\n{r.stderr[-1500:]}", file=sys.stderr)
        return None, 1, 1
    res = json.loads(lines[-1])
    if res["failed"]:
        print(f"  {checkout} {workload} seed {seed}: {res['failed']} failed ops", file=sys.stderr)
        return None, res["attempted"], res["failed"]
    return res, res["attempted"], 0


def summary(xs):
    if not xs:
        return {"median": float("nan"), "q1": float("nan"), "q3": float("nan"), "spread": float("inf")}
    q1, med, q3 = statistics.quantiles(xs, n=4) if len(xs) > 1 else (xs[0], xs[0], xs[0])
    return {"median": statistics.median(xs), "q1": q1, "q3": q3,
            "spread": (q3 - q1) / statistics.median(xs)}


def verdict(metric, pairs, more_failures):
    """`pairs`: (base, change) values of one metric, one per seed; None
    where that side's run failed."""
    lower = metric["better"] == "lower"
    better = (lambda c, b: c < b) if lower else (lambda c, b: c > b)
    base = [b for b, _ in pairs if b is not None]
    change = [c for _, c in pairs if c is not None]
    b, c = summary(base), summary(change)
    wins = sum((c_ is not None and (b_ is None or better(c_, b_))) for b_, c_ in pairs
               if not (b_ is None and c_ is None))
    if not base or not change:
        return {"base": b, "change": c, "wins": wins, "pairs": len(pairs), "worse_by": float("nan"),
                "bound": metric["bound"], "verdict": "unresolved"}
    worse = (c["median"] - b["median"]) / b["median"] * (1 if lower else -1)
    every = all(better(cv, bv) for cv in change for bv in base)
    if (wins >= 0.9 * len(pairs) and abs(c["median"] - b["median"]) > b["q3"] - b["q1"]
            and not more_failures):
        v = "gain"
    elif worse > metric["bound"]:
        v = "regression"
    elif max(b["spread"], c["spread"]) > metric["bound"] and not every:
        v = "unresolved"
    else:
        v = "within"
    return {"base": b, "change": c, "wins": wins, "pairs": len(pairs),
            "worse_by": worse, "bound": metric["bound"], "verdict": v}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--base", required=True, help="parent checkout")
    ap.add_argument("--change", required=True, help="change checkout")
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seed", type=int, default=1000,
                    help="seed of the first pair; pass seeds not used while the change was "
                         "written to check that a claimed gain holds on a fresh seed")
    a = ap.parse_args()

    with open(os.path.join(a.change, "BENCHMARK.json")) as f:
        bench = json.load(f)
    with open(os.path.join(a.base, "BENCHMARK.json")) as f:
        if json.load(f) != bench:
            sys.exit("the two checkouts carry different BENCHMARK.json files")
    workloads = [w["name"] for w in bench["workloads"]]
    sides = {"base": a.base, "change": a.change}
    results = {w: [] for w in workloads}
    ops = {w: {s: {"runs_failed": 0, "attempted": 0, "failed": 0} for s in sides} for w in workloads}
    for i in range(a.pairs):
        seed = a.seed + i
        order = ["base", "change"] if i % 2 == 0 else ["change", "base"]
        for w in workloads:
            got = {}
            for s in order:
                res, attempted, failed = run(sides[s], w, seed, bench["run_seconds"])
                got[s] = res
                ops[w][s]["runs_failed"] += res is None
                ops[w][s]["attempted"] += attempted
                ops[w][s]["failed"] += failed
            results[w].append((got["base"], got["change"]))
            print(f"pair {i + 1}/{a.pairs} {w} seed {seed} ({' then '.join(order)}) done", file=sys.stderr)

    print(f"{'workload':12} {'metric':28} {'base median [q1,q3]':>32} {'change median [q1,q3]':>32} "
          f"{'wins':>6} {'worse_by':>9} {'bound':>6}  verdict")
    for w in workloads:
        o = ops[w]
        more_failures = (o["change"]["failed"] > o["base"]["failed"]
                         or o["change"]["runs_failed"] > o["base"]["runs_failed"])
        print(f"{w:12} {'failed runs / failed ops':28} "
              f"{'{runs_failed} / {failed} of {attempted}'.format(**o['base']):>32} "
              f"{'{runs_failed} / {failed} of {attempted}'.format(**o['change']):>32}"
              + ("  change fails more: no gain counts" if more_failures else ""))
        for m in bench["end_to_end"]:
            pairs = [(b and b["metrics"][m["name"]]["value"], c and c["metrics"][m["name"]]["value"])
                     for b, c in results[w]]
            r = verdict(m, pairs, more_failures)
            fb = "{median:.4g} [{q1:.4g},{q3:.4g}]".format(**r["base"])
            fc = "{median:.4g} [{q1:.4g},{q3:.4g}]".format(**r["change"])
            print(f"{w:12} {m['name']:28} {fb:>32} {fc:>32} {r['wins']:>3}/{r['pairs']:<2} "
                  f"{r['worse_by']:>9.3f} {r['bound']:>6}  {r['verdict']}")


if __name__ == "__main__":
    main()
