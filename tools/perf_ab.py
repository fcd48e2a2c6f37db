#!/usr/bin/env python3
"""Interleaved A/B of the repo benchmark: a base revision against this checkout.

    python3 tools/perf_ab.py <rev> [--pairs 10] [--workloads crime_daily,...]
                             [--first-seed 1]

Exports <rev> with `git archive` into a temporary directory, then runs
perfbench/run.py untraced in both trees for BENCHMARK.json's run_seconds,
pair by pair: pair i runs seed first_seed + i on both sides, the base first
on even pairs and this checkout first on odd ones. Each tree builds its own
.bench_build/ on its first run. For every end-to-end metric of
BENCHMARK.json it prints each side's median and spread (IQR/median), the
change between medians, the pairs the checkout won and each side's failed
runs (base/change). A metric is "unresolved" when either side's spread
exceeds the metric's bound, unless every change run beats every base run;
"gain" when the checkout won at least nine tenths of all pairs run, the
medians differ by more than the base's IQR and the checkout failed no more
runs than the base; "worse" when the checkout's median is worse by more
than the bound.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def export(rev, dest):
    """Write the tree of `rev` into `dest`/tree through `git archive`."""
    tree = os.path.join(dest, "tree")
    os.makedirs(tree)
    archive = subprocess.Popen(["git", "-C", ROOT, "archive", rev],
                               stdout=subprocess.PIPE)
    subprocess.run(["tar", "-x", "-C", tree], stdin=archive.stdout, check=True)
    archive.stdout.close()
    if archive.wait() != 0:
        raise SystemExit(f"git archive {rev} failed")
    return tree


def run_once(tree, workload, seed, seconds):
    """One untraced run; returns its result line, or None on failure."""
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    p = subprocess.run(cmd, cwd=tree, capture_output=True, text=True)
    lines = [l for l in p.stdout.splitlines() if l.startswith("{")]
    if p.returncode != 0 or len(lines) < 2:
        print(f"  run failed: {workload} seed {seed} in {tree} "
              f"(exit {p.returncode})", file=sys.stderr)
        print("\n".join(p.stderr.splitlines()[-20:]), file=sys.stderr)
        return None
    return json.loads(lines[-1])


def quartiles(xs):
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def summarize(spec, workload, pairs):
    """Per-metric verdicts over all pairs run.

    A run that failed, or printed no value for the metric, is a failed run
    of its side. Wins are counted over every pair run, so a failed change
    run is a pair the change did not win, and no gain is given when the
    change failed more runs than the base.
    """
    rows = []
    for m in spec["end_to_end"]:
        name, bound, higher = m["name"], m["bound"], m["better"] == "higher"

        def value(res):
            if res is None or name not in res["metrics"]:
                return None
            return res["metrics"][name]["value"]
        vals = [(value(a), value(b)) for a, b in pairs]
        base = [x for x, _ in vals if x is not None]
        change = [y for _, y in vals if y is not None]
        failed = (len(pairs) - len(base), len(pairs) - len(change))
        if not base or not change:
            rows.append({"workload": workload, "metric": name, "pairs": 0})
            continue
        bq, cq = quartiles(base), quartiles(change)

        def better(y, x):
            return y > x if higher else y < x

        def spread(q):
            return (q[2] - q[0]) / abs(q[1]) if q[1] else 0.0
        wins = sum(1 for x, y in vals
                   if x is not None and y is not None and better(y, x))
        every_run_better = (failed[1] == 0 and
                            all(better(y, x) for y in change for x in base))
        delta = cq[1] - bq[1]
        rel = delta / abs(bq[1]) if bq[1] else 0.0
        worse_by = -rel if higher else rel
        if max(spread(bq), spread(cq)) > bound and not every_run_better:
            verdict = "unresolved"
        elif wins >= 0.9 * len(pairs) and abs(delta) > bq[2] - bq[0] \
                and worse_by < 0 and failed[1] <= failed[0]:
            verdict = "gain"
        elif worse_by > bound:
            verdict = "worse"
        else:
            verdict = "within bound"
        rows.append({
            "workload": workload, "metric": name, "pairs": len(pairs),
            "base_median": bq[1], "change_median": cq[1],
            "base_spread": spread(bq), "change_spread": spread(cq),
            "change_rel": rel, "wins": wins, "failed": failed,
            "verdict": verdict})
    return rows


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("rev", help="base revision (anything git archive accepts)")
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--workloads", default=None,
                    help="comma-separated; default: every BENCHMARK.json workload")
    ap.add_argument("--first-seed", type=int, default=1)
    args = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    workloads = (args.workloads.split(",") if args.workloads
                 else [w["name"] for w in spec["workloads"]])
    seconds = spec["run_seconds"]
    tmp = tempfile.mkdtemp(prefix="perf_ab-")
    rows = []
    try:
        base_tree = export(args.rev, tmp)
        print(f"base {args.rev} -> {base_tree}; change = {ROOT}", file=sys.stderr)
        for w in workloads:
            pairs = []
            for i in range(args.pairs):
                seed = args.first_seed + i
                order = [("base", base_tree), ("change", ROOT)]
                if i % 2:
                    order.reverse()
                got = {side: run_once(tree, w, seed, seconds)
                       for side, tree in order}
                pairs.append((got["base"], got["change"]))
                print(f"  {w} pair {i + 1}/{args.pairs} (seed {seed}, "
                      f"{order[0][0]} first) done", file=sys.stderr)
            rows += summarize(spec, w, pairs)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)

    print(f"{'workload':<15} {'metric':<13} {'n':>2} {'base':>10} {'spread':>7} "
          f"{'change':>10} {'spread':>7} {'delta':>7} {'wins':>5} "
          f"{'failed':>6}  verdict")
    for r in rows:
        if not r["pairs"]:
            print(f"{r['workload']:<15} {r['metric']:<13}  0  "
                  f"no result on one side")
            continue
        print(f"{r['workload']:<15} {r['metric']:<13} {r['pairs']:>2} "
              f"{r['base_median']:>10.4g} {r['base_spread']:>7.3f} "
              f"{r['change_median']:>10.4g} {r['change_spread']:>7.3f} "
              f"{r['change_rel']:>+7.1%} {r['wins']:>5} "
              f"{r['failed'][0]:>2}/{r['failed'][1]:<3}  {r['verdict']}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
