#!/usr/bin/env python3
"""Seed-paired A/B comparison of two checkouts on one perfbench workload.

    python3 tools/perfbench_ab.py <parentDir> <changeDir> --workload llm-pipeline --seeds 1-10

Each directory is a full checkout (for example `git archive <rev> | tar -x -C dir`).
For every seed the tool runs `python3 perfbench/run.py --workload W --seed S`
once in each directory, alternating which side runs first (the parent on
even pair indices), and reads the JSON result line each run prints last.
It only reads BENCHMARK.json and runs perfbench/run.py; it changes neither.

For each end-to-end metric of BENCHMARK.json it prints every pair, each
side's median and quartiles, the change's wins (ties count for neither),
each side's spread (Q3 - Q1) / median against the metric's bound, and a
verdict:

  gain         over at least 10 pairs, the change wins at least 9 in 10 and the
               medians differ, in the better direction, by more than the
               parent's Q3 - Q1;
  regression   the change's median is worse than the parent's by more than
               the bound;
  unresolved   either side's spread exceeds the bound, unless every change
               run reads better than every parent run;
  same         none of the above: no worse than the bound allows.

The first that holds is the verdict. The `unresolved=` flag printed beside
it is the spread test alone, so a noisy `regression` still shows it: more
pairs may move that median back inside the bound.

`--out FILE` also writes every run's result object as JSON lines.
"""

import argparse
import json
import os
import statistics
import subprocess
import sys


def parse_seeds(text):
    lo, _, hi = text.partition("-")
    lo, hi = int(lo), int(hi or lo)
    if hi < lo:
        sys.exit(f"bad --seeds {text!r}: want a-b with a <= b")
    return list(range(lo, hi + 1))


def run(checkout, workload, seed, seconds):
    """One perfbench run in `checkout`; its result object, or None on failure."""
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed)]
    if seconds:
        cmd += ["--seconds", str(seconds)]
    proc = subprocess.run(cmd, cwd=checkout, stdout=subprocess.PIPE,
                          stderr=subprocess.PIPE, text=True)
    lines = [l for l in proc.stdout.splitlines() if l.startswith("{")]
    if proc.returncode != 0 or not lines:
        tail = "\n".join(proc.stderr.splitlines()[-5:])
        print(f"  run failed: {checkout} seed {seed} exit {proc.returncode}\n{tail}",
              file=sys.stderr)
        return None
    return json.loads(lines[-1])


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, med, q3 = statistics.quantiles(xs, n=4)
    return q1, med, q3


def verdict(metric, parent, change):
    """(summary line fields, verdict) for one metric's paired values."""
    lower = metric["better"] == "lower"
    better = (lambda c, p: c < p) if lower else (lambda c, p: c > p)
    wins = sum(better(c, p) for p, c in zip(parent, change))
    pq1, pmed, pq3 = quartiles(parent)
    cq1, cmed, cq3 = quartiles(change)
    pspread = (pq3 - pq1) / pmed if pmed else float("inf")
    cspread = (cq3 - cq1) / cmed if cmed else float("inf")
    worse = ((cmed - pmed) if lower else (pmed - cmed)) / pmed if pmed else 0.0
    bound = metric["bound"]
    unresolved = max(pspread, cspread) > bound and not all(
        better(c, p) for c in change for p in parent)
    if len(parent) >= 10 and wins * 10 >= 9 * len(parent) and better(cmed, pmed) \
            and abs(cmed - pmed) > pq3 - pq1:
        v = "gain"
    elif worse > bound:
        v = "regression"
    elif unresolved:
        v = "unresolved"
    else:
        v = "same"
    return (pmed, pq1, pq3, cmed, cq1, cq3, wins, pspread, cspread, worse, unresolved), v


def main():
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("parent")
    ap.add_argument("change")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="inclusive range a-b")
    ap.add_argument("--seconds", type=int, default=None,
                    help="run length (default: BENCHMARK.json's run_seconds)")
    ap.add_argument("--out", default=None, help="write every run's result as JSON lines")
    args = ap.parse_args()
    with open(os.path.join(args.parent, "BENCHMARK.json")) as f:
        spec = json.load(f)
    with open(os.path.join(args.change, "BENCHMARK.json")) as f:
        if json.load(f) != spec:
            print("warning: the two checkouts' BENCHMARK.json differ; using the parent's",
                  file=sys.stderr)
    sides = {"parent": args.parent, "change": args.change}
    results = {"parent": [], "change": []}
    out = open(args.out, "a") if args.out else None
    for i, seed in enumerate(parse_seeds(args.seeds)):
        order = ["parent", "change"] if i % 2 == 0 else ["change", "parent"]
        pair = {}
        for side in order:
            pair[side] = run(sides[side], args.workload, seed, args.seconds)
            if out and pair[side] is not None:
                out.write(json.dumps({"side": side, "seed": seed, "first": order[0],
                                      "workload": args.workload, "result": pair[side]}) + "\n")
                out.flush()
        line = f"[ab] seed {seed} ({order[0]} first)"
        for side in ("parent", "change"):
            r = pair[side]
            line += f"  {side}: " + ("FAILED" if r is None else
                                     f"correct={r['correct']} failed={r['failed']}/{r['attempted']}")
        print(line, flush=True)
        if pair["parent"] is not None and pair["change"] is not None:
            for side in ("parent", "change"):
                results[side].append((seed, pair[side]))
    if out:
        out.close()
    n = len(results["parent"])
    print(f"\n[ab] workload={args.workload} complete pairs={n}")
    if n == 0:
        sys.exit(1)
    for side in ("parent", "change"):
        att = sum(r["attempted"] for _, r in results[side])
        fail = sum(r["failed"] for _, r in results[side])
        print(f"  {side} fail_frac {fail / att if att else 1.0:.4g} ({fail}/{att})")
    for m in spec["end_to_end"]:
        name = m["name"]
        parent = [r["metrics"][name]["value"] for _, r in results["parent"]]
        change = [r["metrics"][name]["value"] for _, r in results["change"]]
        (pmed, pq1, pq3, cmed, cq1, cq3, wins, pspread, cspread, worse, unresolved), v = \
            verdict(m, parent, change)
        print(f"\n  {name} ({m['unit']}, {m['better']} is better, bound {m['bound']})")
        for (seed, _), p, c in zip(results["parent"], parent, change):
            print(f"    seed {seed:>3}  parent {p:>12.6g}  change {c:>12.6g}")
        print(f"    parent median {pmed:.6g} (q1 {pq1:.6g}, q3 {pq3:.6g}) spread {pspread:.3f}")
        print(f"    change median {cmed:.6g} (q1 {cq1:.6g}, q3 {cq3:.6g}) spread {cspread:.3f}")
        print(f"    change wins {wins}/{n}; median change {-worse:+.1%} in the better "
              f"direction; verdict {v}; unresolved={unresolved}")


if __name__ == "__main__":
    main()
