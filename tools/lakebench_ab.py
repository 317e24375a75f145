#!/usr/bin/env python3
"""Paired A/B of two checkouts on one lakebench workload.

    python3 tools/lakebench_ab.py --parent DIR --change DIR \
        --workload curation_load --seeds 751 752 753 [--seconds 20] \
        [--trace 0] [--raw out.jsonl]

For each seed it runs `python3 lakebench/run.py` once in each checkout,
alternating which side goes first, and then prints per metric: each
side's quartiles and median, the ratio change/parent of the medians,
the parent's IQR/median (its run-to-run spread) and how many seed
pairs the change won (direction from the change checkout's
BENCHMARK.json; lower is better when a metric is not listed there).
`clear` marks a metric whose medians differ by more than the parent's
IQR and that the change won, or lost, in at least nine tenths of the
pairs.

The last column applies the no-regression rule to every end-to-end
metric, with the `bound` and `better` the change checkout's
BENCHMARK.json gives it: `REGRESSED` when the change median is worse
than the parent median by more than the bound (as a fraction of the
parent median), `unresolved` when the parent's IQR/median exceeds the
bound and not every change run beats every parent run. The script
exits non-zero when any metric is REGRESSED.

Lake metadata records absolute file paths, so stored bytes depend on
the checkout path; checkouts whose absolute paths differ in length are
refused. Every run's correctness is printed; a run that fails or
reports failed ops stops the comparison.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys


def run(checkout, workload, seed, seconds, trace):
    cmd = [sys.executable, "lakebench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    out = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True)
    lines = [ln for ln in out.stdout.splitlines() if ln.strip()]
    if out.returncode != 0 or not lines:
        sys.exit(f"lakebench_ab: run failed in {checkout} (seed {seed}):\n"
                 f"{out.stderr.strip()[-2000:]}")
    result = json.loads(lines[-1])
    if not result.get("correct") or result.get("failed", 0) != 0:
        sys.exit(f"lakebench_ab: incorrect run in {checkout} (seed {seed}): {result}")
    return {k: v["value"] for k, v in result["metrics"].items()}


def benchmark_spec(checkout):
    """(better direction per metric, bound per end-to-end metric)."""
    try:
        with open(os.path.join(checkout, "BENCHMARK.json")) as f:
            spec = json.load(f)
    except (OSError, ValueError):
        return {}, {}
    better = {m["name"]: m.get("better", "lower")
              for m in spec.get("end_to_end", []) + spec.get("per_layer", [])}
    bounds = {m["name"]: m["bound"] for m in spec.get("end_to_end", [])
              if "bound" in m}
    return better, bounds


def verdict(p, c, lower, bound):
    """REGRESSED / unresolved / ok for one end-to-end metric."""
    pm, cm = statistics.median(p), statistics.median(c)
    if not pm:
        return "ok"
    worse = (cm - pm) / pm if lower else (pm - cm) / pm
    if worse > bound:
        return "REGRESSED"
    q1, q3 = quartiles(p)
    beats_all = max(c) < min(p) if lower else min(c) > max(p)
    if (q3 - q1) / pm > bound and not beats_all:
        return "unresolved"
    return "ok"


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0]
    q = statistics.quantiles(xs, n=4, method="inclusive")
    return q[0], q[2]


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--parent", required=True)
    ap.add_argument("--change", required=True)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, type=int, nargs="+")
    ap.add_argument("--seconds", type=float, default=20)
    ap.add_argument("--trace", choices=("0", "1"), default="0")
    ap.add_argument("--raw", help="append every run's metrics to this JSONL file")
    args = ap.parse_args()

    parent, change = os.path.abspath(args.parent), os.path.abspath(args.change)
    if len(parent) != len(change):
        sys.exit(f"lakebench_ab: checkout paths differ in length ({len(parent)} vs "
                 f"{len(change)} characters); lake metadata stores absolute paths, "
                 "so stored_mb_per_input_mb would differ for that reason alone")
    better, bounds = benchmark_spec(change)

    runs = {"parent": [], "change": []}
    for i, seed in enumerate(args.seeds):
        order = [("parent", parent), ("change", change)]
        if i % 2:
            order.reverse()
        for side, checkout in order:
            m = run(checkout, args.workload, seed, args.seconds, args.trace)
            runs[side].append(m)
            print(f"seed {seed} {side}: " + " ".join(
                f"{k}={v:.4g}" for k, v in sorted(m.items())), file=sys.stderr, flush=True)
            if args.raw:
                with open(args.raw, "a") as f:
                    f.write(json.dumps({"workload": args.workload, "seed": seed,
                                        "side": side, "metrics": m}) + "\n")

    n = len(args.seeds)
    names = [k for k in runs["change"][0] if all(k in r for r in runs["parent"] + runs["change"])]
    print(f"{args.workload}: {n} pairs, seeds {args.seeds[0]}..{args.seeds[-1]}")
    print(f"{'metric':<48} {'parent q1/med/q3':>30} {'change q1/med/q3':>30} "
          f"{'ratio':>7} {'p_iqr/med':>9} {'wins':>6}  {'clear':<5}  rule")
    regressed = []
    for k in names:
        p = [r[k] for r in runs["parent"]]
        c = [r[k] for r in runs["change"]]
        pm, cm = statistics.median(p), statistics.median(c)
        q1, q3 = quartiles(p)
        c1, c3 = quartiles(c)
        lower = better.get(k, "lower") == "lower"
        wins = sum((cv < pv) if lower else (cv > pv) for pv, cv in zip(p, c))
        losses = sum((cv > pv) if lower else (cv < pv) for pv, cv in zip(p, c))
        ratio = cm / pm if pm else float("nan")
        spread = (q3 - q1) / pm if pm else float("nan")
        clear = abs(cm - pm) > (q3 - q1) and max(wins, losses) >= 0.9 * n
        ps = f"{q1:.5g}/{pm:.5g}/{q3:.5g}"
        cs = f"{c1:.5g}/{cm:.5g}/{c3:.5g}"
        rule = verdict(p, c, lower, bounds[k]) if k in bounds else ""
        if rule == "REGRESSED":
            regressed.append(k)
        print(f"{k:<48} {ps:>30} {cs:>30} {ratio:>7.3f} {spread:>9.3f} "
              f"{wins:>3}/{n:<2}  {'yes' if clear else '':<5}  {rule}")
    if regressed:
        sys.exit(f"lakebench_ab: REGRESSED beyond bound: {', '.join(regressed)}")


if __name__ == "__main__":
    main()
