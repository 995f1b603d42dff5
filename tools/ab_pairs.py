#!/usr/bin/env python3
"""Same-window A/B of two checkouts on one perfbench workload.

Runs `perfbench/run.py` in a parent checkout and a change checkout on
the same seeds, one run at a time, alternating which side goes first
in each pair (parent first on even pairs, change first on odd ones), so
drift in machine load falls on both sides alike. Then prints, for each
end-to-end metric of BENCHMARK.json, a markdown table row:

    metric | parent median | change median | change/parent |
    parent IQR/median | change better (pairs)

followed by the runs that were not `correct` and the failed-operation
counts of each side.

    python3 tools/ab_pairs.py --parent /path/to/parent --change . \\
        --workload delivery --seeds 4501-4510 [--seconds 10] [--out ab.json]

`--seeds` takes `A-B` (inclusive) or a comma list. `--out` keeps every
run's result JSON. Each checkout builds itself on its first run (about
two minutes). Never run two of these at once: the runs share the
machine's cores.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

RUN_TIMEOUT = 900


def seeds(spec):
    if "-" in spec:
        a, b = spec.split("-", 1)
        return list(range(int(a), int(b) + 1))
    return [int(s) for s in spec.split(",") if s]


def run(checkout, workload, seed, seconds):
    """One perfbench run; its result JSON, or None when it gave none."""
    cmd = [sys.executable, os.path.join("perfbench", "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    try:
        p = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True,
                           timeout=RUN_TIMEOUT)
    except subprocess.TimeoutExpired:
        print(f"[ab] {checkout} seed {seed}: timed out", file=sys.stderr)
        return None
    lines = [l for l in p.stdout.splitlines() if l.startswith("{")]
    if p.returncode != 0 or not lines:
        print(f"[ab] {checkout} seed {seed}: exit {p.returncode}\n{p.stderr[-2000:]}",
              file=sys.stderr)
        return None
    return json.loads(lines[-1])


def quartile_spread(vals):
    """(Q3 - Q1) / median, inclusive quartiles."""
    if len(vals) < 2:
        return float("nan")
    q1, med, q3 = statistics.quantiles(vals, n=4, method="inclusive")
    return (q3 - q1) / med if med else float("nan")


def fmt(v):
    if v != v:  # nan
        return "n/a"
    return f"{v:.4g}" if abs(v) < 1000 else f"{v:.0f}"


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--parent", required=True, help="parent checkout")
    ap.add_argument("--change", required=True, help="change checkout")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="A-B or a comma list")
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--out", help="write every run's result JSON here")
    args = ap.parse_args()
    sides = {"parent": os.path.abspath(args.parent), "change": os.path.abspath(args.change)}
    with open(os.path.join(sides["change"], "BENCHMARK.json")) as fh:
        metrics = json.load(fh)["end_to_end"]

    pairs = []
    for i, seed in enumerate(seeds(args.seeds)):
        order = ["parent", "change"] if i % 2 == 0 else ["change", "parent"]
        pair = {"seed": seed}
        for side in order:
            pair[side] = run(sides[side], args.workload, seed, args.seconds)
            r = pair[side]
            print(f"[ab] pair {i + 1} seed {seed} {side}: " + (
                "no result" if r is None else
                f"correct={r['correct']} failed={r['failed']}/{r['attempted']} " +
                " ".join(f"{k}={fmt(v['value'])}" for k, v in r["metrics"].items())),
                file=sys.stderr, flush=True)
        pairs.append(pair)
    if args.out:
        with open(args.out, "w") as fh:
            json.dump({"workload": args.workload, "sides": sides, "pairs": pairs}, fh, indent=1)

    both = [p for p in pairs if p["parent"] and p["change"]]
    print(f"{args.workload}: {len(both)} complete pairs of {len(pairs)}, "
          f"seeds {args.seeds}")
    print("| metric | parent median | change median | change/parent | "
          "parent IQR/median | change better |")
    print("|---|---|---|---|---|---|")
    for m in metrics:
        name, lower = m["name"], m["better"] == "lower"
        par = [p["parent"]["metrics"][name]["value"] for p in both]
        chg = [p["change"]["metrics"][name]["value"] for p in both]
        if not both:
            continue
        wins = sum((c < p) if lower else (c > p) for p, c in zip(par, chg))
        pm, cm = statistics.median(par), statistics.median(chg)
        ratio = cm / pm if pm else float("nan")
        print(f"| {name} | {fmt(pm)} | {fmt(cm)} | {ratio:.3f} | "
              f"{quartile_spread(par):.3f} | {wins}/{len(both)} |")
    for side in ("parent", "change"):
        runs = [p[side] for p in pairs if p[side]]
        bad = [p["seed"] for p in pairs if not p[side] or not p[side]["correct"]]
        failed = sum(r["failed"] for r in runs)
        attempted = sum(r["attempted"] for r in runs)
        print(f"{side}: failed {failed} of {attempted} operations; "
              f"runs without a correct result: {bad or 'none'}")


if __name__ == "__main__":
    main()
