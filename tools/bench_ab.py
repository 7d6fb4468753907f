#!/usr/bin/env python3
"""Alternating A/B runs of the repo benchmark on two checkouts.

    python3 tools/bench_ab.py PARENT_ROOT CHANGE_ROOT --workload corpus_pipeline \
        --pairs 10 --seed 11 [--seconds 12] [--trace 0] [--out runs.json]

Pair i runs `perfbench/run.py --seed <seed + i>` once in each checkout root,
parent first on even pairs and change first on odd ones (ABBA order), so a
slow drift of the host lands on both sides alike. For every metric of the
result lines it prints the per-run values, both medians, the change/parent
ratio of the medians, the number of pairs in which the change was better
(by the metric's `better` direction in BENCHMARK.json) and the parent's
interquartile range; then the `correct`/`failed` tally of each side. A
failed run (no result line) is reported and counted, never dropped.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

# the metrics the progress line shows for each run
BRIEF = ("setup_s", "wall_s", "op_p50_s", "op_p90_s", "exec.jobs", "dash.build_s", "dash.query_jobs")


def quartiles(xs):
    """(q1, median, q3) by linear interpolation; xs non-empty."""
    s = sorted(xs)

    def q(p):
        k = (len(s) - 1) * p
        lo = int(k)
        hi = min(lo + 1, len(s) - 1)
        return s[lo] + (s[hi] - s[lo]) * (k - lo)
    return q(0.25), q(0.5), q(0.75)


def run_once(root, args, seed):
    """One benchmark run in `root`: the parsed result line, or None."""
    cmd = [sys.executable, "perfbench/run.py", "--workload", args.workload, "--seed", str(seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace)]
    p = subprocess.run(cmd, cwd=root, capture_output=True, text=True)
    lines = [l for l in p.stdout.splitlines() if l.startswith("{")]
    if p.returncode != 0 or not lines:
        sys.stderr.write(f"bench_ab: {root} seed {seed} exited {p.returncode}: {p.stderr[-600:]}\n")
        return None
    return json.loads(lines[-1])


def directions(root):
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: m["better"] for m in spec["end_to_end"] + spec["per_layer"]}


def report(runs, better):
    sides = ("parent", "change")
    ok = {s: [r for r in runs[s] if r is not None] for s in sides}
    names = sorted({k for s in sides for r in ok[s] for k in r["metrics"]})
    for name in names:
        vals = {s: [r["metrics"][name]["value"] if r and name in r["metrics"] else None
                    for r in runs[s]] for s in sides}
        print(f"{name}")
        for s in sides:
            print(f"  {s:6s} " + " ".join("   -   " if v is None else f"{v:.4g}" for v in vals[s]))
        got = {s: [v for v in vals[s] if v is not None] for s in sides}
        if not got["parent"] or not got["change"]:
            continue
        q1, pm, q3 = quartiles(got["parent"])
        cm = statistics.median(got["change"])
        ratio = cm / pm if pm else float("nan")
        pairs = [(a, b) for a, b in zip(vals["parent"], vals["change"]) if a is not None and b is not None]
        sign = 1 if better.get(name, "lower") == "lower" else -1
        wins = sum(1 for a, b in pairs if sign * (a - b) > 0)
        print(f"  median parent {pm:.4g} change {cm:.4g} ratio {ratio:.3f}; change better in "
              f"{wins}/{len(pairs)} pairs; |median diff| {abs(cm - pm):.4g} vs parent IQR {q3 - q1:.4g}")
    for s in sides:
        rs = runs[s]
        print(f"{s}: {len(rs)} runs, {len(ok[s])} with a result, "
              f"{sum(1 for r in ok[s] if r['correct'])} correct, "
              f"failed ops {sum(r['failed'] for r in ok[s])} of {sum(r['attempted'] for r in ok[s])}")


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("parent_root")
    ap.add_argument("change_root")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seed", type=int, default=11, help="seed of the first pair; pair i uses seed + i")
    ap.add_argument("--seconds", type=float, default=12)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--out", help="write every run's result line here as JSON")
    args = ap.parse_args()
    roots = {"parent": os.path.abspath(args.parent_root), "change": os.path.abspath(args.change_root)}
    runs = {"parent": [], "change": []}
    for i in range(args.pairs):
        seed = args.seed + i
        order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
        for side in order:
            r = run_once(roots[side], args, seed)
            runs[side].append(r)
            m = r["metrics"] if r else {}
            brief = " ".join(f"{k}={m[k]['value']:.4g}" for k in BRIEF if k in m)
            sys.stderr.write(f"bench_ab: pair {i + 1}/{args.pairs} seed {seed} {side}: "
                             f"{'no result' if r is None else brief}\n")
        if args.out:
            with open(args.out, "w") as f:
                json.dump({"args": vars(args), "runs": runs}, f, indent=1)
    report(runs, directions(roots["change"]))
    return 0


if __name__ == "__main__":
    sys.exit(main())
