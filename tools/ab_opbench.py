#!/usr/bin/env python3
"""A/B the JSONata operator benchmark between two checkouts.

    python3 tools/ab_opbench.py <parent-dir> <change-dir> --workload smt_records --pairs 10

Runs `opbench/run.py` in each checkout, in pairs that alternate which side
runs first, with one seed per pair (both sides get the same seed). Prints
every run, then for each metric each side's median and quartiles, the
change/parent ratio of the medians, and the change's wins over the pairs.
A metric is marked GAIN when the change wins at least nine tenths of the
pairs (ties count for neither side) and the medians differ by more than the
distance between the parent's quartiles; WORSE when the change's median is
worse than the parent's by more than the benchmark's bound; UNRESOLVED when
it is not, but the parent's own quartile distance is wider than the bound
and some change run reads no better than some parent run; "within bound"
otherwise. Metric
directions and bounds come from the change's BENCHMARK.json. Nothing in
either checkout is edited; run.py builds into each checkout's own opbench
target and out directories.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys


def run_once(checkout, workload, seed, seconds, trace):
    cmd = [sys.executable, "opbench/run.py", "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", str(trace)]
    r = subprocess.run(cmd, cwd=checkout, stdin=subprocess.DEVNULL, capture_output=True, text=True)
    lines = [l for l in r.stdout.splitlines() if l.startswith("{")]
    if r.returncode != 0 or not lines:
        sys.stderr.write(r.stderr[-4000:])
        sys.exit(f"[ab] run failed in {checkout} (exit {r.returncode})")
    out = json.loads(lines[-1])
    return out["correct"], out["attempted"], out["failed"], {k: v["value"] for k, v in out["metrics"].items()}


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0]
    q = statistics.quantiles(xs, n=4, method="inclusive")
    return q[0], q[2]


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("parent")
    ap.add_argument("change")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seconds", type=int, help="run length (default: BENCHMARK.json run_seconds)")
    ap.add_argument("--seed", type=int, default=101, help="seed of the first pair; pair i uses seed + i")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    with open(os.path.join(args.change, "BENCHMARK.json")) as f:
        bench = json.load(f)
    seconds = args.seconds or bench["run_seconds"]
    better = {m["name"]: m["better"] for m in bench["end_to_end"] + bench.get("per_layer", [])}
    bound = {m["name"]: m["bound"] for m in bench["end_to_end"]}

    sides = {"parent": args.parent, "change": args.change}
    runs = {"parent": [], "change": []}
    print(f"# {args.workload}: {args.pairs} pairs, {seconds} s runs, trace {args.trace}, "
          f"seeds {args.seed}-{args.seed + args.pairs - 1}")
    for i in range(args.pairs):
        order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
        for side in order:
            correct, attempted, failed, metrics = run_once(
                sides[side], args.workload, args.seed + i, seconds, args.trace)
            runs[side].append(metrics)
            shown = {k: round(metrics[k], 4) for k in sorted(metrics) if k in bound or args.trace}
            print(f"pair {i} seed {args.seed + i} {side}: correct={correct} attempted={attempted} "
                  f"failed={failed} {json.dumps(shown)}", flush=True)

    names = [k for k in runs["parent"][0] if any(r[k] for r in runs["parent"] + runs["change"])]
    print()
    print(f"{'metric':40} {'parent median [q1, q3]':>36} {'change median [q1, q3]':>36} "
          f"{'ratio':>6} {'wins':>6}  verdict")
    for k in names:
        p = [r[k] for r in runs["parent"]]
        c = [r[k] for r in runs["change"]]
        sign = 1 if better.get(k, "lower") == "lower" else -1
        wins = sum(1 for a, b in zip(p, c) if sign * (b - a) < 0)
        pm, cm = statistics.median(p), statistics.median(c)
        (p1, p3), (c1, c3) = quartiles(p), quartiles(c)
        ratio = cm / pm if pm else float("nan")
        verdict = ""
        if wins >= 0.9 * len(p) and sign * (pm - cm) > p3 - p1:
            verdict = "GAIN"
        elif k in bound:
            every_run_better = all(sign * (b - a) < 0 for a in p for b in c)
            if sign * (cm - pm) > bound[k] * abs(pm):
                verdict = f"WORSE beyond bound {bound[k]}"
            elif p3 - p1 > bound[k] * abs(pm) and not every_run_better:
                verdict = f"UNRESOLVED: parent spread {(p3 - p1) / abs(pm):.2f} > bound {bound[k]}"
            else:
                verdict = "within bound"
        print(f"{k:40} {pm:>14.4g} [{p1:>9.4g}, {p3:>9.4g}] {cm:>14.4g} [{c1:>9.4g}, {c3:>9.4g}] "
              f"{ratio:>6.3f} {wins:>3}/{len(p):<2}  {verdict}")


if __name__ == "__main__":
    main()
