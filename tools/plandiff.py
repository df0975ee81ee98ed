#!/usr/bin/env python3
"""Diff two `graft.PlanDump` output directories.

    python3 tools/plandiff.py <dirA> <dirB> [--context N]

Both directories hold one `<query>.txt` plan per query, as written by
`runMain graft.PlanDump <sfDir> <outDir> [prefix]`. Before comparing, each
file is normalized so that numbers a fresh JVM assigns differently do not
show as differences:

  - expression ids (`event_id#59L`, `r#65`) and exchange ids (`plan_id=113`)
    are renumbered in order of first appearance within the file, so the
    wiring between operators is still compared;
  - lambda variable names (`x_12`, `y_3`) are renumbered the same way;
  - object hash codes (`SomeClass@1b2c3d4e`) become `@H`.

Prints a unified diff for every plan that differs and a line for every plan
present on one side only, then a summary line. Exits 0 when every plan is
the same after normalization, 1 otherwise.
"""
import argparse
import difflib
import os
import re
import sys

HASH = re.compile(r"@[0-9a-f]{5,}\b")
LAMBDA = re.compile(r"lambda ([a-z]+)_\d+")


def renumber(text, pat, fmt):
    """Replace each distinct match of `pat` by `fmt(match, n)`, n counting
    distinct matches from 1 in order of first appearance."""
    seen = {}
    return pat.sub(lambda m: fmt(m, seen.setdefault(m.group(0), len(seen) + 1)), text)


def normalize(text):
    text = HASH.sub("@H", text)
    text = renumber(text, re.compile(r"#\d+"), lambda m, n: f"#{n}")
    text = renumber(text, re.compile(r"plan_id=\d+"), lambda m, n: f"plan_id={n}")
    return renumber(text, LAMBDA, lambda m, n: f"lambda {m.group(1)}_{n}")


def plans(d):
    return {f for f in os.listdir(d) if f.endswith(".txt")}


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("a")
    ap.add_argument("b")
    ap.add_argument("--context", type=int, default=2, help="diff context lines (default 2)")
    args = ap.parse_args()

    a, b = plans(args.a), plans(args.b)
    differ = []
    for name in sorted(a | b):
        if name not in b or name not in a:
            print(f"only in {args.a if name in a else args.b}: {name}")
            differ.append(name)
            continue
        with open(os.path.join(args.a, name)) as f:
            ta = normalize(f.read()).splitlines()
        with open(os.path.join(args.b, name)) as f:
            tb = normalize(f.read()).splitlines()
        if ta != tb:
            differ.append(name)
            sys.stdout.writelines(l + "\n" for l in difflib.unified_diff(
                ta, tb, f"{args.a}/{name}", f"{args.b}/{name}", n=args.context, lineterm=""))
    print(f"[plandiff] {len(a | b)} plans, {len(differ)} differ"
          + (": " + ", ".join(differ) if differ else ""))
    sys.exit(1 if differ else 0)


if __name__ == "__main__":
    main()
