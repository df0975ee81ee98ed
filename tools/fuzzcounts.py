#!/usr/bin/env python3
"""Compare FuzzDifferentialSpec compile counts between two test logs.

    python3 tools/fuzzcounts.py <parent-log> <change-log>

Each log is the output of an sbt test run that includes FuzzDifferentialSpec
(the tier-1 `testOnly *` run, or `testOnly graft.spark.FuzzDifferentialSpec`).
Every family in that suite reports how many of its seeded expressions
compiled, as a ScalaTest info line under the test's name:

    [info] - 400 seeded random expressions: ...
    [info]   + compiled: 371 (floor 330)

The tool pairs those lines by test name and prints one row per family:
`same`, `up` or `DOWN`, then the parent's and the change's counts and
floors. A family on one side only prints as `new` or `GONE`. Exits 1 if any
family's count fell or a family is gone, 0 otherwise.
"""
import re
import sys

SUITE = re.compile(r"^\[info\] (\w+):\s*$")
TEST = re.compile(r"^\[info\] - (.*?)(?: \*\*\* FAILED \*\*\*)?\s*$")
COUNT = re.compile(r"^\[info\]\s+\+ compiled: (\d+) \(floor (\d+)\)")


def counts(path):
    """{test name: (compiled, floor)} for FuzzDifferentialSpec in `path`."""
    out, suite, test = {}, None, None
    with open(path, errors="replace") as f:
        for line in f:
            line = line.rstrip("\n")
            m = SUITE.match(line)
            if m:
                suite, test = m.group(1), None
                continue
            if suite != "FuzzDifferentialSpec":
                continue
            m = TEST.match(line)
            if m:
                test = m.group(1)
                continue
            m = COUNT.match(line)
            if m and test is not None:
                out[test] = (int(m.group(1)), int(m.group(2)))
    return out


def main():
    if len(sys.argv) != 3:
        sys.exit("usage: " + __doc__.strip().splitlines()[2].strip())
    parent, change = counts(sys.argv[1]), counts(sys.argv[2])
    if not parent and not change:
        sys.exit("no FuzzDifferentialSpec compiled counts in either log")
    fell = False
    print("FuzzDifferentialSpec compiled counts: parent log vs change log")
    for name in list(parent) + [n for n in change if n not in parent]:
        p, c = parent.get(name), change.get(name)
        if p is None:
            status = "new"
        elif c is None:
            status, fell = "GONE", True
        elif c[0] < p[0]:
            status, fell = "DOWN", True
        else:
            status = "up" if c[0] > p[0] else "same"
        cell = lambda v: f"{v[0]} (floor {v[1]})" if v else "-"
        print(f"{status:<5} parent {cell(p):<16} change {cell(c):<16} {name}")
    sys.exit(1 if fell else 0)


if __name__ == "__main__":
    main()
