#!/usr/bin/env python3
"""Top methods by CPU samples and top allocation sites in a JFR recording.

    python3 tools/jfrtop.py <recording.jfr> [--under FRAME] [--depth K]

Reads `jdk.ExecutionSample` and `jdk.ObjectAllocationSample` events through
the JDK's `jfr print` (up to 256 frames a stack) and prints two tables of
the top 25 rows:

- self time: CPU samples by the method on top of the stack, with its share
  of the counted samples;
- allocation: sampled bytes by site (the top frame and its line, and the
  class allocated), with its share of the counted bytes. The sampled
  weights are what `jfr print` shows (four significant digits).

`--under FRAME` counts only events whose stack holds a frame whose
`package.Class.method` name contains FRAME (e.g. `JsonataExpr.evaluate`;
a Scala object's `$` may be left out, as in `CValues.formatDate`), and
prints how many samples and bytes that is of the whole recording.
`--depth K` keys each row by the top K frames (`callee < caller < ...`), to
see where a hot method is called from.

Record an unmodified program with, for example:

    JAVA_TOOL_OPTIONS="-XX:StartFlightRecording=filename=/tmp/run.jfr,settings=profile \\
      -XX:FlightRecorderOptions:stackdepth=256" python3 opbench/run.py --workload smt_records

A deep interpreter stack needs the larger stack depth: a stack that JFR
truncated can miss FRAME, and the tool reports how many were truncated.
"""
import argparse
import collections
import re
import signal
import subprocess
import sys

EVENTS = "jdk.ExecutionSample,jdk.ObjectAllocationSample"
TOP = 25  # rows per table
STACK_DEPTH = 256  # frames read per stack
UNITS = {"byte": 1, "bytes": 1, "B": 1, "kB": 1024, "KB": 1024, "MB": 1024 ** 2,
         "GB": 1024 ** 3, "TB": 1024 ** 4}
FRAME = re.compile(r"^\s+(\S.*?)\((.*?)\)(?: line: (\d+))?")


def events(path):
    """Yield (type, frames, weight, class, truncated) per sample; frames
    are [(method, line)] from the top of the stack down, and `truncated`
    marks a stack that JFR or `jfr print` cut short."""
    cmd = ["jfr", "print", "--events", EVENTS, "--stack-depth", str(STACK_DEPTH), path]
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True, errors="replace")
    kind, frames, weight, cls, in_stack, truncated = None, [], 0.0, "", False, False
    for line in proc.stdout:
        if kind is None:
            if line.startswith("jdk.ExecutionSample") or line.startswith("jdk.ObjectAllocationSample"):
                kind = line.split()[0]
                frames, weight, cls, in_stack, truncated = [], 0.0, "", False, False
            continue
        s = line.strip()
        if in_stack:
            if s == "]":
                in_stack = False
            elif s == "...":
                truncated = True
            else:
                m = FRAME.match(line)
                if m:
                    frames.append((m.group(1), m.group(3)))
        elif s.startswith("stackTrace = ["):
            in_stack = True
        elif s.startswith("weight = "):
            num, unit = s[len("weight = "):].split()
            weight = float(num) * UNITS.get(unit, 1)
        elif s.startswith("objectClass = "):
            cls = s[len("objectClass = "):].split(" (classLoader")[0]
        elif s == "}":
            yield kind, frames, weight, cls, truncated
            kind = None
    if proc.wait() != 0:
        sys.exit(f"jfr print failed on {path}")


def key(frames, depth, with_line):
    def name(f):
        return f"{f[0]}:{f[1]}" if with_line and f[1] else f[0]
    return " < ".join(name(f) for f in frames[:depth]) or "<no stack>"


def table(title, counter, total, fmt):
    print(f"\n{title}")
    for k, v in counter.most_common(TOP):
        print(f"{100.0 * v / total:6.1f}%  {fmt(v):>10}  {k}")


def human(b):
    for unit in ("B", "kB", "MB", "GB"):
        if b < 1024 or unit == "GB":
            return f"{b:.1f} {unit}"
        b /= 1024.0


def main():
    signal.signal(signal.SIGPIPE, signal.SIG_DFL)  # quiet under `| head`
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("recording")
    ap.add_argument("--under", help="count only stacks holding a frame that contains this text")
    ap.add_argument("--depth", type=int, default=1, help="frames per row key (1)")
    a = ap.parse_args()

    cpu, alloc = collections.Counter(), collections.Counter()
    n_cpu = n_cpu_all = 0
    b_alloc = b_alloc_all = 0.0
    truncated = 0
    for kind, frames, weight, cls, cut in events(a.recording):
        is_cpu = kind == "jdk.ExecutionSample"
        if is_cpu:
            n_cpu_all += 1
        else:
            b_alloc_all += weight
        if a.under and not any(a.under in f[0] or a.under in f[0].replace("$", "") for f in frames):
            truncated += cut
            continue
        if is_cpu:
            n_cpu += 1
            cpu[key(frames, a.depth, False)] += 1
        else:
            b_alloc += weight
            alloc[f"{key(frames, a.depth, True)} [{cls}]"] += weight

    scope = f"under {a.under}" if a.under else "in the recording"
    print(f"CPU samples {scope}: {n_cpu} of {n_cpu_all}"
          + (f" ({100.0 * n_cpu / n_cpu_all:.1f}%)" if n_cpu_all else ""))
    print(f"sampled allocation {scope}: {human(b_alloc)} of {human(b_alloc_all)}"
          + (f" ({100.0 * b_alloc / b_alloc_all:.1f}%)" if b_alloc_all else ""))
    if a.under and truncated:
        print(f"{truncated} truncated stacks did not show {a.under}: raise the recording's stackdepth")
    if n_cpu:
        table("self time (share of counted CPU samples, samples, method)", cpu, n_cpu, str)
    if b_alloc:
        table("allocation (share of counted sampled bytes, bytes, site [class])", alloc, b_alloc, human)


if __name__ == "__main__":
    main()
