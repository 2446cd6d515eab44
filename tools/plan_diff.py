#!/usr/bin/env python3
"""Compare the physical plans of two SpotBench `explain:` runs.

Usage:
    python3 tools/plan_diff.py <before.txt> <after.txt> [query_name...]

Each input is the stdout of one run such as

    SPARK_GRAFT_SF_DIR=<sf dir> sbt -batch 'runMain graft.SpotBench explain:<q>'

which prints every plan between `===== <q> =====` and `===== end <q> =====`.
A block that holds a `SPOT-FAILED` line, or that the next block or the end
of the file cuts off before its end marker, reads `<q>: failed`. Spark log
lines (`yy/MM/dd HH:mm:ss LEVEL ...`) inside a block are dropped. Before
comparing, the script rewrites what differs between two runs of the
same plan: expression ids (`#123`), plan ids (`plan_id=7`), RDD ids and
call sites (`MapPartitionsRDD[12] at map at File.scala:345`), JVM lambda
names, per-JVM scratch directories and written part-file names. It prints
`<q>: same` or `<q>: DIFF` followed by a unified diff for each query (the
named ones, or all found in either file), and `<q>: missing` when only one
side has it. Exit status is 1 when any
query differs, fails or is missing.
"""
import difflib
import re
import sys

BLOCK = re.compile(r"^===== (\S+) =====$")
LOG = re.compile(r"^(\[\w+\] )?\d{2}/\d{2}/\d{2} \d{2}:\d{2}:\d{2} [A-Z]+ ")
FAILED = None  # the value of a query whose explain failed or was cut off

NORMALIZE = [
    (re.compile(r"#\d+L?"), "#N"),
    (re.compile(r"plan_id=\d+"), "plan_id=N"),
    (re.compile(r"\b(\w*RDD)\[\d+\]"), r"\1[N]"),
    (re.compile(r"\b(\w+\.scala):\d+"), r"\1:N"),
    (re.compile(r"\$Lambda\$\d+/0x[0-9a-f]+@[0-9a-f]+"), "$Lambda$N"),
    (re.compile(r"graft-scratch-\d+"), "graft-scratch-N"),
    (re.compile(r"part-\d{5}-[0-9a-f-]{36}"), "part-N"),
    (re.compile(r"(graft-[\w-]+?)-?\d{6,}"), r"\1-N"),
]


def plans(path):
    """{query: [normalized plan lines], or FAILED} from one SpotBench output."""
    out, name, lines = {}, None, []
    with open(path, errors="replace") as f:
        for raw in f:
            line = raw.rstrip("\n")
            m = BLOCK.match(line)
            if name is not None and line == f"===== end {name} =====":
                out[name] = lines
                name = None
            elif m and m.group(1) != "end":
                if name is not None:
                    out[name] = FAILED
                name, lines = m.group(1), []
            elif name is None or LOG.match(line):
                continue
            elif line.startswith("SPOT-FAILED "):
                lines = FAILED
            elif lines is not FAILED:
                for pat, rep in NORMALIZE:
                    line = pat.sub(rep, line)
                lines.append(line)
    if name is not None:
        out[name] = FAILED
    return out


def main(argv):
    if len(argv) < 3:
        print(__doc__, file=sys.stderr)
        return 2
    before, after = plans(argv[1]), plans(argv[2])
    names = argv[3:] or sorted(set(before) | set(after))
    bad = 0
    for q in names:
        if q not in before or q not in after:
            print(f"{q}: missing")
            bad += 1
        elif before[q] is FAILED or after[q] is FAILED:
            print(f"{q}: failed")
            bad += 1
        elif before[q] == after[q]:
            print(f"{q}: same")
        else:
            print(f"{q}: DIFF")
            sys.stdout.writelines(
                l + "\n" for l in difflib.unified_diff(
                    before[q], after[q], argv[1], argv[2], lineterm=""))
            bad += 1
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
