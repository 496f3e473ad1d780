#!/usr/bin/env python3
"""Compare two graft.PlanDump output directories query by query.

    runMain graft.PlanDump all /root/testdata/sf0.01 BEFORE_DIR before
    runMain graft.PlanDump all /root/testdata/sf0.01 AFTER_DIR after
    python3 tools/plandiff.py BEFORE_DIR AFTER_DIR [--diff]

PlanDump writes <name>_<suffix>.txt per query; files pair up by <name>.
Ids that differ between two JVMs are masked before comparing: expression
ids (#123), exchange plan ids (plan_id=12), RDD ids (MapPartitionsRDD[45]),
source line numbers (Spread.scala:92) and the numbers of lambda variable
names (lambda x_9#123 reads lambda x_N#N), which a JVM-wide counter hands
out in planning order. Prints each query whose masked
plans differ (with a unified diff of the masked plans under --diff), each
query present on one side only, and a summary line. Exits 1 when any plan
differs or is missing, else 0.
"""
import argparse
import difflib
import os
import re
import sys

MASKS = [
    (re.compile(r"#\d+"), "#N"),
    (re.compile(r"plan_id=\d+"), "plan_id=N"),
    (re.compile(r"RDD\[\d+\]"), "RDD[N]"),
    (re.compile(r"(\w\.scala):\d+"), r"\1:N"),
    (re.compile(r"(lambda \w+?)_\d+\b"), r"\1_N"),
]


def mask(text):
    for pattern, repl in MASKS:
        text = pattern.sub(repl, text)
    return text


def plans(directory):
    """{query name: masked plan} for every <name>_<suffix>.txt in directory."""
    out = {}
    for f in sorted(os.listdir(directory)):
        if f.endswith(".txt") and "_" in f:
            with open(os.path.join(directory, f)) as fh:
                out[f[: f.rindex("_")]] = mask(fh.read())
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("before")
    ap.add_argument("after")
    ap.add_argument("--diff", action="store_true", help="print the masked diff of each differing plan")
    args = ap.parse_args()
    before, after = plans(args.before), plans(args.after)
    differ = [q for q in sorted(before.keys() & after.keys()) if before[q] != after[q]]
    only = sorted(before.keys() ^ after.keys())
    for q in differ:
        print(f"DIFFER {q}")
        if args.diff:
            sys.stdout.writelines(difflib.unified_diff(
                before[q].splitlines(keepends=True), after[q].splitlines(keepends=True),
                f"{args.before}/{q}", f"{args.after}/{q}", n=1))
    for q in only:
        print(f"ONLY {'BEFORE' if q in before else 'AFTER'} {q}")
    same = len(before.keys() & after.keys()) - len(differ)
    print(f"{same} identical, {len(differ)} differ, {len(only)} on one side only")
    return 1 if differ or only else 0


if __name__ == "__main__":
    sys.exit(main())
