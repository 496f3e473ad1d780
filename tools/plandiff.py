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
out in planning order.

A plan with a distinct-aggregate Expand (several count(DISTINCT ...) in one
aggregate) numbers its distinct groups (gid) in an order that depends on
what the JVM planned before it: the Expand projections, the grouping keys
and the aggregate functions that follow come out permuted. In such a plan
the gid literals are masked, and the items of every (...) and [...] list
are compared as a sorted list.

Prints each query whose masked plans differ (with a unified diff of the
masked plans under --diff), each query present on one side only, and a
summary line. Exits 1 when any plan differs or is missing, else 0.
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


GID_FILTER = re.compile(r"(gid#N = )\d+")
NODE = re.compile(r"^\(\d+\) (\w+)")
CLOSE = {"(": ")", "[": "]"}


def sort_lists(line):
    """line with the items of every (...) and [...] list sorted, innermost
    first; raises ValueError on unbalanced brackets."""
    def group(i, close):
        items, cur = [], []
        while i < len(line):
            c = line[i]
            if c in CLOSE:
                inner, i = group(i + 1, CLOSE[c])
                cur.append(c + inner + CLOSE[c])
                continue
            if c == close:
                items.append("".join(cur).strip())
                return ", ".join(sorted(items)), i + 1
            if c in ")]":
                raise ValueError(line)
            if c == "," and close:
                items.append("".join(cur).strip())
                cur = []
            else:
                cur.append(c)
            i += 1
        if close:
            raise ValueError(line)
        return "".join(cur), i
    return group(0, None)[0]


def items(text):
    """The items of a comma-separated list, split outside brackets."""
    out, cur, depth = [], [], 0
    for c in text:
        depth += (c in "([") - (c in ")]")
        if c == "," and depth == 0:
            out.append("".join(cur).strip())
            cur = []
        else:
            cur.append(c)
    return out + ["".join(cur).strip()]


def mask_expand_gid(line):
    """An Expand's `Arguments: [projections], [output]` line with the gid
    literal of every projection masked."""
    head, sep, body = line.partition("Arguments: ")
    groups = items(body)
    if not sep or len(groups) != 2:
        return line
    outs = items(groups[1][1:-1])
    gid = [i for i, o in enumerate(outs) if o.startswith("gid#")]
    projs = [items(p[1:-1]) for p in items(groups[0][1:-1])]
    if len(gid) != 1 or any(len(p) != len(outs) for p in projs):
        return line
    for p in projs:
        p[gid[0]] = "K"
    return head + sep + "[" + ", ".join("[" + ", ".join(p) + "]" for p in projs) + "], " + groups[1] + "\n"


def canonical_gids(text):
    """A plan with a distinct-aggregate Expand, with its gid order removed."""
    out, node = [], None
    for line in text.splitlines(keepends=True):
        m = NODE.match(line)
        if m:
            node = m.group(1)
        line = GID_FILTER.sub(r"\1K", line)
        if node == "Expand":
            line = mask_expand_gid(line)
        try:
            line = sort_lists(line)
        except ValueError:
            pass
        out.append(line)
    return "".join(out)


def mask(text):
    for pattern, repl in MASKS:
        text = pattern.sub(repl, text)
    if "gid#N" in text and "Expand" in text:
        text = canonical_gids(text)
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
