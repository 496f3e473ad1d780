#!/usr/bin/env python3
"""List the files that reference each given name, grouped by where they live.

    python3 tools/callers.py NAME [NAME ...]

For each NAME, prints the Scala, Java and Python files that use it as a
whole word, grouped as src/main, perfbench/src, tools and src/test, with
the line numbers of each use. A line that defines the name (def, val, var,
class, object, trait or type NAME) and a comment line (starting with //,
/*, * or #) do not count as a use. An overloaded name is one word here:
the listing cannot tell the overloads apart, so read the lines it names.

Run it before deleting an API: a name whose only uses are under src/test
has no caller in the program or the benchmark.
"""
import os
import re
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
GROUPS = ["src/main", "perfbench/src", "tools", "src/test"]
SUFFIXES = (".scala", ".java", ".py")
COMMENT = re.compile(r"^\s*(//|/\*|\*|#)")


def sources(group):
    for dirpath, dirnames, filenames in os.walk(os.path.join(ROOT, group)):
        dirnames.sort()
        for f in sorted(filenames):
            if f.endswith(SUFFIXES):
                yield os.path.join(dirpath, f)


def uses(path, name):
    word = re.compile(r"\b%s\b" % re.escape(name))
    definition = re.compile(
        r"\b(def|val|var|class|object|trait|type)\s+%s\b" % re.escape(name))
    with open(path, encoding="utf-8", errors="replace") as fh:
        return [i for i, line in enumerate(fh, 1)
                if word.search(line) and not definition.search(line)
                and not COMMENT.match(line)]


def main(argv):
    if not argv or argv[0] in ("-h", "--help"):
        print(__doc__.strip())
        return 0 if argv else 2
    for name in argv:
        print(name)
        for group in GROUPS:
            hits = [(os.path.relpath(p, ROOT), lines) for p in sources(group)
                    for lines in [uses(p, name)] if lines]
            listed = ", ".join("%s:%s" % (p, ",".join(map(str, ls))) for p, ls in hits)
            print("  %-14s %s" % (group, listed or "-"))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
