#!/usr/bin/env python3
"""Machine-checkable test-run artifact (the third certification pillar next
to CORRECTNESS_*.json and bench/summary_latest.json — a prose "N/N green"
claim is not evidence).

Usage:
    sbt -batch test 2>&1 | tee /tmp/sbt_test.log
    python3 tools/test_summary.py /tmp/sbt_test.log           # -> stdout
    python3 tools/test_summary.py /tmp/sbt_test.log --out bench/test_summary_latest.json

Parses ScalaTest's run-completed block from the sbt log and stamps
provenance (commit, timestamp) so the artifact is tied to the code it
certifies. Exit code 0 only if the log shows all tests passed.
"""
import argparse
import datetime
import json
import re
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("log", help="sbt test output log")
    ap.add_argument("--out", default=None)
    args = ap.parse_args()
    text = Path(args.log).read_text(errors="replace")

    def grab(rx, cast=int):
        m = re.search(rx, text)
        return cast(m.group(1)) if m else None

    total = grab(r"Total number of tests run:\s*(\d+)")
    suites = grab(r"Suites: completed (\d+)")
    aborted = grab(r"Suites: completed \d+, aborted (\d+)")
    succeeded = grab(r"Tests: succeeded (\d+)")
    failed = grab(r"Tests: succeeded \d+, failed (\d+)")
    canceled = grab(r"failed \d+, canceled (\d+)")
    ignored = grab(r"canceled \d+, ignored (\d+)")
    all_passed = "All tests passed." in text
    sbt_success = re.search(r"^\[success\]", text, re.M) is not None
    # Whole-stage-codegen fallback gate (round-9 lesson: six "Code grows
    # beyond 64 KB" fallbacks shipped unnoticed because nothing counted
    # them). Any occurrence means a fused stage ran INTERPRETED — a
    # correctness non-event but a 5-20x CPU tax on whatever loop fell
    # back, which at 100 TB is the bill. Gate at exactly zero.
    n_codegen_fallbacks = len(re.findall(r"grows beyond 64 KB", text))
    try:
        commit = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                                capture_output=True, text=True).stdout.strip()
    except OSError:
        commit = "unknown"
    # A run made before its change is committed tests sources that differ
    # from `commit` (staged files included); say so rather than certify it.
    try:
        sources_differ = subprocess.run(
            ["git", "diff", "--quiet", "HEAD", "--", "src", "build.sbt"],
            cwd=ROOT).returncode != 0
    except OSError:
        sources_differ = None
    out = {
        "tool": "tools/test_summary.py",
        "commit": commit,
        "sources_differ_from_commit": sources_differ,
        "timestamp": datetime.datetime.now(datetime.timezone.utc)
            .isoformat(timespec="seconds"),
        "suites_completed": suites,
        "suites_aborted": aborted,
        "tests_run": total,
        "tests_succeeded": succeeded,
        "tests_failed": failed,
        "tests_canceled": canceled,
        "tests_ignored": ignored,
        "all_passed": all_passed,
        "sbt_success": sbt_success,
        "n_codegen_fallbacks": n_codegen_fallbacks,
    }
    ok = (all_passed and sbt_success and total is not None
          and failed == 0 and aborted == 0 and n_codegen_fallbacks == 0)
    out["ok"] = ok
    body = json.dumps(out, indent=2) + "\n"
    if args.out:
        Path(args.out).write_text(body)
    sys.stdout.write(body)
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
