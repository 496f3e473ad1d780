"""Seeded benchmark of the graft engine: ERD workloads and corpus curation.

    python3 perfbench/run.py --workload erd_serve|corpus_curate \
        --seed N --seconds S --trace 0|1

Run from the repository root. Builds the program from source on first use
(perfbench/build.py), runs one workload in one JVM, and prints the result
JSON as the last line of standard output. All files it writes stay under
perfbench/target and perfbench/work.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

WORKLOADS = ("erd_serve", "corpus_curate")
RUN_TIMEOUT_S = 170

# Spark on JDK 17 outside spark-submit needs these module openings.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def commit_id(sha):
    try:
        res = subprocess.run(["git", "rev-parse", "HEAD"], cwd=build.ROOT, text=True,
                             stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, timeout=10)
        if res.returncode == 0:
            return res.stdout.strip()
    except (OSError, subprocess.SubprocessError):
        pass
    return f"sources-sha256:{sha}"


def run(workload, seed, seconds, trace, smoke=False):
    """Runs one workload; returns (exit code, stdout lines)."""
    classes, sha = build.build()
    work = build.BENCH / "work"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    env = dict(os.environ, SPARK_LOCAL_DIRS=str(work / "spark-local"))
    cmd = ["java", "-Xms2g", "-Xmx2g", f"-Djava.io.tmpdir={work / 'tmp'}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", f"{classes}{os.pathsep}{build.classpath()}", "perfbench.Main",
            "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
            "--trace", str(trace), "--work", str(work), "--commit", commit_id(sha)]
    if smoke:
        cmd.append("--smoke")
    proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=subprocess.PIPE, text=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.communicate()
        print(f"{workload} did not finish within {RUN_TIMEOUT_S} s", file=sys.stderr)
        return 1, []
    return proc.returncode, out.splitlines()


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true", help="tiny inputs, one pass")
    a = ap.parse_args()
    try:
        code, lines = run(a.workload, a.seed, a.seconds, a.trace, a.smoke)
    except build.BuildError as e:
        print(f"build failed: {e}", file=sys.stderr)
        return 2
    results = [l for l in lines if l.startswith('{"correct"')]
    for line in lines:
        if line not in results:
            print(line)
    if code != 0 or len(results) != 1:
        print(f"{a.workload} exited with {code} and {len(results)} result lines", file=sys.stderr)
        return code or 1
    json.loads(results[0])
    print(results[0])
    return 0


if __name__ == "__main__":
    sys.exit(main())
