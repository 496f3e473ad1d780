"""Build file of the benchmark: compiles the program's Scala sources
(src/main/scala of the repository) together with the benchmark's own
sources (perfbench/src) into perfbench/target/classes.

    python3 perfbench/build.py

The Scala compiler and Spark come from the Spark distribution's jar
directory: $SPARK_JARS, else the `unmanagedBase` the project's build.sbt
declares. A rebuild happens only when a source file changed.
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
TARGET = BENCH / "target"
CLASSES = TARGET / "classes"
STAMP = TARGET / "sources.sha256"


class BuildError(Exception):
    pass


def sources():
    program = sorted((ROOT / "src" / "main" / "scala").rglob("*.scala"))
    if not program:
        raise BuildError(f"no program sources under {ROOT / 'src' / 'main' / 'scala'}")
    return program + sorted((BENCH / "src").rglob("*.scala"))


def digest(files):
    h = hashlib.sha256()
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def spark_jars():
    if os.environ.get("SPARK_JARS"):
        return Path(os.environ["SPARK_JARS"])
    sbt = ROOT / "build.sbt"
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt.read_text()) if sbt.is_file() else None
    if not m:
        raise BuildError("no Spark jar directory: set SPARK_JARS")
    return Path(m.group(1))


def classpath():
    jars = spark_jars()
    if not jars.is_dir():
        raise BuildError(f"Spark jar directory {jars} not found")
    return f"{jars}/*"


def build():
    """Returns (classes dir, source digest), compiling when needed."""
    files = sources()
    sha = digest(files)
    if CLASSES.is_dir() and STAMP.is_file() and STAMP.read_text() == sha:
        return CLASSES, sha
    shutil.rmtree(CLASSES, ignore_errors=True)
    CLASSES.mkdir(parents=True)
    argfile = TARGET / "scalac.args"
    argfile.write_text("\n".join(str(f) for f in files) + "\n")
    cp = classpath()
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main", "-nowarn",
           "-d", str(CLASSES), "-classpath", cp, f"@{argfile}"]
    res = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if res.returncode != 0:
        shutil.rmtree(CLASSES, ignore_errors=True)
        raise BuildError("scalac failed:\n" + res.stdout[-4000:])
    STAMP.write_text(sha)
    return CLASSES, sha


if __name__ == "__main__":
    try:
        out, sha = build()
    except BuildError as e:
        print(f"build failed: {e}", file=sys.stderr)
        sys.exit(2)
    print(f"built {out} (sources {sha[:12]})")
