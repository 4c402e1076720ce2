"""Build file of the benchmark package.

Compiles the program's sources (src/main/scala of the checkout) together with
the benchmark's own sources (perfbench/src) with the Scala compiler that ships
in Spark's jars directory, into .bench_build/perfbench/classes. The build is
skipped when a stamp over every source file's path and content still matches.

    python3 perfbench/build.py      # build, print the classpath
"""
import hashlib
import os
import subprocess
import sys
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
OUT = ROOT / ".bench_build" / "perfbench"
CLASSES = OUT / "classes"
PROGRAM_SRC = ROOT / "src" / "main" / "scala"
PROGRAM_RES = ROOT / "src" / "main" / "resources"
BENCH_SRC = BENCH / "src"


class BuildError(Exception):
    pass


def spark_jars():
    """Jars of $SPARK_HOME, else of the first Spark install whose bin/ on PATH
    holds spark-submit and whose jars/ holds a Scala compiler."""
    homes = [Path(os.environ["SPARK_HOME"])] if os.environ.get("SPARK_HOME") else []
    homes += [Path(d).parent for d in os.environ.get("PATH", "").split(os.pathsep)
              if d and (Path(d) / "spark-submit").exists()]
    for home in homes:
        jars = sorted((home / "jars").glob("*.jar"))
        if any(j.name.startswith("scala-compiler-") for j in jars):
            return jars
    raise BuildError("no Spark install with a Scala compiler in its jars/ (set SPARK_HOME)")


def sources():
    if not PROGRAM_SRC.is_dir():
        raise BuildError(f"program sources not found at {PROGRAM_SRC}")
    srcs = sorted(PROGRAM_SRC.rglob("*.scala")) + sorted(BENCH_SRC.rglob("*.scala"))
    if not srcs:
        raise BuildError("no Scala sources to build")
    return srcs


def stamp(srcs):
    h = hashlib.sha256()
    for p in srcs:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def build(log=sys.stderr):
    """Compile if stale; return (classpath entries, source stamp)."""
    jars = spark_jars()
    srcs = sources()
    digest = stamp(srcs)
    stamp_file = OUT / "stamp"
    cp = [str(CLASSES), str(PROGRAM_RES)] + [str(j) for j in jars]
    if stamp_file.exists() and stamp_file.read_text() == digest:
        return cp, digest
    print(f"[perfbench] compiling {len(srcs)} Scala files", file=log, flush=True)
    if CLASSES.exists():
        for p in sorted(CLASSES.rglob("*"), reverse=True):
            p.rmdir() if p.is_dir() else p.unlink()
    CLASSES.mkdir(parents=True, exist_ok=True)
    jar_cp = os.pathsep.join(str(j) for j in jars)
    args_file = OUT / "scalac.args"
    args_file.write_text("\n".join(str(s) for s in srcs) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", jar_cp, "scala.tools.nsc.Main",
           "-nowarn", "-d", str(CLASSES), "-classpath", jar_cp, f"@{args_file}"]
    r = subprocess.run(cmd, stdout=log, stderr=log)
    if r.returncode != 0:
        raise BuildError(f"scalac exited with {r.returncode}")
    stamp_file.write_text(digest)
    return cp, digest


if __name__ == "__main__":
    try:
        print(os.pathsep.join(build()[0]))
    except BuildError as e:
        print(f"[perfbench] build failed: {e}", file=sys.stderr)
        sys.exit(2)
