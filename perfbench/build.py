#!/usr/bin/env python3
"""Build file of the benchmark.

Compiles the engine's own sources (src/main/scala) together with the
harness (perfbench/src/main/scala) into .bench_build/classes, using the
Scala compiler that ships among Spark's jars ($SPARK_HOME/jars), so a
checkout is built from source with no build tool and no network. The
compile is skipped while a stamp of every source file still matches.

Usage:
  python3 perfbench/build.py          build, print the classpath
  python3 perfbench/build.py --test   build, then compile and run the
                                      harness's tests (perfbench/src/test)
"""
import hashlib
import os
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
BENCH = ROOT / "perfbench"
OUT = ROOT / ".bench_build"
ENGINE_SRC = ROOT / "src" / "main" / "scala"


class BuildError(Exception):
    pass


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    jars = Path(home) / "jars" if home else None
    if not jars or not any(jars.glob("scala-compiler-*.jar")):
        raise BuildError("SPARK_HOME must name a Spark install whose jars "
                         "include the Scala compiler")
    return jars


def scala_files(*dirs):
    files = sorted(p for d in dirs for p in d.rglob("*.scala"))
    if not files:
        raise BuildError(f"no Scala sources under {', '.join(map(str, dirs))}")
    return files


def stamp(files):
    h = hashlib.sha256()
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode() + b"\0" + f.read_bytes())
    return h.hexdigest()


def compile_into(out, files, classpath):
    """Compile `files` into `out` unless its stamp shows they already are."""
    mark = out / ".stamp"
    key = stamp(files)
    if mark.exists() and mark.read_text() == key:
        return
    if out.exists():
        for p in sorted(out.rglob("*"), reverse=True):
            p.unlink() if p.is_file() else p.rmdir()
    out.mkdir(parents=True, exist_ok=True)
    jars = spark_jars()
    cmd = ["java", "-Xss8m", "-Xmx3g", "-cp", f"{jars}/*",
           "scala.tools.nsc.Main", "-nowarn", "-classpath", classpath,
           "-d", str(out)] + [str(f) for f in files]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True)
    if r.returncode != 0:
        raise BuildError("scalac failed:\n" + r.stdout[-4000:])
    mark.write_text(key)


def build():
    """Compile engine and harness; return the run classpath."""
    if not ENGINE_SRC.is_dir():
        raise BuildError(f"engine sources not found at {ENGINE_SRC}")
    jars = spark_jars()
    classes = OUT / "classes"
    compile_into(classes, scala_files(ENGINE_SRC, BENCH / "src" / "main" / "scala"),
                 f"{jars}/*")
    return f"{classes}:{jars}/*"


def main():
    try:
        cp = build()
        if "--test" in sys.argv[1:]:
            tests = OUT / "test-classes"
            compile_into(tests, scala_files(BENCH / "src" / "test" / "scala"), cp)
            sys.exit(subprocess.run(
                ["java", "-cp", f"{tests}:{cp}", "graftbench.SelfTest"]).returncode)
        print(cp)
    except BuildError as e:
        print(f"build failed: {e}", file=sys.stderr)
        sys.exit(2)


if __name__ == "__main__":
    main()
