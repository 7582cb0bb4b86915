#!/usr/bin/env python3
"""Build file of the benchmark package.

Compiles the program (``src/main/scala``) and then the benchmark's own
sources (``perfbench/src``) with the Scala compiler that ships in the
Spark distribution's jar directory, into ``.bench_build/program`` and
``.bench_build/bench``. Each target is keyed by a hash of its sources
and rebuilt only when they change; a build goes to a temporary directory
that is renamed into place, so an interrupted build never leaves a half
target behind.

Run from the repository root: ``python3 perfbench/build.py``.
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".bench_build")


def spark_jars():
    """The Spark distribution's jar directory: ``$SPARK_HOME/jars``, else
    the ``unmanagedBase`` the sbt build declares."""
    if os.environ.get("SPARK_HOME"):
        jars = os.path.join(os.environ["SPARK_HOME"], "jars")
    else:
        with open(os.path.join(ROOT, "build.sbt")) as fh:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
        if not m:
            raise SystemExit("build: set SPARK_HOME (no unmanagedBase in build.sbt)")
        jars = m.group(1)
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        raise SystemExit(f"build: no Scala compiler jar under {jars}")
    return os.path.join(jars, "*")


def sources(src_dir):
    files = sorted(glob.glob(os.path.join(src_dir, "**", "*.scala"),
                             recursive=True))
    if not files:
        raise SystemExit(f"build: no Scala sources under {src_dir}")
    return files


def digest(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def compile_target(name, src_dir, classpath):
    files = sources(src_dir)
    stamp = digest(files)
    target = os.path.join(OUT, name)
    stamp_file = target + ".stamp"
    if os.path.isdir(target) and os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            if fh.read().strip() == stamp:
                return target
    tmp = target + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = tmp + ".args"
    with open(argfile, "w") as fh:
        fh.write("\n".join(files) + "\n")
    cp = os.pathsep.join(classpath + [spark_jars()])
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", spark_jars(),
           "scala.tools.nsc.Main", "-nowarn", "-d", tmp, "-classpath", cp,
           "@" + argfile]
    print(f"build: compiling {len(files)} files of {name}", file=sys.stderr)
    try:
        subprocess.run(cmd, check=True, stdout=sys.stderr)
    finally:
        os.remove(argfile)
    shutil.rmtree(target, ignore_errors=True)
    os.replace(tmp, target)
    with open(stamp_file, "w") as fh:
        fh.write(stamp + "\n")
    return target


def build():
    """Return the class directories the benchmark runs with."""
    os.makedirs(OUT, exist_ok=True)
    program = compile_target("program",
                             os.path.join(ROOT, "src", "main", "scala"), [])
    bench = compile_target("bench", os.path.join(HERE, "src"), [program])
    return [bench, program]


if __name__ == "__main__":
    build()
