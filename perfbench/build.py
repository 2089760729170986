"""Build file of the benchmark package.

Compiles the engine's sources (``src/main/scala``) together with the
benchmark's JVM side (``perfbench/src``) with the Scala compiler that ships
in the Spark distribution, against the Spark jars. The classes land in
``.bench_build/classes-<digest>``, keyed by a digest of every source file,
so a checkout builds once and re-uses the result.

Usage: python3 perfbench/build.py        (prints the classes directory)
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
BUILD = os.path.join(ROOT, ".bench_build")
SOURCE_DIRS = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src")]


class BuildError(Exception):
    pass


def spark_jars():
    """Classpath glob of the Spark jars: $SPARK_HOME/jars, or else the jar
    directory that build.sbt compiles the engine against (its
    ``unmanagedBase``), so the benchmark uses the program's own jars."""
    home = os.environ.get("SPARK_HOME")
    jars = os.path.join(home, "jars") if home else None
    if not jars:
        with open(os.path.join(ROOT, "build.sbt")) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        jars = m.group(1) if m else None
    if not jars or not os.path.isdir(jars):
        raise BuildError("no Spark jars: set SPARK_HOME to a Spark 4 distribution")
    return os.path.join(jars, "*")


def sources():
    files = []
    for d in SOURCE_DIRS:
        if not os.path.isdir(d):
            raise BuildError(f"source directory {os.path.relpath(d, ROOT)} is missing")
        files += glob.glob(os.path.join(d, "**", "*.scala"), recursive=True)
    if not files:
        raise BuildError("no Scala sources found")
    return sorted(files)


def classes_dir():
    """Returns the compiled classes directory, compiling if needed."""
    files = sources()
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    out = os.path.join(BUILD, "classes-" + h.hexdigest()[:16])
    if os.path.exists(os.path.join(out, ".done")):
        return out
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(BUILD, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(files) + "\n")
    jars = spark_jars()
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", jars, "scala.tools.nsc.Main",
           "-nowarn", "-d", tmp, "-classpath", jars, "@" + argfile]
    res = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if res.returncode != 0:
        raise BuildError("scalac failed:\n" + res.stdout[-4000:])
    open(os.path.join(tmp, ".done"), "w").close()
    for stale in glob.glob(os.path.join(BUILD, "classes-*")):
        if stale != tmp:
            shutil.rmtree(stale, ignore_errors=True)
    os.replace(tmp, out)
    return out


if __name__ == "__main__":
    try:
        print(classes_dir())
    except BuildError as e:
        print(f"build failed: {e}", file=sys.stderr)
        sys.exit(1)
