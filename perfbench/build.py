"""Compile the project's `src/main/scala` and the benchmark's `scala/`
sources into one class directory, with the Scala compiler and Spark jars
the project builds against: the `unmanagedBase` directory of build.sbt.

Usage: python3 perfbench/build.py   (from the repository root)

The build is skipped when a stamp of every source file's path and content
matches the last successful build.
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys

OUT = os.path.join(".perfbench", "build")
SOURCE_DIRS = [os.path.join("src", "main", "scala"), os.path.join("perfbench", "scala")]
RESOURCES = os.path.join("src", "main", "resources")


def sources():
    files = []
    for d in SOURCE_DIRS:
        for base, _, names in os.walk(d):
            files += [os.path.join(base, n) for n in names if n.endswith(".scala")]
    return sorted(files)


def stamp(files):
    h = hashlib.sha256()
    resources = [os.path.join(b, n) for b, _, ns in os.walk(RESOURCES) for n in ns]
    for f in files + resources + ["build.sbt"]:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def jars():
    """Class-path wildcard for the jar directory build.sbt compiles against."""
    with open("build.sbt") as fh:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
    if not m:
        raise RuntimeError("build.sbt names no unmanagedBase jar directory")
    return os.path.join(m.group(1), "*")


def classpath():
    """Class path for running the benchmark's JVM."""
    return os.pathsep.join([os.path.join(OUT, "classes"), RESOURCES, jars()])


def build(log=sys.stderr):
    files = sources()
    if not files:
        raise RuntimeError("no Scala sources under " + " or ".join(SOURCE_DIRS))
    want = stamp(files)
    stamp_file = os.path.join(OUT, "stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == want:
        return
    classes = os.path.join(OUT, "classes")
    shutil.rmtree(OUT, ignore_errors=True)
    os.makedirs(classes)
    print(f"[perfbench] compiling {len(files)} Scala files", file=log, flush=True)
    argfile = os.path.join(OUT, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files))
    cp = jars()
    subprocess.run(["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", cp, "scala.tools.nsc.Main",
                    "-nowarn", "-d", classes, "-classpath", cp, "@" + argfile],
                   check=True, stdout=log, stderr=log)
    with open(stamp_file, "w") as fh:
        fh.write(want)


if __name__ == "__main__":
    build()
