"""Builds the library (src/main/scala) together with the benchmark's own
Scala sources (perfbench/scala) into .bench_build/classes with scalac.

The dependency jars are the ones the repository's build.sbt names as its
`unmanagedBase`; they also hold the Scala compiler. A rebuild happens
only when a source file changed. Run from the root of a checkout:

    python3 perfbench/build.py
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

BUILD = ".bench_build"
SOURCES = ["src/main/scala", "perfbench/scala"]
CLASSES = os.path.join(BUILD, "classes")
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io",
             "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def java(tmp):
    """The JVM command line the benchmark starts with. The heap is fixed
    at its maximum: a growing heap adds a GC warm-up that makes early
    passes slower than later ones."""
    return (["java", "-Xms3g", "-Xmx3g", "-XX:-UsePerfData", "-Djava.io.tmpdir=" + tmp]
            + ["--add-opens=%s=ALL-UNNAMED" % m for m in ADD_OPENS]
            + ["-cp", os.pathsep.join([CLASSES] + jars())])


def jars():
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open("build.sbt").read())
    if not m:
        sys.exit("build.sbt names no unmanagedBase")
    found = sorted(glob.glob(os.path.join(m.group(1), "*.jar")))
    if not found:
        sys.exit("no jars under %s" % m.group(1))
    return found


def sources():
    files = []
    for root in SOURCES:
        for dirpath, _, names in os.walk(root):
            files += [os.path.join(dirpath, n) for n in names if n.endswith(".scala")]
    return sorted(files)


def compile_classes(cp, srcs):
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.makedirs(CLASSES)
    with open(os.path.join(BUILD, "sources.txt"), "w") as f:
        f.write("\n".join(srcs) + "\n")
    with open(os.path.join(BUILD, "compile.log"), "w") as log:
        rc = subprocess.call(
            ["java", "-Xmx3g", "-Xss8m", "-XX:-UsePerfData", "-cp", os.pathsep.join(cp),
             "scala.tools.nsc.Main", "-nowarn", "-d", CLASSES,
             "-classpath", os.pathsep.join(cp), "@" + os.path.join(BUILD, "sources.txt")],
            stdout=log, stderr=subprocess.STDOUT)
    if rc != 0:
        sys.stderr.write(open(os.path.join(BUILD, "compile.log")).read()[-4000:])
        sys.exit("scalac failed (%d)" % rc)


def build():
    """Compiles if a source changed."""
    cp = jars()
    srcs = sources()
    stamp = hashlib.sha256()
    for f in srcs + ["build.sbt"]:
        stamp.update(f.encode() + b"\0" + open(f, "rb").read())
    stamp = stamp.hexdigest()
    stamp_file = os.path.join(BUILD, "stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return
    if os.path.exists(stamp_file):
        os.remove(stamp_file)
    os.makedirs(BUILD, exist_ok=True)
    compile_classes(cp, srcs)
    with open(stamp_file, "w") as f:
        f.write(stamp)


if __name__ == "__main__":
    build()
