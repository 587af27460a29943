#!/usr/bin/env python3
"""Build file of the benchmark: compiles graft's sources (src/main/scala of
the checkout) together with the benchmark's own sources (perfbench/src) into
.bench_build/perfbench/classes, with the Scala compiler that ships in
Spark's jars directory.

    python3 perfbench/build.py        # from the root of a checkout

A stamp of every source file's path and content skips the compile when
nothing changed. Spark's jars are found through SPARK_HOME, else through the
`unmanagedBase` line of the checkout's build.sbt.
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".bench_build", "perfbench")
CLASSES = os.path.join(OUT, "classes")
COMPILE_TIMEOUT_S = 600


class BuildError(Exception):
    pass


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    sbt = os.path.join(ROOT, "build.sbt")
    if os.path.isfile(sbt):
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
        if m and os.path.isdir(m.group(1)):
            return m.group(1)
    raise BuildError("no Spark jars directory: set SPARK_HOME")


def sources():
    main = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(main):
        raise BuildError("no graft sources at src/main/scala of the checkout")
    files = sorted(glob.glob(os.path.join(main, "**", "*.scala"), recursive=True))
    files += sorted(glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True))
    if not any(f.startswith(main) for f in files):
        raise BuildError("src/main/scala holds no Scala sources")
    return files


def stamp(files, jars):
    h = hashlib.sha256()
    for name in sorted(os.listdir(jars)):
        h.update(name.encode())
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def jar(jars, prefix):
    found = sorted(glob.glob(os.path.join(jars, prefix + "-2.13.*.jar")))
    if not found:
        raise BuildError(f"no {prefix} jar in {jars}")
    return found[-1]


def build():
    """Compiles if needed; returns the runtime classpath."""
    jars = spark_jars()
    files = sources()
    want = stamp(files, jars)
    stamp_file = os.path.join(CLASSES, ".stamp")
    classpath = CLASSES + os.pathsep + os.path.join(jars, "*")
    if os.path.isfile(stamp_file) and open(stamp_file).read() == want:
        return classpath
    os.makedirs(OUT, exist_ok=True)
    tmp = tempfile.mkdtemp(prefix="classes-", dir=OUT)
    argfile = os.path.join(tmp, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files) + "\n")
    compiler = os.pathsep.join(jar(jars, p) for p in ("scala-compiler", "scala-library", "scala-reflect"))
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", compiler, "scala.tools.nsc.Main",
           "-nowarn", "-classpath", os.path.join(jars, "*"), "-d", tmp, "@" + argfile]
    try:
        r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
                           timeout=COMPILE_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        shutil.rmtree(tmp, ignore_errors=True)
        raise BuildError("compile timed out")
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise BuildError("compile failed:\n" + r.stdout[-4000:])
    os.remove(argfile)
    with open(os.path.join(tmp, ".stamp"), "w") as fh:
        fh.write(want)
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.rename(tmp, CLASSES)
    return classpath


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        print(f"build: {e}", file=sys.stderr)
        sys.exit(2)
