#!/usr/bin/env python3
"""Build file of the benchmark package.

Compiles the engine sources (`src/main/scala`) together with the
benchmark sources (`perfbench/src`) with the Scala compiler that ships in
the Spark jar directory, into `.bench_build/classes-<hash>` at the root of
the checkout. The hash covers every source file and the jar list, so an
unchanged tree is compiled once and a changed one is compiled afresh.

    python3 perfbench/build.py          # compile, print the classpath
    python3 perfbench/build.py test     # compile, run the generator tests
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BENCH = os.path.join(ROOT, "perfbench")
BUILD_DIR = os.path.join(ROOT, ".bench_build")
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
SOURCE_DIRS = [
    ENGINE_SRC,
    os.path.join(BENCH, "src", "main", "scala"),
    os.path.join(BENCH, "src", "test", "scala"),
]

# The JDK 17 module openings Spark needs outside spark-submit; the same
# list the engine's own build passes to forked JVMs.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


class BuildError(Exception):
    pass


def jar_dir():
    """The Spark jar directory the engine's build.sbt declares
    (`unmanagedBase := file(...)`), else `$SPARK_HOME/jars`."""
    sbt = os.path.join(ROOT, "build.sbt")
    if os.path.isfile(sbt):
        with open(sbt) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        if m and os.path.isdir(m.group(1)):
            return m.group(1)
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    raise BuildError("no Spark jar directory: build.sbt names none and "
                     "SPARK_HOME is unset")


def jars():
    d = jar_dir()
    return sorted(os.path.join(d, j) for j in os.listdir(d)
                  if j.endswith(".jar"))


def scala_sources():
    if not os.path.isdir(os.path.join(ENGINE_SRC, "graft")):
        raise BuildError("engine sources not found under src/main/scala/graft")
    out = []
    for d in SOURCE_DIRS:
        for base, _, files in os.walk(d):
            out += [os.path.join(base, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def java_opts():
    return [a for p in ADD_OPENS for a in ("--add-opens", p + "=ALL-UNNAMED")]


def build():
    """Compile if needed; return the runtime classpath."""
    srcs = scala_sources()
    cp_jars = jars()
    h = hashlib.sha256()
    for path in srcs:
        h.update(os.path.relpath(path, ROOT).encode())
        with open(path, "rb") as f:
            h.update(f.read())
    for j in cp_jars:
        h.update(os.path.basename(j).encode())
    out = os.path.join(BUILD_DIR, "classes-" + h.hexdigest()[:16])
    classpath = os.pathsep.join([out] + cp_jars)
    if os.path.isfile(os.path.join(out, ".done")):
        return classpath
    os.makedirs(BUILD_DIR, exist_ok=True)
    for old in os.listdir(BUILD_DIR):
        if old.startswith("classes-"):
            shutil.rmtree(os.path.join(BUILD_DIR, old), ignore_errors=True)
    tmp = out + ".tmp"
    os.makedirs(tmp)
    compiler = [j for j in cp_jars if re.search(
        r"/scala-(compiler|library|reflect)-[0-9.]+\.jar$", j)]
    if len(compiler) != 3:
        raise BuildError("Scala compiler jars not found in " + jar_dir())
    argfile = os.path.join(BUILD_DIR, "scalac-args.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(["-d", tmp, "-nowarn", "-classpath",
                           os.pathsep.join(cp_jars)] + srcs) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData",
           "-cp", os.pathsep.join(compiler),
           "scala.tools.nsc.Main", "@" + argfile]
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        raise BuildError("scalac failed with code %d" % r.returncode)
    open(os.path.join(tmp, ".done"), "w").close()
    os.rename(tmp, out)
    return classpath


def main(argv):
    try:
        cp = build()
    except BuildError as e:
        print("build: " + str(e), file=sys.stderr)
        return 2
    if argv[1:] == ["test"]:
        cmd = ["java", "-Xmx1g", "-XX:-UsePerfData"] + java_opts() + [
            "-cp", cp, "perfbench.GeneratorsTest"]
        return subprocess.run(cmd).returncode
    print(cp)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
